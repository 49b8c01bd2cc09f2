"""Inverted-index construction: tokenized term rows → segment-salted
posting blocks.

Design (SURVEY.md §2.2, §4.2; split build pass since round 6):

- term rows come from ONE mapInPandas pass (operators/ids.
  tokenize_terms_rows) over (doc_int, content): (doc_int, term, tf, dl
  [, pos_bytes]) — the only JVM↔Python crossing on the build path, and
  the only payload the exchange below ever carries (doc-stat markers are
  a separate shuffle-free JVM projection, plans/build._build_batch_once).

- ``encode_term_blocks``: ONE shuffle, keyed by (term_bucket, seg) where
  ``seg = doc_int >> seg_shift`` — segments are disjoint, ordered doc-ID
  ranges. This is the salted repartition-by-term of the north rule: a hot
  term ("def", "the") spreads over all segments, so no single task owns a
  hot term's full posting list. Because segments partition the doc-ID space
  in order, a term's global posting list is just its segment lists
  concatenated in seg order — the salt is removed by ordering, not by a
  second merge shuffle.

- Each (term, seg) group is delta+varbyte block-encoded (functions/codec.py)
  with block-max metadata; output rows are per-block → parquet min/max
  column stats give term-level and doc-range pruning for free.

- ``df(t)`` = sum of block n_docs per term — a cheap agg over block metadata
  (not over postings), persisted as term_stats.

Scale notes: shuffle volume is exactly the postings (irreducible); map-side
the tokenizer already emits (term, tf) aggregated per doc. segment_docs
bounds the biggest single (term, seg) group; shuffle_partitions spreads
(bucket, seg) cells across tasks.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import analysis, codec

BLOCKS_SCHEMA = (
    "term string, seg long, block_id int, n_docs int, doc_first long, "
    "doc_last long, max_tf int, min_dl int, doc_bytes binary, "
    "tf_bytes binary, dl_bytes binary, pos_bytes binary"
)
# (name, type) of each block column, in file order
BLOCK_FIELDS = [tuple(c.split()) for c in BLOCKS_SCHEMA.split(", ")]


DEFAULT_SEGMENT_DOCS = 4096


def seg_shift_for(n_docs: int, segment_docs: int = DEFAULT_SEGMENT_DOCS) -> int:
    """Right-shift turning a 64-bit hash doc_int into its segment id such
    that segments average ~segment_docs docs (hash ids are uniform)."""
    import math

    n_segs = max(1, round(max(n_docs, 1) / segment_docs))
    bits = max(0, math.ceil(math.log2(n_segs)))
    # clamp to [1, 63]: the JVM shifts modulo 64, so shift=64 would be a
    # no-op and give one segment per document
    return min(max(64 - bits, 1), 63)


def encode_term_blocks(
    rows: DataFrame,
    num_buckets: int = 64,
    seg_shift: int = 52,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Narrow successor of :func:`build_segments`'s block half: TERM rows
    only — (doc_int, term, tf, dl[, pos_bytes]) from
    ids.tokenize_terms_rows — through the ONE (term_bucket, seg)-keyed
    exchange and the per-(term, seg) delta+varbyte block encode. Doc-stat
    markers no longer ride this exchange (they are a JVM-only projection
    written separately, plans/build._build_batch_once), so the shuffle
    and its sort move exactly the posting payload — no per-term-row null
    metadata width. → BLOCKS_SCHEMA + term_bucket."""
    spark = rows.sparkSession
    n_shuffle = shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    tok = rows.withColumn(
        "seg", F.shiftright(F.col("doc_int"), seg_shift)
    ).withColumn(
        "term_bucket",
        F.pmod(F.abs(F.xxhash64("term")), F.lit(num_buckets)),
    )
    parted = tok.repartition(
        n_shuffle, "term_bucket", "seg"
    ).sortWithinPartitions("term", "seg", "doc_int")
    out_schema = f"{BLOCKS_SCHEMA}, term_bucket long"

    def encode_head(head: pd.DataFrame) -> pd.DataFrame:
        """Vectorized whole-batch block encoder: group boundaries from the
        sorted (term, seg) run-length structure, 128-doc blocks inside each
        group, and every block payload from one codec.encode_runs call —
        no per-group Python work, since most (term, seg) groups hold only
        a handful of postings."""
        import numpy as np

        n = len(head)
        term = head["term"].to_numpy(dtype=object)
        seg = head["seg"].to_numpy(dtype=np.int64)
        g_change = np.ones(n, dtype=bool)
        g_change[1:] = (term[1:] != term[:-1]) | (seg[1:] != seg[:-1])
        g_ids = np.cumsum(g_change) - 1
        g_starts = np.nonzero(g_change)[0]
        row_in_g = np.arange(n, dtype=np.int64) - g_starts[g_ids]
        b_starts = np.nonzero(g_change | (row_in_g % codec.BLOCK_SIZE == 0))[0]
        b_sizes = np.diff(np.append(b_starts, n))
        if "pos_bytes" in head.columns:
            pos = head["pos_bytes"].to_numpy(dtype=object)
            pos_col = pd.Series(
                [b"".join(pos[lo:lo + k]) for lo, k in zip(b_starts, b_sizes)],
                dtype="object",
            )
        else:
            pos_col = None
        return pd.DataFrame(
            {
                "term": term[b_starts],
                "seg": seg[b_starts],
                "block_id": (row_in_g[b_starts]
                             // codec.BLOCK_SIZE).astype(np.int32),
                **codec.encode_runs(
                    head["doc_int"].to_numpy(dtype=np.int64),
                    head["tf"].to_numpy(dtype=np.int64),
                    head["dl"].to_numpy(dtype=np.int64),
                    b_sizes,
                ),
                "pos_bytes": pos_col,
                "term_bucket": head["term_bucket"].to_numpy(
                    dtype=np.int64)[b_starts],
            }
        )

    def encode_stream(batches):
        import numpy as np

        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if pdf.empty:
                continue
            change = (
                pdf["term"].ne(pdf["term"].shift())
                | pdf["seg"].ne(pdf["seg"].shift())
            ).to_numpy()
            change[0] = True
            last_start = np.nonzero(change)[0][-1]
            head = pdf.iloc[:last_start]
            carry = pdf.iloc[last_start:].copy()
            if len(head):
                yield encode_head(head.reset_index(drop=True))
        if carry is not None and len(carry):
            yield encode_head(carry.reset_index(drop=True))

    return parted.mapInPandas(encode_stream, schema=out_schema)


def term_stats(blocks: DataFrame) -> DataFrame:
    """Per-term document frequency from block metadata (cheap). Carries the
    term's storage bucket so query planning never re-hashes terms JVM-side —
    the df lookup read doubles as the partition-pruning map."""
    return blocks.groupBy("term").agg(
        F.sum("n_docs").alias("df"),
        F.first("term_bucket").alias("term_bucket"),
    )
