"""Kernel probes and store measurements.

The ``functions.*`` kernels run inside Python workers, where the driver
cannot wrap them. The probes call the same public kernels in the driver on
real inputs from the run: a fixed sample of the run's corpus, and posting
block payloads read with pyarrow from the run's own store.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dynamo2es_lambda_spark.functions import analysis, bm25, codec
from dynamo2es_lambda_spark.sources import store_io

SAMPLE_DOCS = 1000
SAMPLE_BLOCKS = 1500
REPS = 5


def _best_of(fn) -> float:
    """Median wall time of REPS calls."""
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


_TICK = os.sysconf("SC_CLK_TCK")


def process_tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and all its descendants: the JVM and its Python
    workers. Unlike wall time it does not grow while other tenants of the
    host hold the CPU."""
    root = os.getpid()
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / _TICK


def store_size(path: str) -> tuple[int, int]:
    """(bytes, files) of a store on disk."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def lineage_postings(path: str) -> int:
    """Postings the build recorded in its lineage table."""
    files = glob.glob(os.path.join(path, "lineage", "**", "*.parquet"),
                      recursive=True)
    return sum(int(pq.read_table(f, columns=["postings"])["postings"]
                   .to_numpy().sum()) for f in files)


def read_blocks(store_path: str, limit: int) -> pa.Table:
    files = sorted(glob.glob(os.path.join(
        store_io.segments_path(store_path), "batch=*", "part=block", "**",
        "*.parquet"), recursive=True))
    cols = ["doc_first", "doc_bytes", "tf_bytes", "dl_bytes", "n_docs"]
    tables, n = [], 0
    for f in files:
        t = pq.read_table(f, columns=cols)
        tables.append(t)
        n += t.num_rows
        if n >= limit:
            break
    return pa.concat_tables(tables).slice(0, limit)


def kernels(texts: list[str], store_path: str) -> dict[str, float]:
    """Throughput of the tokenizer, codec and BM25 kernels."""
    out: dict[str, float] = {}
    sample = pd.Series(texts[:SAMPLE_DOCS])
    ids = np.arange(len(sample), dtype=np.int64)
    rows = analysis.term_rows_arrow_fast(ids, sample)
    n_tokens = int(rows.groupby("doc_int")["dl"].first().sum())
    out["functions.analysis.tokens_per_s"] = n_tokens / _best_of(
        lambda: analysis.term_rows_arrow_fast(ids, sample))
    out["functions.analysis.tokenize_series_tokens_per_s"] = (
        n_tokens / _best_of(lambda: analysis.tokenize_series(sample)))

    rows = rows.sort_values(["term", "doc_int"])
    lists = [(g["doc_int"].to_numpy(), g["tf"].to_numpy(), g["dl"].to_numpy())
             for _, g in rows.groupby("term", sort=False)]
    out["functions.codec.encode_postings_per_s"] = len(rows) / _best_of(
        lambda: [codec.encode_blocks(d, t, l) for d, t, l in lists])

    blocks = read_blocks(store_path, SAMPLE_BLOCKS)
    payload = {c: blocks[c].to_pylist()
               for c in ("doc_first", "doc_bytes", "tf_bytes", "dl_bytes")}
    n_post = int(blocks["n_docs"].to_numpy().sum())
    flat = {c: b"".join(payload[c]) for c in ("doc_bytes", "tf_bytes",
                                              "dl_bytes")}
    out["functions.codec.decode_postings_per_s"] = n_post / _best_of(
        lambda: [codec.varbyte_decode(b) for b in flat.values()])
    per_block = zip(*(payload[c] for c in ("doc_first", "doc_bytes",
                                           "tf_bytes", "dl_bytes")))
    per_block = list(per_block)
    out["functions.codec.decode_block_us"] = 1e6 * _best_of(
        lambda: [codec.decode_block(*b) for b in per_block]) / len(per_block)

    tf = codec.varbyte_decode(flat["tf_bytes"]).astype(np.int64) + 1
    dl = codec.varbyte_decode(flat["dl_bytes"]).astype(np.int64) + 1
    df = np.full(tf.size, max(1, len(texts) // 10), dtype=np.int64)
    avgdl = float(dl.mean())
    out["functions.bm25.scores_per_s"] = tf.size / _best_of(
        lambda: bm25.score(tf, dl, df, len(texts), avgdl))
    return out
