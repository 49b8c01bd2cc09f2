"""Deduplication operators for training-data pipelines.

All variants are pure DataFrame compositions (no Python in the hot path):

- exact:      hash-groupBy on the normalized token stream
- minhash+LSH: shingle → minhash (k seeded hashes) → band → bucket self-join
- n-gram Jaccard: exact pairwise similarity over shingle sets
- simhash:    32-bit sign-aggregated token-hash fingerprint

Scale notes: exact dedup is one shuffle on the fingerprint. MinHash-LSH is
the scale path for near-dup at 100 TB — signatures are tiny (k strings/doc),
the band self-join shuffles only (band, key) buckets, and skewed buckets
(boilerplate docs) can be salted or capped. The exact Jaccard operator is
O(pairs-sharing-a-shingle) and exists for verification / small candidate
sets (e.g. re-ranking LSH candidates).

Every operator here has a DuckDB-SQL twin in plans/entry_queries.py used as
the driver's independent oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..errors import EngineError
from ..functions.analysis import spark_tokens_expr
from ..functions.layout import spread_if_narrow
from ..functions.text import fingerprint_md5

MINHASH_SEEDS = 8
SIMHASH_BITS = 32


def _shingles_of(tok_col: str, n: int = 3) -> str:
    """Token n-gram shingle array expression over a PRE-TOKENIZED array
    column (1-indexed slice — mirrors the DuckDB list-indexing twin in
    plans/entry_queries.py). Tokenizing into a column first matters: inlining
    the tokenizer expression here would expand its regex chain once per
    reference (3x in the CASE below) — measured ~6x slower."""
    return (
        f"case when size({tok_col}) >= {n} then "
        f"transform(sequence(1, size({tok_col}) - {n - 1}), "
        f"i -> array_join(slice({tok_col}, i, {n}), ' ')) "
        f"else cast(array() as array<string>) end"
    )


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, sh) rows of distinct shingles per doc; tokens computed once.
    The input spreads first when its file layout under-parallelizes the
    cluster (functions/layout) — the shingle explosion and the md5 hash
    family downstream are the expensive maps pipelined onto this scan."""
    df = spread_if_narrow(df, id_col)
    toked = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.expr(spark_tokens_expr(text_col)).alias("_toks"),
    )
    sh = _shingles_of("_toks", shingle_n)
    return toked.select(
        "id", F.explode(F.expr(f"array_distinct({sh})")).alias("sh")
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of content-identical docs (normalized token stream).
    → (fp, n_docs, canonical) with canonical = min id (string order).
    No narrow-scan spread here: one md5 over the concatenated token
    stream is cheaper than the exchange it would take (measured
    0.42 s → 0.52 s with a spread at sf0.1)."""
    return (
        df.select(
            F.col(id_col).cast("string").alias("id"),
            fingerprint_md5(text_col).alias("fp"),
        )
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("id").alias("canonical"),
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = MINHASH_SEEDS, shingle_n: int = 3,
) -> DataFrame:
    """→ (id, sig_0..sig_{k-1}); docs with < shingle_n tokens drop out.

    Hash family: md5(shingle || '#' || seed), min taken in string order —
    uniform, deterministic, and exactly reproducible in any SQL dialect.
    """
    exploded = _exploded_shingles(df, id_col, text_col, shingle_n)
    aggs = [
        F.min(F.md5(F.concat(F.col("sh"), F.lit(f"#{s}")))).alias(f"sig_{s}")
        for s in range(num_hashes)
    ]
    return exploded.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    num_hashes: int = MINHASH_SEEDS,
    rows_per_band: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures, self-join buckets → distinct candidate (a, b).

    rows_per_band=1 with k hashes ⇒ recall-oriented (P(candidate) ≈ 1-(1-J)^k).

    ``max_bucket``: at 100 TB, boilerplate (license headers, generated
    code) creates giant buckets whose pairwise expansion is quadratic —
    a single 1M-doc bucket would emit 5·10^11 pairs. Buckets larger than
    the cap are excluded from pairing; handle them as whole clusters via
    :func:`exact_duplicates`-style grouping instead (their members are
    near-identical by construction). None = no cap (exact small-scale
    behavior, the driver-oracle mode).
    """
    n_bands = num_hashes // rows_per_band
    band_structs = ", ".join(
        "named_struct('band', {b}, 'key', concat_ws('|', {sigs}))".format(
            b=b,
            sigs=", ".join(
                f"sig_{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    banded = sigs.select(
        "id", F.explode(F.expr(f"array({band_structs})")).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket is not None:
        sizes = banded.groupBy("band", "key").agg(F.count("*").alias("_n"))
        banded = banded.join(
            sizes.filter(F.col("_n") <= max_bucket).drop("_n"),
            ["band", "key"],
            "left_semi",
        )
    # materialize once: the self-join's two sides otherwise EACH re-run
    # the whole tokenize → shingle → 8×md5 signature pipeline from the
    # corpus (one side broadcast, one shuffled — no exchange reuse).
    # The banded frame is k rows per doc of (id, band, key) — far below
    # corpus payload size at any scale.
    banded = banded.localCheckpoint(eager=True)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """Exact pairwise Jaccard over distinct shingle sets.
    → (a, b, jac) for every pair sharing ≥1 shingle. Quadratic in the worst
    case — use on bounded candidate sets (LSH output or sampled subsets)."""
    # materialize once: three consumers (sizes + both self-join sides)
    # would otherwise each re-tokenize and re-explode the input
    ex = _exploded_shingles(
        df, id_col, text_col, shingle_n
    ).localCheckpoint(eager=True)
    sizes = ex.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sa"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "sb"), "b")
        .select(
            "a", "b",
            (F.col("i") / (F.col("sa") + F.col("sb") - F.col("i"))).alias("jac"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = SIMHASH_BITS) -> DataFrame:
    """→ (id, simhash) — sign-aggregated tf-weighted token hashes.

    Token hash = first 8 hex chars of md5 (32 bits), reproducible in SQL
    everywhere (Spark conv(); DuckDB '0x'-cast).
    """
    df = spread_if_narrow(df, id_col)
    toks = spark_tokens_expr(text_col)
    tf = (
        df.select(
            F.col(id_col).cast("string").alias("id"),
            F.explode(F.expr(toks)).alias("tok"),
        )
        .groupBy("id", "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn(
            "h", F.expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)")
        )
    )
    bit_aggs = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), F.col("tf"))
            .otherwise(-F.col("tf"))
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    combined = " + ".join(
        f"(case when s{b} > 0 then shiftleft(cast(1 as bigint), {b}) "
        f"else cast(0 as bigint) end)"
        for b in range(bits)
    )
    return (
        tf.groupBy("id")
        .agg(*bit_aggs)
        .select("id", F.expr(combined).alias("simhash"))
    )


def chunk_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
) -> DataFrame:
    """Cross-document CHUNK-level duplication (boilerplate detection —
    the RefinedWeb/Gopher-style signal for shared headers, footers, and
    license blocks that whole-doc dedup misses): each doc's token stream
    splits into fixed non-overlapping ``chunk_tokens`` windows (tail
    partial window included), and per doc we report how many of its
    DISTINCT chunks appear in at least one other document.

    → (doc_id, n_chunks, dup_chunks, dup_frac_r) for docs with ≥1 token.

    Scale shape: chunking is a pure Column expression (no Python); the
    chunk→doc-count aggregation map-side combines, and the join back is
    LEFT against ONLY the chunks with count ≥ 2 — real boilerplate is a
    tiny fraction of distinct chunks, so the join side stays small and a
    hot chunk ("all rights reserved …") skews the small side, not the
    corpus. Downstream filters drop docs above a dup_frac threshold.
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    df = spread_if_narrow(df, id_col)
    d = int(chunk_tokens)
    toks = spark_tokens_expr(text_col)
    chunks_expr = (
        f"case when size(_toks) = 0 then array() else "
        f"transform(sequence(0, cast(ceil(size(_toks) / {d}.0) as int) - 1), "
        f"i -> array_join(slice(_toks, i * {d} + 1, {d}), ' ')) end"
    )
    doc_chunks = (
        df.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.expr(toks).alias("_toks"),
        )
        .select(
            "doc_id",
            F.explode(F.expr(f"array_distinct({chunks_expr})")).alias(
                "chunk"
            ),
        )
    )
    shared = (
        doc_chunks.groupBy("chunk")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("chunk", F.lit(1).alias("_dup"))
    )
    return (
        doc_chunks.join(shared, "chunk", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("dup_chunks"),
        )
        .withColumn(
            "dup_frac_r",
            F.round(F.col("dup_chunks") / F.col("n_chunks"), 6),
        )
    )


def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 50,
) -> DataFrame:
    """Connected-component CLUSTERS from a near-duplicate pair list —
    the global-dedup step after LSH: transitive closure turns pairwise
    matches into groups, cluster id = the MIN member id (a canonical,
    deterministic representative; keep-one dedup filters
    ``id == cluster``). ``ids``: one column of member ids (docs that
    appear in no pair form singleton clusters). ``pairs``: (a, b) edges.
    → (id, cluster).

    Algorithm: label propagation to the minimum — each round every id
    takes the min label across itself and its neighbors' labels; a round
    is two hash joins + one aggregation, and convergence needs at most
    the graph diameter rounds (near-dup clusters are shallow — a few
    rounds in practice; ``max_iters`` bounds pathological chains). The
    edge list is symmetrized once; labels are checkpointed per round so
    the plan does not grow unboundedly. Shuffle volume per round =
    edges + labels, the standard distributed-CC shape (large-star /
    small-star without the per-round re-partition)."""
    from pyspark.sql.window import Window as _W  # noqa: F401

    e = pairs.select(
        F.col("a").cast("string").alias("src"),
        F.col("b").cast("string").alias("dst"),
    )
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = ids.select(
        F.col(id_col).cast("string").alias("id")
    ).distinct().withColumn("cluster", F.col("id"))
    for _ in range(max_iters):
        neigh = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"),
                    F.col("cluster").alias("_nc"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("_nc").alias("_best"))
        )
        updated = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster"),
                    F.coalesce(F.col("_best"), F.col("cluster")),
                ).alias("cluster"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.join(
                labels.withColumnRenamed("cluster", "_old"), "id"
            )
            .filter(F.col("cluster") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            break
    return labels.select(F.col("id"), F.col("cluster"))


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Token-level EXACT-SUBSTRING duplicate spans — the ExactSubstr
    dedup of Lee et al. (2022), bounded to a fixed witness length: every
    SLIDING ``window``-gram of the token stream is hashed; a gram
    occurring ≥ 2 times in the corpus (across docs or repeated within
    one) marks its token range, and overlapping marks merge into maximal
    spans per doc. Downstream either cuts the spans out of the text or
    drops docs whose duplicated fraction is high — the substring-level
    signal whole-doc and chunk dedup both miss (a licence header pasted
    mid-file marks only ITS tokens).

    → (doc_id, start, end): half-open [start, end) token offsets,
    0-based, maximal (non-overlapping, non-adjacent-overlapping merged).

    Scale shape: gram emission is a pure Column expression (sliding
    windows over the tokenized array); the duplicate-witness aggregation
    map-side combines on the gram string; the join back is LEFT-SEMI
    against only grams with count ≥ 2 (the duplicated tail, small in a
    clean corpus — same skew argument as chunk_dup_stats); the island
    merge is two window functions over per-doc position streams
    (running-max island detection), shuffled once by doc."""
    if window < 1:
        raise ValueError("window must be >= 1")
    df = spread_if_narrow(df, id_col)
    w = int(window)
    toks = spark_tokens_expr(text_col)
    grams_expr = (
        f"case when size(_toks) < {w} then array() else "
        f"transform(sequence(0, size(_toks) - {w}), "
        f"i -> struct(i as pos, "
        f"array_join(slice(_toks, i + 1, {w}), ' ') as gram)) end"
    )
    occ = (
        df.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.expr(toks).alias("_toks"),
        )
        .select(
            "doc_id",
            F.explode(F.expr(grams_expr)).alias("_g"),
        )
        .select("doc_id", F.col("_g.pos").alias("pos"),
                F.col("_g.gram").alias("gram"))
    )
    dup_grams = (
        occ.groupBy("gram")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("gram")
    )
    marked = occ.join(dup_grams, "gram", "left_semi").select(
        "doc_id", F.col("pos").cast("long").alias("start"),
        (F.col("pos") + w).cast("long").alias("end"),
    )
    # gaps-and-islands: a mark starts a NEW island when it begins after
    # every previous mark's end (running max over the doc's sorted marks)
    ws = Window.partitionBy("doc_id").orderBy("start", "end")
    prev_max_end = F.max("end").over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        marked.withColumn(
            "_new",
            F.when(
                prev_max_end.isNull()
                | (F.col("start") > prev_max_end), 1
            ).otherwise(0),
        )
        .withColumn(
            "_island",
            F.sum("_new").over(
                ws.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        islands.groupBy("doc_id", "_island")
        .agg(
            F.min("start").alias("start"),
            F.max("end").alias("end"),
        )
        .select("doc_id", "start", "end")
    )


# --------------------------------------------------------- Bloom filter

BLOOM_BITS = 8192
BLOOM_HASHES = 3


def _bloom_positions(col: Column, n_bits: int, n_hashes: int) -> Column:
    """k pinned md5 bit positions for a key: hash_i = md5(key || '#i')
    prefix mod n_bits — the engine's portable hash family, so any
    engine (and the DuckDB oracle) derives the identical filter."""
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(col.cast("string"), F.lit(f"#{i}"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % n_bits
            for i in range(n_hashes)
        ]
    )


def bloom_bits(
    ref: DataFrame,
    key_col: str,
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Build the Bloom filter of a reference key set → one row per SET
    bit position (≤ n_bits rows — the filter itself, by construction
    metadata-sized regardless of |ref|). One pass over ref, one
    distinct on at most n_bits values."""
    return (
        ref.select(
            F.explode(
                _bloom_positions(F.col(key_col), n_bits, n_hashes)
            ).alias("bit")
        )
        .distinct()
    )


def bloom_membership(
    df: DataFrame,
    ref: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Probabilistic set-membership dedup gate: flag every ``df`` row
    whose key MAY be in ``ref``'s key set, with a Bloom filter — the
    standard pre-filter for cross-corpus dedup at 100 TB (e.g. "was
    this URL/sha already crawled?") where the exact semi-join is run
    only on the Bloom-positive survivors.

    Exact-by-construction semantics (so the oracle can replicate it):
    maybe_dup(x) ⇔ all ``n_hashes`` pinned md5 bit positions of x are
    set in the filter. False positives are REAL and intended — the
    operator reports what a Bloom filter reports; calibrate n_bits /
    n_hashes to the reference cardinality for the target FP rate
    (classic 1%: n_bits ≈ 9.6·|ref|, k=7).

    Plan: the filter (≤ n_bits rows) broadcast-joins into the probe
    side's exploded (id, bit) stream; a doc is positive when its
    matched-bit count equals n_hashes. The only shuffle is the per-doc
    count — ref never shuffles and is never collected.
    → (doc_id, maybe_dup)."""
    bits = F.broadcast(bloom_bits(ref, key_col, n_bits, n_hashes))
    probes = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.explode(
            _bloom_positions(F.col(key_col), n_bits, n_hashes)
        ).alias("bit"),
    )
    # count DISTINCT matched positions: two hashes of one key may
    # collide on the same bit, and that key must still test positive
    hit = (
        probes.join(bits, "bit")
        .groupBy("doc_id")
        .agg(F.count_distinct("bit").alias("_hits"))
    )
    need = probes.groupBy("doc_id").agg(
        F.count_distinct("bit").alias("_need")
    )
    return (
        need.join(hit, "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce(F.col("_hits"), F.lit(0)) == F.col("_need"))
            .alias("maybe_dup"),
        )
    )


def corpus_minhash_overlap(
    docs: DataFrame,
    side_col: Column,
    n: int = 3,
    k: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-CORPUS overlap estimation: MinHash-estimated and exact
    Jaccard between the shingle SETS of two corpus halves — the
    "how much does dataset B overlap dataset A" question a training-data
    pipeline asks before mixing sources (and the sketch version is how
    it answers at scale, where the exact intersection is a luxury).

    ``side_col``: boolean Column splitting docs into side a (true) /
    b (false). ``k`` MinHash permutations h_i(s) = md5(i || '_' || s)
    (the pinned portable hash family the LSH path uses); the estimator
    is the classic single-hash-per-permutation sketch:
    Ĵ = |{i : min_a(h_i) = min_b(h_i)}| / k.

    Plan: ONE corpus-sized exchange total — the exploded per-doc-distinct
    shingle stream goes straight into a map-side-combined groupBy(sh)
    computing each shingle's side membership; that vocabulary-sized
    (sh, in_a, in_b) frame is locally checkpointed (it feeds BOTH the
    exact set algebra and the sketch, and without the checkpoint each
    consumer would re-tokenize the corpus and re-run the exchange). The
    k-permutation sketch is then one aggregation over the k×|types|
    exploded hash stream with conditional mins per side — no second
    shuffle, no join of per-side min tables. Nothing after the groupBy
    touches a document row. → one row:
    (n_a, n_b, n_inter, n_union, exact_j_r, minhash_matches, est_j_r).
    """
    if n < 1 or k < 1:
        raise EngineError("corpus_minhash_overlap needs n >= 1 and k >= 1")
    docs = spread_if_narrow(docs, id_col)
    toked = docs.select(
        side_col.cast("boolean").alias("_a"),
        F.expr(spark_tokens_expr(text_col)).alias("_toks"),
    )
    exploded = toked.select(
        "_a",
        F.explode(
            F.expr(f"array_distinct({_shingles_of('_toks', n)})")
        ).alias("sh"),
    )
    # per-shingle side membership in ONE agg (the former separate
    # distinct + groupBy shuffled the same bytes twice), materialized once
    sets = exploded.groupBy("sh").agg(
        F.max(F.when(F.col("_a"), 1).otherwise(0)).alias("in_a"),
        F.max(F.when(~F.col("_a"), 1).otherwise(0)).alias("in_b"),
    ).localCheckpoint(eager=True)
    exact = sets.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_inter"),
        F.count("*").cast("long").alias("n_union"),
    )
    # sketch half: k md5 permutations, conditional elementwise min per
    # side folded into ONE aggregation (a side's hash set {md5(i_sh)} over
    # its member shingles is identical to the former per-side min tables).
    # Repartition first: AQE coalesces the small membership frame to ~one
    # partition, which would serialize the k×|types| md5 work onto one
    # core — spread it across the cluster before the heavy map (the
    # repartition moves only the vocabulary-sized frame).
    par = docs.sparkSession.sparkContext.defaultParallelism
    perms = sets.repartition(par).select(
        "in_a", "in_b",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {k - 1}), "
                f"i -> md5(concat(cast(i as string), '_', sh)))"
            )
        ).alias("i", "h"),
    )
    mins = perms.groupBy("i").agg(
        F.min(F.when(F.col("in_a") == 1, F.col("h"))).alias("ma"),
        F.min(F.when(F.col("in_b") == 1, F.col("h"))).alias("mb"),
    )
    # coalesce guards (ADVICE r4): when either corpus half contributes no
    # shingles its min is NULL and the equality contributes nothing — the
    # documented contract is one fully-numeric row, so empty cases pin to
    # 0 matches / 0.0 Jaccard
    sketch = mins.agg(
        F.coalesce(
            F.sum(F.when(F.col("ma") == F.col("mb"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("minhash_matches")
    )
    return (
        exact.crossJoin(sketch)
        .select(
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
            F.coalesce("n_inter", F.lit(0)).cast("long").alias("n_inter"),
            "n_union",
            F.when(F.col("n_union") > 0,
                   F.round(F.col("n_inter") / F.col("n_union"), 6))
            .otherwise(F.lit(0.0))
            .alias("exact_j_r"),
            "minhash_matches",
            F.round(F.col("minhash_matches") / F.lit(float(k)), 6)
            .alias("est_j_r"),
        )
    )
