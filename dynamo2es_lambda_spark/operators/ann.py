"""Similarity search over embedding columns.

- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query set
  against the full embedding table; dot products via zip_with/aggregate
  (pure built-ins, codegen'd, float64). The correctness baseline.
- ``lsh_assign`` / ``ann_topk_lsh``: random-hyperplane LSH — the scale path.
  Bucket assignment is a vectorized pandas UDF (one matmul per Arrow batch);
  queries probe only their own bucket, so the candidate join is equi-join on
  bucket (co-locatable, broadcast-able), then exact cosine re-rank inside the
  bucket. Approximate: recall tuned by n_planes / multi-probe.

At 100 TB the brute-force path is a full scan per query batch (still linear,
embarrassingly parallel, no shuffle since queries broadcast); LSH cuts the
scan to matching buckets via partition pruning when the table is written
partitioned by bucket.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

COS_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)


def cosine_expr(a: str, b: str) -> str:
    dot = COS_EXPR.format(a=a, b=b)
    na = COS_EXPR.format(a=a, b=a)
    nb = COS_EXPR.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def _norm_col(vec: str):
    """sqrt(vec·vec) as a Column — precompute ONCE per row so a pairwise
    cosine costs one dot product instead of three (the product of two
    precomputed sqrt norms is bit-identical to evaluating them inline)."""
    return F.expr(f"sqrt({COS_EXPR.format(a=vec, b=vec)})")


def _seed_centroids(
    embeddings: DataFrame, k: int, id_col: str, vec_col: str
) -> list[tuple[str, list[float]]]:
    """The deterministic md5-ordered centroid sample as driver rows
    (model-sized: k vectors — the same bytes the broadcast shipped)."""
    rows = (
        embeddings.select(
            F.col(id_col).cast("string").alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
        )
        .withColumn("_h", F.md5(F.col("cid")))
        .orderBy("_h")
        .limit(int(k))
        .select("cid", "cvec")
        .collect()
    )
    return [(r["cid"], [float(x) for x in r["cvec"]]) for r in rows]


def _best_centroid_cols(
    vec: str, cents: list[tuple[str, list[float]]]
) -> tuple:
    """(cluster Column, cos_r Column): max-cosine centroid assignment as ONE
    codegen fold over literal centroids — replaces the former
    crossJoin(k centroids) + per-vector row_number window, whose shuffle
    carried every embedding k times just to pick an argmax.

    Bit-equivalence with the old plan: per-centroid cosine is the same
    zip_with/aggregate expression (same element order, same left-to-right
    sum) over the same doubles, rounded with the same round(·, 6); the fold
    scans centroids in cid-ascending order keeping strictly-greater
    cosines, which IS the (cos_r desc, cid asc) row_number pick."""
    import math

    na = COS_EXPR.format(a=vec, b=vec)
    cands = []
    for cid, cvec in sorted(cents, key=lambda c: c[0]):
        nb = 0.0
        for x in cvec:
            nb += x * x
        cn = math.sqrt(nb)
        lit_arr = F.array(*[F.lit(float(x)) for x in cvec])
        dot = F.aggregate(
            F.zip_with(
                F.col(vec), lit_arr,
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        cos_r = F.round(dot / (F.expr(f"sqrt({na})") * F.lit(cn)), 6)
        cands.append(F.struct(cos_r.alias("c"), F.lit(cid).alias("cid")))
    arr = F.array(*cands)
    best = F.aggregate(
        arr,
        F.lit(None).cast("struct<c: double, cid: string>"),
        lambda acc, x: F.when(
            acc.isNull() | (x["c"] > acc["c"]), x
        ).otherwise(acc),
    )
    return best["cid"], best["c"]


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every non-query vector for each query vector.
    → (qid, rank, vec_id, cos)."""
    q = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qvec"),
            _norm_col(vec_col).alias("_qn"),
        )
    )
    t = embeddings.filter(~F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("tvec"),
        _norm_col(vec_col).alias("_tn"),
    )
    # each side's norm computed once per row (bit-identical to inlining):
    # the |queries|-way cross join then pays one dot product per pair
    scored = t.join(F.broadcast(q)).withColumn(
        "cos",
        F.expr(COS_EXPR.format(a="qvec", b="tvec"))
        / (F.col("_qn") * F.col("_tn")),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "cos")
    )


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_planes))


def rademacher_planes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic ±1 (Rademacher) hyperplanes: sign(p, d) = low md5 bit
    of ``"{p}_{d}"``. Sign-random projections with ±1 entries are valid
    cosine-LSH hyperplanes (the SimHash construction); unlike the Gaussian
    planes these are reproducible from SQL (md5 is everywhere), which lets
    the driver's DuckDB oracle replicate the bucket assignment bit-for-bit
    and verify the LSH pruning itself, not just the exact re-rank."""
    import hashlib

    s = np.empty((dim, n_planes), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"{p}_{d}".encode()).hexdigest()
            s[d, p] = 1.0 if int(h[:8], 16) & 1 else -1.0
    return s


def lsh_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Adds ``bucket`` = sign-bit hash against fixed random hyperplanes
    (``planes`` overrides the seeded Gaussian matrix, e.g.
    :func:`rademacher_planes`)."""
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    fixed = planes

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes: np.ndarray | None = fixed
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if planes is None:
                planes = _planes(mat.shape[1], n_planes, seed)
            bits = (mat @ planes) > 0
            bucket = (bits.astype(np.int64) << np.arange(n_planes)).sum(axis=1)
            pdf = pdf.copy()
            pdf["bucket"] = bucket
            yield pdf

    return df.mapInPandas(assign, schema=f"{fields}, bucket long")


def cosine_near_dup_exact(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-dup pairs: (a, b, cos) for a < b with
    cos ≥ threshold. O(n²) cross join — verification / bounded candidate
    sets; the scale path is :func:`cosine_near_dup_lsh`."""
    e = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    a = e.select(F.col("id").alias("a"), F.col("v").alias("va"))
    b = e.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("cos", F.expr(cosine_expr("va", "vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def cosine_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 42,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Embedding near-dup at scale: multi-table LSH bucket self-join for
    candidates, exact cosine confirmation. Recall < 1 (tune n_tables up /
    n_planes down); every returned pair is exact-verified. ``planes``
    fixes the hyperplanes (see :func:`lsh_assign_multi`)."""
    bucketed = lsh_assign_multi(
        embeddings, vec_col, n_planes, n_tables, seed, planes=planes
    )
    x = bucketed.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("va"),
        "table", "bucket",
    )
    y = bucketed.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("vb"),
        "table", "bucket",
    )
    cands = (
        x.join(y, ["table", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.first("va").alias("va"), F.first("vb").alias("vb"))
    )
    return (
        cands.withColumn("cos", F.expr(cosine_expr("va", "vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def lsh_assign_multi(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 42,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Multi-table LSH: one output row per (input row, table) with that
    table's ``bucket``. Candidate recall ≈ 1 - (1 - p^n_planes)^n_tables.
    ``planes`` overrides the seeded Gaussian planes with a fixed
    (dim, n_planes × n_tables) matrix — e.g. :func:`rademacher_planes`
    when the bucketing must be reproducible outside numpy."""
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    fixed = planes

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes: np.ndarray | None = fixed
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if planes is None:
                planes = _planes(mat.shape[1], n_planes * n_tables, seed)
            bits = (mat @ planes) > 0
            outs = []
            for t in range(n_tables):
                sub = bits[:, t * n_planes:(t + 1) * n_planes]
                bucket = (sub.astype(np.int64) << np.arange(n_planes)).sum(axis=1)
                o = pdf.copy()
                o["table"] = t
                o["bucket"] = bucket
                outs.append(o)
            yield pd.concat(outs, ignore_index=True)

    return df.mapInPandas(assign, schema=f"{fields}, table int, bucket long")


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int = 1,
) -> DataFrame:
    """IVF coarse quantizer: attach each vector's ``n`` nearest centroids by
    cosine (ties: lowest cid). ``centroids``: (cid, cvec) — broadcast, so
    assignment is a map-side argmax, no shuffle of the vector table.

    Adds ``cid`` to the input columns (n rows per vector for n > 1 — the
    query-probe case). Deterministic sampled centroids (fixed ids) stand in
    for k-means here — the IVF-flat structure and the cluster-pruned query
    path are identical; swap in trained centroids at deployment."""
    scored = vectors.join(F.broadcast(centroids)).withColumn(
        "_cos", F.expr(cosine_expr(vec_col, "cvec"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_cos").desc(), F.col("cid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn", "_cos", "cvec")
    )


DEFAULT_KMEANS_SAMPLE = 4096


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = DEFAULT_KMEANS_SAMPLE,
) -> DataFrame:
    """Spherical k-means (Lloyd's) for the IVF coarse quantizer.

    Init = deterministic maximin (farthest-point) over a hash-ordered
    DRIVER SAMPLE of ``max(sample, 16·k)`` vectors — ONE corpus job
    total, independent of k (the r3 seeding launched k−1 sequential
    full-corpus jobs: ~1000 scans before indexing for k=1024; centroids
    are broadcast-sized model state, exactly like ``pq_train_codebooks``
    codebooks, and sample-trained seeding loses nothing the nprobe
    search cares about). Seed = hash-first sample vector, then k−1
    numpy maximin rounds (smallest max cosine to the chosen set; ties
    on vec_id).

    The optional distributed Lloyd refinement (``iters`` > 0) then runs
    per iteration:

    - assignment: broadcast the k × dim centroid table, map-side argmax
      cosine (``ivf_assign`` — no shuffle of the vector table);
    - update: per-dimension partial sums JVM-side (``posexplode`` →
      partial+final groupBy on (cid, pos)) — the exchange carries only
      partitions × k × dim partial aggregates, never the vectors;
    - the k × dim centroid matrix lives on the driver between iterations —
      broadcast-sized by construction (it IS the broadcast side).

    Total job count: 1 sample gather + 2·``iters`` — never a function of
    k or corpus size. Empty clusters keep their previous centroid;
    centroids are L2-normalized (cosine is scale-invariant, normalization
    keeps the mean-of-members update spherical). Float-sum reduction
    order is not fixed, so centroids are deterministic only to float
    tolerance — use the fixed-id sampled-centroid path when bit-exact
    reproducibility is required (the driver-gated query does).
    Returns (cid, cvec)."""
    spark = embeddings.sparkSession
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("tvec")
    )

    def cents_df(c: np.ndarray) -> DataFrame:
        return spark.createDataFrame(
            pd.DataFrame(
                {"cid": range(len(c)), "cvec": [list(map(float, v)) for v in c]}
            )
        )

    if n_centroids < 1:
        raise ValueError(f"n_centroids ({n_centroids}) must be >= 1")
    n_sample = max(int(sample), 16 * n_centroids)
    pdf = (
        vecs.orderBy(F.xxhash64(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_sample)
        .toPandas()
    )
    if pdf.empty:
        # empty corpus (every id a query, or no vectors at all): an empty
        # centroid table, so downstream probe/rerank returns empty instead
        # of the seed gather crashing
        return spark.createDataFrame(
            [], "cid long, cvec array<double>"
        )
    if len(pdf) < n_sample and len(pdf) < n_centroids:
        # the sample IS the whole corpus (limit under-filled) — too few
        # vectors to seed k distinct centroids
        raise ValueError(
            f"n_centroids ({n_centroids}) exceeds the vector count "
            f"({len(pdf)}) — lower it to at most the corpus size"
        )
    xs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["tvec"]])
    xs = xs / np.maximum(np.linalg.norm(xs, axis=1, keepdims=True), 1e-12)
    vec_ids = pdf["vec_id"].to_numpy()
    chosen_idx = [0]  # hash-first sample row seeds, as before
    taken = np.zeros(len(xs), dtype=bool)
    taken[0] = True
    max_cos = xs @ xs[0]
    for _ in range(n_centroids - 1):
        # smallest max-cosine to the chosen set; ties break on vec_id asc
        order = np.lexsort((vec_ids, max_cos))
        pick = int(order[np.argmin(taken[order])])
        chosen_idx.append(pick)
        taken[pick] = True
        max_cos = np.maximum(max_cos, xs @ xs[pick])
    cents = xs[chosen_idx]

    for _ in range(iters):
        assigned = ivf_assign(
            vecs, cents_df(cents), id_col="vec_id", vec_col="tvec"
        )
        sums = (
            assigned.select(
                "cid", F.posexplode("tvec").alias("pos", "val")
            )
            .groupBy("cid", "pos")
            .agg(F.sum("val").alias("s"))
            .toPandas()
        )
        new = cents.copy()
        for cid, g in sums.groupby("cid"):
            v = g.sort_values("pos")["s"].to_numpy(np.float64)
            vlen = np.linalg.norm(v)
            if vlen > 0:
                new[int(cid)] = v / vlen
        cents = new
    return cents_df(cents)


def _ivf_probe_rerank(
    targets: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Shared IVF query path: assign targets to their nearest centroid,
    probe each query's ``nprobe`` nearest clusters, exact-rerank only their
    members. ``targets``: (vec_id, tvec); ``queries``: (qid, qvec)."""
    assigned = ivf_assign(targets, cents, id_col="vec_id", vec_col="tvec")
    probes = ivf_assign(queries, cents, id_col="qid", vec_col="qvec", n=nprobe)
    cands = assigned.join(F.broadcast(probes), "cid")
    scored = cands.withColumn("cos", F.expr(cosine_expr("qvec", "tvec")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "cos")
    )


def ann_topk_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    centroid_ids: list[int],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: each query probes its ``nprobe`` nearest
    clusters and exact-reranks only their members. → (qid, rank, vec_id, cos).

    Centroids here are fixed-id samples — bit-deterministic, what the
    driver-gated oracle query uses; ``ann_topk_ivf_kmeans`` swaps in
    distributedly-trained spherical k-means centroids for better recall at
    the same query cost. At scale: write the table partitioned by ``cid`` —
    the candidate join prunes to the probed clusters (same pattern as the
    posting store's term_bucket pruning). Recall rises with nprobe; nprobe
    = n_centroids degenerates to exact brute force."""
    cents = embeddings.filter(F.col(id_col).isin(centroid_ids)).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    targets = embeddings.filter(~F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("tvec")
    )
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    return _ivf_probe_rerank(targets, q, cents, k, nprobe)


def ann_topk_ivf_kmeans(
    embeddings: DataFrame,
    query_ids: list[int],
    n_centroids: int = 16,
    iters: int = 5,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat with k-means-trained centroids (``kmeans_centroids``): the
    production IVF shape — train once over the corpus, then the same
    cluster-pruned probe/rerank as ``ann_topk_ivf``."""
    targets = embeddings.filter(~F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("tvec")
    )
    cents = kmeans_centroids(
        targets, n_centroids=n_centroids, iters=iters,
        id_col="vec_id", vec_col="tvec",
    )
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    return _ivf_probe_rerank(targets, q, cents, k, nprobe)


def ann_topk_lsh(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 42,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Approximate cosine top-k: multi-table same-bucket candidates, exact
    re-rank. → (qid, rank, vec_id, cos). Recall rises with n_tables and
    falls with n_planes (smaller buckets = fewer candidates scanned).
    ``planes`` fixes the hyperplanes (see :func:`lsh_assign_multi`).

    At scale: write the table partitioned by (table, bucket) — the candidate
    join prunes to the queries' buckets instead of scanning the corpus."""
    bucketed = lsh_assign_multi(
        embeddings, vec_col, n_planes, n_tables, seed, planes=planes
    )
    q = bucketed.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"),
        "table", "bucket",
    )
    t = bucketed.filter(~F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("tvec"),
        "table", "bucket",
    )
    cands = (
        t.join(F.broadcast(q), ["table", "bucket"])
        .groupBy("qid", "vec_id")
        .agg(F.first("qvec").alias("qvec"), F.first("tvec").alias("tvec"))
    )
    scored = cands.withColumn("cos", F.expr(cosine_expr("qvec", "tvec")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "cos")
    )


# ----------------------------- product quantization (memory-compressed ANN)

def pq_train_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    iters: int = 10,
    sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[np.ndarray]:
    """Train product-quantization codebooks: the embedding dims split into
    ``m`` contiguous subspaces, each with an ``n_codes``-word codebook —
    vectors compress to ``m`` byte-sized codes (e.g. 256-dim float32
    1 KB → 4 B at m=4). Training runs driver-side numpy Lloyd's over a
    DETERMINISTIC hash-ordered sample (codebooks are broadcast-sized model
    state, exactly like IVF centroids; maximin init, stable tie-breaks) —
    the distributed parts are encode and query. L2-normalize upstream when
    approximating cosine. Returns a list of (n_codes, sub_dim) arrays."""
    pdf = (
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
        )
        .orderBy(F.xxhash64(F.col("vec_id").cast("string")), "vec_id")
        .limit(int(sample))
        .toPandas()
    )
    x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.maximum(norms, 1e-12)
    dim = x.shape[1]
    if m < 1 or dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    sub = dim // m
    books: list[np.ndarray] = []
    for j in range(m):
        xs = x[:, j * sub: (j + 1) * sub]
        # deterministic maximin init
        cents = [xs[0]]
        for _ in range(n_codes - 1):
            d = np.min(
                ((xs[:, None, :] - np.stack(cents)[None, :, :]) ** 2).sum(-1),
                axis=1,
            )
            cents.append(xs[int(np.argmax(d))])
        c = np.stack(cents)
        for _ in range(iters):
            d = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            a = d.argmin(axis=1)
            for ci in range(n_codes):
                mask = a == ci
                if mask.any():
                    c[ci] = xs[mask].mean(axis=0)
        books.append(c)
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (vec_id, codes array<int>): per-subspace nearest codeword of the
    L2-NORMALIZED vector, vectorized per Arrow batch (one matmul per
    subspace). Deterministic under any partitioning — a pure function of
    the vector and the codebooks."""
    m = len(codebooks)
    sub = codebooks[0].shape[1]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            x = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-12
            )
            codes = np.empty((len(x), m), dtype=np.int64)
            for j in range(m):
                xs = x[:, j * sub: (j + 1) * sub]
                c = codebooks[j]
                # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; argmin over codes
                d = (
                    -2.0 * xs @ c.T
                    + (c * c).sum(axis=1)[None, :]
                )
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"],
                 "codes": [list(map(int, r)) for r in codes]}
            )

    src = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    return src.mapInPandas(run, schema="vec_id long, codes array<bigint>")


def ann_topk_pq(
    embeddings: DataFrame,
    query_ids: list[int],
    codebooks: list[np.ndarray],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoded: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k: each query builds an m × n_codes
    lookup table of subvector dot products against the codebooks (driver,
    query-sized); the scan reads only (vec_id, codes) — the m-byte codes,
    NOT the vectors — and scores via vectorized LUT gathers per Arrow
    batch. → (qid, rank, vec_id, score) with score ≈ cosine of normalized
    vectors. Pass ``encoded`` to reuse a persisted pq_encode table (the
    production shape: encode once, query many).

    ``rerank``: classic PQ+rerank — keep the top ``rerank`` ADC candidates
    per query, fetch ONLY their true vectors (semi-join into the vector
    table, candidates × queries rows) and exact-rerank by cosine; score
    becomes the exact cosine. Recall approaches brute force while the
    full scan still touches only the compressed codes."""
    m = len(codebooks)
    sub = codebooks[0].shape[1]
    if encoded is None:
        encoded = pq_encode(embeddings, codebooks, id_col, vec_col)
    qpdf = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .toPandas()
    )
    if qpdf.empty:
        spark = embeddings.sparkSession
        return spark.createDataFrame(
            [], "qid long, rank int, vec_id long, score double"
        )
    luts = {}
    for qid, qv in zip(qpdf["qid"], qpdf["qv"]):
        q = np.asarray(qv, dtype=np.float64)
        q = q / max(np.linalg.norm(q), 1e-12)
        luts[int(qid)] = np.stack(
            [
                q[j * sub: (j + 1) * sub] @ codebooks[j].T
                for j in range(m)
            ]
        )  # (m, n_codes)
    qid_arr = np.array(sorted(luts), dtype=np.int64)
    lut_arr = np.stack([luts[int(q)] for q in qid_arr])  # (Q, m, n_codes)
    qset = set(int(q) for q in qid_arr)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            keep = ~pdf["vec_id"].isin(qset)
            pdf = pdf[keep]
            if pdf.empty:
                continue
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )  # (N, m)
            outs = []
            for qi, qid in enumerate(qid_arr):
                # gather LUT[j, codes[:, j]] and sum over subspaces
                s = np.zeros(len(codes), dtype=np.float64)
                for j in range(m):
                    s += lut_arr[qi, j][codes[:, j]]
                outs.append(
                    pd.DataFrame(
                        {"qid": int(qid), "vec_id": pdf["vec_id"].to_numpy(),
                         "score": s}
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    scored = encoded.mapInPandas(
        score, schema="qid long, vec_id long, score double"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "vec_id", "score")
        )
    if rerank < k:
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    shortlist = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(rerank))
        .select("qid", "vec_id")
    )
    tvecs = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("tvec")
    )
    qvecs = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    exact = (
        shortlist.join(tvecs, "vec_id")
        .join(F.broadcast(qvecs), "qid")
        .withColumn("score", F.expr(cosine_expr("qvec", "tvec")))
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "score")
    )


def ann_topk_ivfpq(
    embeddings: DataFrame,
    query_ids: list[int],
    centroid_ids: list[int],
    codebooks: list[np.ndarray],
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 250,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composite — the standard billion-scale ANN shape (FAISS
    IndexIVFPQ): the coarse quantizer prunes each query's scan to its
    ``nprobe`` nearest clusters, ADC scores ONLY those clusters' m-byte
    codes (per-batch LUT gathers masked by the query's probe set), and
    the shortlist exact-reranks by true cosine. I/O per query ∝ probed
    fraction × m bytes/vector — the two compressions (cluster pruning ×
    code compression) multiply.

    Centroids here are fixed-id samples (bit-deterministic, the
    driver-gated oracle shape — swap in ``kmeans_centroids`` output for
    trained clustering). At scale, persist ``pq_encode`` output
    partitioned by ``cid`` so the probe set prunes parquet partitions;
    here the cid column rides the batch and the mask is per-batch
    vectorized. → (qid, rank, vec_id, score=exact cosine)."""
    if rerank < k:
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    m = len(codebooks)
    sub = codebooks[0].shape[1]
    cents = embeddings.filter(F.col(id_col).isin(centroid_ids)).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    targets = embeddings.filter(~F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("tvec")
    )
    assigned = ivf_assign(targets, cents, id_col="vec_id", vec_col="tvec")
    enc = pq_encode(assigned, codebooks, "vec_id", "tvec").join(
        assigned.select("vec_id", "cid"), "vec_id"
    )
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    probes = ivf_assign(
        queries, cents, id_col="qid", vec_col="qvec", n=nprobe
    )
    ppdf = probes.select("qid", "cid").toPandas()
    if ppdf.empty:
        spark = embeddings.sparkSession
        return spark.createDataFrame(
            [], "qid long, rank int, vec_id long, score double"
        )
    probe_map: dict[int, np.ndarray] = {
        int(q): np.sort(g["cid"].to_numpy(np.int64))
        for q, g in ppdf.groupby("qid")
    }
    qpdf = queries.toPandas()
    luts = {}
    for qid, qv in zip(qpdf["qid"], qpdf["qvec"]):
        q = np.asarray(qv, dtype=np.float64)
        q = q / max(np.linalg.norm(q), 1e-12)
        luts[int(qid)] = np.stack(
            [q[j * sub: (j + 1) * sub] @ codebooks[j].T for j in range(m)]
        )
    qid_arr = np.array(sorted(luts), dtype=np.int64)
    lut_arr = np.stack([luts[int(q)] for q in qid_arr])

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )
            cids = pdf["cid"].to_numpy(np.int64)
            vecids = pdf["vec_id"].to_numpy(np.int64)
            outs = []
            for qi, qid in enumerate(qid_arr):
                mask = np.isin(cids, probe_map[int(qid)])
                if not mask.any():
                    continue
                sel = codes[mask]
                s = np.zeros(len(sel), dtype=np.float64)
                for j in range(m):
                    s += lut_arr[qi, j][sel[:, j]]
                outs.append(
                    pd.DataFrame(
                        {"qid": int(qid), "vec_id": vecids[mask],
                         "score": s}
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = enc.mapInPandas(
        score, schema="qid long, vec_id long, score double"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    shortlist = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(rerank))
        .select("qid", "vec_id")
    )
    exact = (
        shortlist.join(targets, "vec_id")
        .join(
            F.broadcast(
                queries.withColumnRenamed("qvec", "qvec_")
            ),
            "qid",
        )
        .withColumn("score", F.expr(cosine_expr("qvec_", "tvec")))
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "score")
    )


def cluster_label_stats(
    embeddings: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Deterministic one-pass domain clustering for corpus organization
    (the training-pipeline "what topic mix is in each shard" question):
    centroids are the first ``k`` vectors in md5(id) order — a
    content-keyed pseudo-random sample, the same oracle-replicable trick
    the PQ/LSH paths use — and every vector assigns to its max-cosine
    centroid (6-dp rounded, centroid-id tie-break). Emits per
    (cluster, label): member count and mean cosine (cohesion).

    Plan: the k centroids come to the driver (model-sized, the same bytes
    a broadcast would ship) and the max-cosine assignment is ONE codegen
    fold over the literal centroid array (_best_centroid_cols) — a single
    map-only pass over the embeddings with NO shuffle and no window (the
    former crossJoin + row_number plan shuffled every embedding k times).
    For a refined codebook swap the seeding for kmeans_centroids (same
    assignment plan)."""
    from ..errors import EngineError

    if k < 1:
        raise EngineError("cluster_label_stats wants k >= 1")
    cents = _seed_centroids(embeddings, k, id_col, vec_col)
    v = embeddings.select(
        F.col(id_col).cast("string").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vvec"),
        F.col(label_col).cast("string").alias("label"),
    )
    cluster_c, cos_c = _best_centroid_cols("vvec", cents)
    return (
        v.select(
            cluster_c.alias("cid"), "label", cos_c.alias("cos_r")
        )
        .groupBy(F.col("cid").alias("cluster"), "label")
        .agg(
            F.count("*").alias("n"),
            # exact integer-micro mean: cos_r is already 6-dp rounded, so
            # summing round(cos_r·1e6) as BIGINT is order-independent —
            # a float avg() here flipped a 6-dp rounding boundary
            # nondeterministically between runs (partial-agg order)
            F.round(
                F.sum(F.round(F.col("cos_r") * 1e6).cast("long"))
                / (F.count("*") * F.lit(1e6)),
                6,
            ).alias("avg_cos_r"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then inside each
    cluster drop every vector that has a LOWER-id neighbor with cosine
    ≥ ``tau`` — the keep-canonical policy the exact-dedup family uses,
    applied to semantic duplicates a hash can never catch. Emits one
    row per DROPPED vector: (vec_id, cluster, dup_of, best_cos_r) with
    ``dup_of`` the smallest qualifying keeper id (deterministic).

    Plan: centroids are the first ``k`` vectors in md5(id) order (the
    oracle-replicable content-keyed sample shared with
    cluster_label_stats); assignment is ONE shuffle-free codegen fold over
    the literal centroids (_best_centroid_cols — the former broadcast
    crossJoin + window shuffled every embedding k times). The pair test
    self-joins WITHIN a cluster only — with k sized ~n/m for target
    cluster size m, pair work is O(n·m), not O(n²); the paper's recipe
    (k ≈ n/100) keeps every cluster comparison local to one shuffle
    partition. Per-pair cosine reuses each vector's precomputed norm
    (one dot product per pair instead of three, bit-identical). When the
    cluster count is small relative to the cores, the self-join is
    triangle-salted: side a replicates over the partner's salt, so one
    cluster's pair work spreads over S² tasks instead of one — pure
    physical partitioning, pair set unchanged; S collapses to 1 once k
    alone provides the parallelism (100 TB: k ≈ n/100 ≫ cores).
    ``max_cluster`` excludes clusters above the cap from pair generation
    (the max_bucket discipline from the LSH path: a degenerate
    mega-cluster signals re-clustering, not an n²-blowup)."""
    from ..errors import EngineError

    if k < 1:
        raise EngineError("semantic_dedup wants k >= 1")
    if not 0.0 < tau <= 1.0:
        raise EngineError("semantic_dedup wants tau in (0, 1]")
    cents = _seed_centroids(embeddings, k, id_col, vec_col)
    v = embeddings.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vvec"),
    )
    cluster_c, _cos = _best_centroid_cols("vvec", cents)
    assigned = v.select(
        "vid", "vvec", cluster_c.alias("cluster"),
        _norm_col("vvec").alias("_vn"),
    )
    if max_cluster is not None:
        sizes = assigned.groupBy("cluster").agg(F.count("*").alias("_cn"))
        assigned = assigned.join(sizes, "cluster").filter(
            F.col("_cn") <= int(max_cluster)
        ).drop("_cn")
    # Within-cluster pair test: ONE numpy pass per cluster group. The
    # former self-join materialized every pair row carrying BOTH full
    # embedding arrays (~1 KB/pair) just to evaluate one cosine; here a
    # cluster's members arrive once (applyInPandas) and all pairwise dot
    # products accumulate as d vectorized outer-product passes — the
    # EXACT left-to-right per-pair fold of the old zip_with/aggregate
    # expression (acc + x_j·y_j from 0.0, multiplication commutative),
    # so values are bit-identical. Only narrow candidate rows (ids +
    # unrounded ratio, pre-filtered with a safe tau band) return through
    # Arrow; the 6-dp HALF_UP rounding and the tau cut stay JVM-side so
    # rounding semantics are unchanged. Memory per task is chunked to
    # ~chunk×|cluster| doubles; ``max_cluster`` remains the guard against
    # degenerate mega-clusters (and k ≈ n/100 keeps groups small at
    # scale).
    tau_f = float(tau)

    def pair_fn(key, pdf):
        m = len(pdf)
        empty = pd.DataFrame(
            {
                "cluster": pd.Series([], dtype="object"),
                "vid": pd.Series([], dtype="int64"),
                "keep_id": pd.Series([], dtype="int64"),
                "ratio": pd.Series([], dtype="float64"),
            }
        )
        if m < 2:
            return empty
        vids = pdf["vid"].to_numpy(np.int64)
        X = np.vstack(pdf["vvec"].to_numpy())
        vn = pdf["_vn"].to_numpy(np.float64)
        d = X.shape[1]
        outs = []
        chunk = max(1, min(m, 2_000_000 // max(m, 1)))
        for lo in range(0, m, chunk):
            hi = min(lo + chunk, m)
            acc = np.zeros((hi - lo, m), dtype=np.float64)
            for j in range(d):
                c = X[:, j]
                acc += c[lo:hi, None] * c[None, :]
            ratio = acc / (vn[lo:hi, None] * vn[None, :])
            # upper triangle in ROW-POSITION space avoids double-emitting
            # a pair; id-order is fixed up below
            rows, cols = np.nonzero(
                (np.arange(m)[None, :] > np.arange(lo, hi)[:, None])
                # safe band: rounding to 6 dp moves a value by < 1e-6,
                # so nothing below tau - 1e-6 can pass the JVM cut
                & (ratio >= tau_f - 1e-6)
            )
            if rows.size:
                va = vids[rows + lo]
                vb = vids[cols]
                outs.append(
                    pd.DataFrame(
                        {
                            "cluster": key[0],
                            "vid": np.maximum(va, vb),
                            "keep_id": np.minimum(va, vb),
                            "ratio": ratio[rows, cols],
                        }
                    )
                )
        if not outs:
            return empty
        return pd.concat(outs, ignore_index=True)

    cand = (
        assigned.select("cluster", "vid", "vvec", "_vn")
        .groupBy("cluster")
        .applyInPandas(
            pair_fn,
            schema="cluster string, vid long, keep_id long, ratio double",
        )
    )
    pairs = cand.withColumn("pcos_r", F.round("ratio", 6)).filter(
        F.col("pcos_r") >= tau_f
    )
    return pairs.groupBy("vid", "cluster").agg(
        F.min("keep_id").alias("dup_of"),
        F.max("pcos_r").alias("best_cos_r"),
    ).select(
        F.col("vid").alias("vec_id"), "cluster", "dup_of", "best_cos_r"
    )


def prune_prototypes(
    embeddings: DataFrame,
    k: int,
    prune_frac: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SSL-prototypes data pruning (Sorscher et al. 2022, "Beyond neural
    scaling laws"): per cluster, drop the ``prune_frac`` MOST
    PROTOTYPICAL members — the ones closest to their centroid — keeping
    the hard/diverse examples that drive scaling past power laws.

    Same deterministic clustering as :func:`cluster_label_stats`
    (md5-seeded centroids, broadcast max-cosine assignment — one pass,
    oracle-replicable); the prune cut is integer arithmetic
    (``n_prune = floor(prune_frac · |cluster|)`` highest-cosine members,
    (cos desc, id asc) tie-break), so both engines agree exactly.
    → (vec_id, cluster, cos_r, pruned)."""
    from ..errors import EngineError

    if k < 1:
        raise EngineError("prune_prototypes wants k >= 1")
    if not 0.0 <= float(prune_frac) < 1.0:
        raise EngineError("prune_prototypes wants 0 <= prune_frac < 1")
    cents = _seed_centroids(embeddings, k, id_col, vec_col)
    v = embeddings.select(
        F.col(id_col).cast("string").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vvec"),
    )
    cluster_c, cos_c = _best_centroid_cols("vvec", cents)
    # shuffle-free fold assignment (see cluster_label_stats) — the only
    # remaining exchange is the per-cluster rank window below
    assigned = v.select(
        "vid", cluster_c.alias("cid"), cos_c.alias("cos_r")
    )
    wc = Window.partitionBy("cid").orderBy(
        F.col("cos_r").desc(), F.col("vid").asc()
    )
    return (
        assigned
        .withColumn("_pr", F.row_number().over(wc))
        .withColumn("_n", F.count("*").over(Window.partitionBy("cid")))
        .select(
            F.col("vid").alias("vec_id"),
            F.col("cid").alias("cluster"),
            "cos_r",
            (F.col("_pr")
             <= F.floor(F.col("_n") * F.lit(float(prune_frac))))
            .alias("pruned"),
        )
    )
