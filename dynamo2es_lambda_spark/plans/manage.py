"""Document-management APIs over committed stores: _delete_by_query,
_update_by_query, _reindex, and index aliases.

The reference pipeline maintains the search index from a system-of-record
table (DynamoDB streams -> ES bulk actions, /root/reference/lib/
handler.js:100,135-147); these are the engine-side bulk counterparts an
ES operator uses on the same index: delete every doc matching a query,
re-index matched docs with a script applied, rebuild an index from the
source with a filter/transform, and route queries through named aliases.

Everything here reuses the CDC discipline (tombstone batches, checkpoint
claims, LWW finalize) so a management operation is indistinguishable
from a stream batch at the storage layer — resumable, compactable, and
visible to every query path through the same dead-list."""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import IndexerConfig
from ..errors import EngineError
from ..sources import store_io
from . import build, cdc, search


def delete_by_query(
    spark: SparkSession,
    store: search.IndexStore,
    queries: pd.DataFrame,
    mode: str = "or",
    field: str | None = None,
) -> dict:
    """ES ``_delete_by_query``: tombstone every LIVE doc matching the
    analyzed query (OR/AND over its terms).

    Plan: the term-pruned match set (same posting reads as search)
    joins the doc markers for (doc_id, version), bumps the version the
    way a REMOVE event does (operators/actions.py REMOVE+1), and lands
    as ONE tombstone batch + checkpoint claim + finalize — the exact
    storage shape of a delete-only CDC batch (plans/cdc.py:238-260), so
    nothing downstream can tell the difference. The match set never
    leaves the cluster; only the count comes back."""
    hits = search._match_set(spark, store, queries, mode, field)
    if hits is None:
        return {"deleted": 0, "batch": None}
    doomed = (
        hits.select("doc_int")
        .distinct()
        .join(
            store.doc_stats(spark).select("doc_int", "doc_id", "version"),
            "doc_int",
        )
        .select("doc_id", (F.col("version") + F.lit(1)).alias("version"))
    )
    batch_name = f"b{cdc._next_batch_idx(store.path)}"
    n_del = doomed.count()
    if not n_del:
        return {"deleted": 0, "batch": None}
    store_io.write_parquet(
        doomed,
        os.path.join(store.path, "tombstones", f"batch={batch_name}"),
    )
    store_io.write_checkpoint(
        store.path, batch_name,
        {"docs": 0, "blocks": 0, "deletes": n_del, "cdc_only": True},
    )
    build._finalize_store(
        spark, store.path, build.StoreLayout.read(store.path)
    )
    return {"deleted": n_del, "batch": batch_name}


def update_by_query(
    spark: SparkSession,
    source: DataFrame,
    store: search.IndexStore,
    cfg: IndexerConfig,
    queries: pd.DataFrame,
    set_exprs: dict[str, str],
    mode: str = "or",
    field: str | None = None,
    content_col: str = "content",
) -> dict:
    """ES ``_update_by_query`` with a script: re-index every matching
    doc with ``set_exprs`` (column -> SQL expression) applied.

    ES re-reads each hit's ``_source``; our system of record is the
    ``source`` DataFrame (the reference's DynamoDB table — the store
    keeps postings + markers, not raw text). The matched doc_ids
    semi-join the source, the script runs as Column expressions (never
    per-row Python), and the result replays through
    :func:`plans.cdc.apply_changes` as MODIFY events — versioning, LWW,
    dead-listing, and stats refresh all come from the one CDC path.

    ``set_exprs`` should bump ``cfg.version_field`` (e.g. ``{"version":
    "version + 1"}``) so the re-indexed docs supersede the originals.
    Requires ``cfg.id_field`` (scalar) — resolver-identified stores
    have no reversible doc_id -> source key mapping."""
    if not cfg.id_field or not isinstance(cfg.id_field, str):
        raise EngineError(
            "update_by_query needs a scalar cfg.id_field to map matched "
            "doc_ids back to source rows"
        )
    hits = search._match_set(spark, store, queries, mode, field)
    if hits is None:
        return {"upserts": 0, "deletes": 0, "quarantined": 0, "batch": None}
    ids = (
        hits.select("doc_int")
        .distinct()
        .join(store.doc_stats(spark).select("doc_int", "doc_id"), "doc_int")
        .select(F.col("doc_id").alias("_match_id"))
    )
    matched = source.join(
        ids,
        source[cfg.id_field].cast("string") == ids["_match_id"],
        "left_semi",
    )
    upd = matched
    for col, expr in sorted(set_exprs.items()):
        upd = upd.withColumn(col, F.expr(expr))
    img = F.struct(*[F.col(c) for c in upd.columns])
    events = upd.select(
        F.lit("MODIFY").alias("event_name"),
        F.struct(F.col(cfg.id_field)).alias("keys"),
        img.alias("new_image"),
        img.alias("old_image"),
    )
    return cdc.apply_changes(events, cfg, store.path, content_col=content_col)


def reindex(
    spark: SparkSession,
    source: DataFrame,
    cfg: IndexerConfig,
    dest_path: str,
    query_filter: str | None = None,
    transform: dict[str, str] | None = None,
    content_col: str = "content",
    **build_kwargs,
):
    """ES ``_reindex``: rebuild an index from the system of record with
    an optional query filter and per-column script, under a possibly
    different routing config (index_field/index_prefix re-routing is the
    classic reindex use).

    A thin declarative composition — filter and transforms stay Column
    expressions feeding the ordinary :func:`plans.build.build_index`
    plan, so the reindex inherits its fused tokenize pass, one-exchange
    segment build, resumability, and sha256 lineage (the north-rule
    per-row invariant survives any reindex whose transform leaves the
    content columns alone)."""
    src = source
    if query_filter:
        src = src.filter(F.expr(query_filter))
    for col, expr in sorted((transform or {}).items()):
        src = src.withColumn(col, F.expr(expr))
    return build.build_index(
        src, cfg, dest_path, content_col=content_col, **build_kwargs
    )


def put_alias(
    store: search.IndexStore,
    alias: str,
    index: str | None = None,
    filter_term: str | None = None,
) -> search.IndexStore:
    """ES alias API: register ``alias`` on the store as (routed index,
    optional filter term) — ES's filtered-alias pair. Metadata-only
    (one meta.json rewrite); idempotent. Returns a refreshed handle."""
    if not alias:
        raise EngineError("alias name must be non-empty")
    meta = store_io.read_meta(store.path)
    aliases = dict(meta.get("aliases") or {})
    aliases[alias] = {"index": index, "filter_term": filter_term}
    meta["aliases"] = aliases
    with open(os.path.join(store.path, "meta.json"), "w") as f:
        json.dump(meta, f)
    return search.load_store(store.path)


def search_alias(
    spark: SparkSession,
    store: search.IndexStore,
    alias: str,
    queries: pd.DataFrame,
    k: int = 10,
) -> DataFrame:
    """Query through an alias: resolve (index, filter_term) from the
    store's alias registry and run the BM25 OR ranking with ES
    filtered-alias semantics — global BM25 stats, candidate set
    restricted BEFORE the top-k cut (filter-then-rank, the same
    discipline as search(index=...)).

    Both restrictions are distributed semi-joins on doc_int (the index
    one against metadata-sized markers, the filter one against the
    filter term's own match set) — no post-cut filtering that could
    return short pages."""
    spec = (store.meta.get("aliases") or {}).get(alias)
    if spec is None:
        raise EngineError(
            f"unknown alias {alias!r}; defined: "
            f"{sorted((store.meta.get('aliases') or {}))}"
        )
    scored = search._scored_or_match(spark, store, queries, None)
    if scored is None:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id string, score_r double"
        )
    if spec.get("index"):
        allowed = store.doc_stats(spark).filter(
            F.col("index_name") == spec["index"]
        ).select("doc_int")
        scored = scored.join(allowed, "doc_int", "left_semi")
    if spec.get("filter_term"):
        fhits = search._match_set(
            spark, store,
            pd.DataFrame([(0, spec["filter_term"])], columns=["qid", "query"]),
            "or", None,
        )
        if fhits is None:
            return spark.createDataFrame(
                [], "qid long, rank int, doc_id string, score_r double"
            )
        scored = scored.join(
            fhits.select("doc_int").distinct(), "doc_int", "left_semi"
        )
    stats = store.doc_stats(spark).select("doc_int", "doc_id")
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        scored.join(stats, "doc_int")
        .withColumn("score_r", F.round("score", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("qid", "rank", "doc_id", "score_r")
    )


# ----------------------------------------------------------- point-in-time


def _batch_num(col):
    """'b12' -> 12 (batch partition values are b<idx> — plans/build.py
    batch_name / plans/cdc.py _next_batch_idx)."""
    return F.substring(col, 2, 18).cast("long")


def live_as_of(
    spark: SparkSession, store: search.IndexStore, batch: int | str
) -> DataFrame:
    """ES point-in-time / Iceberg-snapshot liveness: the LIVE (doc_int,
    doc_id) set as of batch ``batch`` — recompute the LWW winners
    considering only marker batches and tombstone batches with index <=
    ``batch``. The store's immutable batch log IS the time axis: nothing
    was ever rewritten, so any prefix of it replays exactly.

    Metadata-only (markers + tombstone rows, never postings); the same
    version-desc / tombstone-wins window discipline as
    plans/build._finalize_store, just over the batch-prefix."""
    n = int(str(batch).lstrip("b"))
    ds = store.doc_stats(spark)
    if "batch" not in ds.columns:
        raise EngineError(
            f"store at {store.path} markers carry no batch column — "
            "rebuild to enable point-in-time reads"
        )
    entries = ds.filter(_batch_num(F.col("batch")) <= n).select(
        "doc_id", "version", "doc_int", F.lit(False).alias("is_tomb")
    )
    tomb_path = os.path.join(store.path, "tombstones")
    if os.path.isdir(tomb_path):
        tombs = (
            spark.read.parquet(tomb_path)
            .filter(_batch_num(F.col("batch")) <= n)
            .select(
                "doc_id", "version",
                F.lit(None).cast("long").alias("doc_int"),
                F.lit(True).alias("is_tomb"),
            )
        )
        entries = entries.unionByName(tombs)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("version").desc_nulls_last(),
        F.col("is_tomb").desc(),
        F.col("doc_int").desc_nulls_last(),
    )
    return (
        entries.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & ~F.col("is_tomb"))
        .select("doc_int", "doc_id")
    )


def count_as_of(
    spark: SparkSession,
    store: search.IndexStore,
    batches: list[int | str],
    group_col: str = "lang",
) -> DataFrame:
    """Per-group live counts at several points in time — the PIT gate:
    one row per (batch, group). Each batch's liveness is its own
    metadata window; the union stays metadata-sized."""
    outs = []
    ds = store.doc_stats(spark)
    for b in batches:
        n = int(str(b).lstrip("b"))
        live = live_as_of(spark, store, n)
        outs.append(
            live.join(ds.select("doc_int", group_col), "doc_int")
            .groupBy(F.col(group_col).alias("group"))
            .agg(F.count("*").alias("n_live"))
            .select(
                F.lit(n).cast("long").alias("batch"), "group", "n_live"
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def search_as_of(
    spark: SparkSession,
    store: search.IndexStore,
    queries: pd.DataFrame,
    batch: int | str,
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """BM25 OR ranking against the point-in-time candidate set: the
    match set semi-joins the as-of live list instead of anti-joining the
    current dead list. Scores use the store's CURRENT global statistics
    (documented divergence: ES PIT pins segment stats too; pinning N/df
    per PIT would mean re-deriving term_stats per batch-prefix — the
    candidate-set pin is the part correctness depends on, scores remain
    a consistent ranking)."""
    n = int(str(batch).lstrip("b"))
    prefix, avgdl = search._field_of(store, field)
    qt, _ = search._weighted_terms(
        spark, store, search._query_terms(queries, prefix)
    )
    if qt.empty:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id string, score_r double"
        )
    agg = search._bm25_hits(
        spark, store, qt, avgdl,
        live=live_as_of(spark, store, n).select("doc_int"),
    )
    stats = store.doc_stats(spark).select("doc_int", "doc_id").dropDuplicates(
        ["doc_int"]
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        agg.join(stats, "doc_int")
        .withColumn("score_r", F.round("score", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("qid", "rank", "doc_id", "score_r")
    )
