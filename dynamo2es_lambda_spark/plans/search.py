"""Query engine: top-k BM25 over the posting-block store.

Query lifecycle (SURVEY.md §3.2 engine analog):
  queries → tokenize (same pinned analyzer, one pass per batch:
  ``_query_terms``) → the term step ``_term_table`` (one targeted
  term_stats read for df(t) + storage bucket, the pre-drop AND ``need``,
  unindexed terms dropped) → per-(qid, term) weight
  ``w = idf(N, df) * (k1+1) * qtf`` (``_weighted_terms``) → the candidate
  aggregate ``_bm25_hits``: targeted posting read (parquet directory
  pruning on term_bucket + row-group min/max on term) joined to the tiny
  query-term table → vectorized block scoring (Arrow batches, numpy) →
  groupBy(qid, doc) partial-sum + matched-term count → dead docs dropped →
  AND / minimum_should_match gate → rank()-with-ties pre-cut → doc_id join
  → deterministic final rank (score desc, doc_id asc). Query types whose
  rule does not fit (clause packing, positional kernels, non-BM25 weights)
  take only the term step and keep their own aggregation.

The only full shuffle is the per-candidate groupBy — its volume is the
matched postings, already pruned to query terms. Everything else is
broadcast or metadata-sized.

Scale posture (no driver-side corpus materialization anywhere):
  - the dead list (superseded versions / tombstones) is applied as a
    distributed anti-join on the candidate aggregate in the exhaustive /
    facet / expansion / phrase paths;
  - WAND needs per-document filtering INSIDE the scorer (dead or
    out-of-index docs must not burn heap slots), so the dead list and the
    index filter's allow set are routed to each (qid, seg) group with a
    cogroup — volume proportional to the constrained docs × queries, all
    executor-side (see ``_segment_constraints``);
  - multi-term expansions (prefix / wildcard / fuzzy) are matched and
    capped JVM-side (``row_number`` window over a term_stats join); only
    the capped set (≤ patterns × max_expansions rows) ever reaches the
    driver.

Scoring algorithms:
  - ``exhaustive``: decode every matching block, score all postings. The
    oracle-grade reference path.
  - ``wand`` (block-max WAND): per-(qid, seg) document-at-a-time with a k-heap
    and block upper bounds (max_tf/min_dl metadata → bm25.block_upper_bound);
    skips blocks that cannot beat the running threshold. Safe/exact: returns
    rank-identical results (asserted in tests). Segments are disjoint doc
    ranges, so per-segment top-k heaps merge exactly.
"""

from __future__ import annotations

import json
import math
import os
from collections import Counter
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..errors import EngineError
from ..functions import analysis, bm25, codec
from ..sources import store_io

RESULT_SCHEMA = "qid long, rank int, doc_id string, score double"
# per-posting / per-candidate rows of every Python scoring kernel
_SCORES_SCHEMA = "qid long, doc_int long, score double"


@dataclass
class IndexStore:
    path: str
    meta: dict
    _n_dead: int | None = None

    def _segments(self, spark: SparkSession) -> DataFrame:
        """The store's segment tree as ONE lazily-resolved DataFrame,
        memoized per (handle, session). A query path touches the tree
        several times (postings + doc stats + constraint routing); each
        fresh ``spark.read`` re-lists the partition directories, and past
        32 leaf dirs that listing is its own distributed Spark job —
        reusing the resolved plan does the listing once per handle. The
        read takes the schema pinned in meta.json (``segments_schema``), so
        resolving it runs no schema-inference job. This memoizes file
        METADATA only (never rows or results); reload the store after
        apply_changes/compact_store, as for n_dead."""
        cache = self.__dict__.setdefault("_seg_cache", {})
        key = spark.sparkContext.applicationId
        df = cache.get(key)
        if df is None:
            df = store_io.read_store(spark, self.path)
            cache[key] = df
        return df

    def postings(self, spark: SparkSession) -> DataFrame:
        return store_io.select_blocks(self._segments(spark))

    def doc_stats(self, spark: SparkSession) -> DataFrame:
        extra = tuple(self.meta.get("doc_meta_cols") or ())
        df = self._segments(spark).filter(F.col("part") == "doc")
        keep = [
            c
            for c in ("doc_int", "doc_id", "index_name", "doc_type",
                      "parent", "version", "dl", "field_dls",
                      "content_sha256", "lang", "ts", "batch", *extra)
            if c in df.columns
        ]
        return df.select(*keep)

    def doc_rows(self, spark: SparkSession,
                 cols: tuple = ("doc_int", "seg")) -> DataFrame:
        """read_doc_rows twin over the memoized segment frame (see
        sources/store_io.read_doc_rows for the doc_seg contract)."""
        df = self._segments(spark).filter(F.col("part") == "doc")
        if "doc_seg" not in df.columns:
            raise EngineError(
                f"store at {self.path} predates the doc_seg marker column "
                "— rebuild the index to enable segment-routed constraints"
            )
        sel = [
            F.col("doc_seg").alias("seg") if c == "seg" else F.col(c)
            for c in cols
            if c == "seg" or c in df.columns
        ]
        return df.select(*sel)

    def term_stats(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.path, "term_stats"))

    def n_dead(self) -> int:
        """Dead-list row count from parquet FOOTERS (driver metadata read —
        no Spark job, no row materialization). Cached per store handle;
        reload the store after apply_changes/compact_store."""
        if self._n_dead is None:
            self._n_dead = store_io.parquet_num_rows(
                os.path.join(self.path, "dead")
            )
        return self._n_dead

    def dead_df(self, spark: SparkSession) -> DataFrame:
        """doc_ints superseded by newer versions or tombstoned
        (plans/build._finalize_store) — a DataFrame, never collected; the
        query paths anti-join or cogroup against it."""
        # fixed one-column writer schema — skip the inference job
        return spark.read.schema("doc_int bigint").parquet(
            os.path.join(self.path, "dead")
        )


def load_store(path: str) -> IndexStore:
    with open(os.path.join(path, "meta.json")) as f:
        return IndexStore(path=path, meta=json.load(f))


def _query_terms(queries: pd.DataFrame, prefix: str = "") -> pd.DataFrame:
    """(qid, query) → (qid, term, qtf); duplicate query terms fold into qtf
    (Lucene duplicate-term boost semantics) and every term takes the field
    qualifier ``prefix``. One tokenize pass over the whole query column."""
    toks = analysis.tokenize_series(pd.Series(list(queries["query"])))
    rows = [
        (int(qid), prefix + t, int(c))
        for qid, q_toks in zip(queries["qid"], toks)
        for t, c in sorted(Counter(q_toks).items())
    ]
    return pd.DataFrame(rows, columns=["qid", "term", "qtf"])


def _exact_terms(queries: pd.DataFrame, prefix: str) -> pd.DataFrame:
    """(qid, term) verbatim dictionary terms (ES ``term``: no analysis,
    lowercase like the dictionary) → distinct (qid, term, qtf = 1) rows
    under the field qualifier ``prefix``."""
    qt = queries[["qid", "term"]].copy()
    qt["term"] = prefix + qt["term"].astype(str).str.lower()
    return qt.drop_duplicates().assign(qtf=1)


def _field_of(store: IndexStore, field: str | None) -> tuple[str, float]:
    """Resolve a query's target field on a store → (term prefix, avgdl).

    Single-field stores: empty prefix, global avgdl (``field`` must be
    omitted). Multi-field stores (built with ``build_index(fields=...)``):
    terms are qualified ``"<field>:<token>"`` and every BM25 length norm
    uses THAT field's avgdl; ``field=None`` targets the first (default)
    field — so existing call sites keep working against either store kind.
    """
    flds = store.meta.get("fields")
    if not flds:
        if field is not None:
            raise EngineError(
                f"store has no named fields (single-field); got field={field!r}"
            )
        return "", float(store.meta["avgdl"])
    f = field if field is not None else flds[0]
    if f not in flds:
        raise EngineError(f"unknown field {f!r}; store fields: {flds}")
    return f + ":", float(store.meta["avgdl_fields"][f])


def _drop_dead(spark: SparkSession, store: IndexStore, df: DataFrame) -> DataFrame:
    """Remove dead docs from a (..., doc_int, ...) frame — distributed
    anti-join, exact wherever dead docs cannot affect other docs' scores
    (every additive-BM25 path). Skipped entirely (footer check, no job)
    when the store has no dead rows."""
    if store.n_dead():
        return df.join(store.dead_df(spark), "doc_int", "left_anti")
    return df


def _check_mode(mode: str) -> None:
    if mode not in ("or", "and"):
        raise ValueError(f"unknown mode {mode!r}: expected 'or' or 'and'")


def _term_table(
    spark: SparkSession, store: IndexStore, qt: pd.DataFrame
) -> tuple[pd.DataFrame, dict]:
    """The term step of the query paths: attach df(t) and the storage bucket
    to a (qid, term, ...) table of field-qualified terms via one targeted
    term_stats read (metadata-sized), then drop the terms the index does
    not hold. Returns ``(live_qt, need_by_qid)``: ``need_by_qid`` counts
    each qid's terms BEFORE the drop — the AND ``need`` an unindexed term
    can never meet. ``live_qt`` is empty when nothing can match.

    The read is driver-side (:func:`store_io.sorted_read` over the
    term-sorted files, plans/build._finalize_store); stores pyarrow cannot
    read take one Spark filter job instead. Tolerates legacy stores
    without the term_bucket column."""
    if qt.empty:
        return qt.assign(df=np.nan), {}
    terms = sorted(qt["term"].unique().tolist())
    ts = store_io.sorted_read(
        os.path.join(store.path, "term_stats"), "term",
        ("term", "df", "term_bucket"), keys=terms,
    )
    if ts is None:
        ts = store.term_stats(spark).filter(F.col("term").isin(terms))
        ts = ts.toPandas()
    ts = ts.set_index("term")
    qt = qt.assign(df=qt["term"].map(ts["df"]) if len(ts) else float("nan"))
    if "term_bucket" in ts.columns and len(ts):
        qt["bucket"] = qt["term"].map(ts["term_bucket"])
    need_by_qid = qt.groupby("qid").size().to_dict()
    return qt.dropna(subset=["df"]).copy(), need_by_qid


def _weighted_terms(
    spark: SparkSession, store: IndexStore, qt: pd.DataFrame
) -> tuple[pd.DataFrame, dict]:
    """:func:`_term_table` plus the BM25 query weight
    ``w = bm25.query_weight(N, df, qtf)`` of every live term."""
    qt, need_by_qid = _term_table(spark, store, qt)
    qt["w"] = bm25.query_weight(
        float(store.meta["n_docs"]), qt["df"], qt["qtf"].to_numpy()
    )
    return qt, need_by_qid


def _all_terms_live(qt: pd.DataFrame, need_by_qid: dict) -> pd.DataFrame:
    """The rows of the qids that lost no term in the term step — AND and
    span semantics, where one unindexed term means the qid cannot match."""
    n_live = qt.groupby("qid")["term"].transform("size")
    return qt[n_live == qt["qid"].map(need_by_qid)]


def _bm25_hits(
    spark: SparkSession,
    store: IndexStore,
    qt: pd.DataFrame,
    avgdl: float,
    mode: str = "or",
    need: dict | None = None,
    msm: int | None = None,
    live: DataFrame | None = None,
) -> DataFrame:
    """The BM25 candidate aggregate of a weighted term table: pruned block
    read → exhaustive scoring → ONE groupBy(qid, doc_int) with the summed
    score and ``nt`` (matched distinct terms) → dead docs dropped → the
    gate: ``mode="and"`` keeps docs matching all ``need[qid]`` terms,
    otherwise ``msm`` (when set) keeps docs matching at least that many.
    ``live`` (a doc_int frame) replaces the dead-list anti-join with a
    semi-join on that set (a point-in-time live list). Returns
    (qid, doc_int, score, nt)."""
    _check_mode(mode)
    cand = _score_exhaustive(_matched_blocks(spark, store, qt), avgdl)
    agg = cand.groupBy("qid", "doc_int").agg(
        F.sum("score").alias("score"), F.count("*").alias("nt")
    )
    if live is None:
        agg = _drop_dead(spark, store, agg)
    else:
        agg = agg.join(live, "doc_int", "left_semi")
    if mode == "and":
        need_df = spark.createDataFrame(
            pd.DataFrame({"qid": list(need), "need": list(need.values())})
        )
        return agg.join(F.broadcast(need_df), "qid").filter(
            F.col("nt") == F.col("need")
        ).drop("need")
    if msm is not None:
        return agg.filter(F.col("nt") >= int(msm))
    return agg


def search(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    mode: str = "or",
    algo: str = "exhaustive",
    index: str | None = None,
    field: str | None = None,
    minimum_should_match: int | None = None,
    search_after: tuple | None = None,
) -> DataFrame:
    """Top-k BM25. ``queries``: pandas (qid, query); ``k`` applies to every
    query. Returns (qid, rank, doc_id, score) — empty for queries with no
    matching term.

    ``index`` restricts results to one routed index (the reference's
    ``_index``, lib/handler.js:61-62) with ES filtered-query semantics:
    BM25 stats stay those of the whole store; only the candidate set is
    restricted. Exhaustive applies it as a semi-join on the candidate
    aggregate; WAND folds it into each (qid, seg) scorer group via cogroup
    (``_segment_constraints``) so out-of-index docs never burn heap slots —
    both fully distributed.

    ``field`` targets one field of a multi-field store (ES ``match`` on a
    named field); default = the store's first field. Terms are qualified
    and the length norm uses the field's avgdl — WAND bounds stay exact
    because the per-posting dl is already field-local.

    ``minimum_should_match`` (ES ``match`` parameter): in OR mode require
    at least that many DISTINCT query terms to match. On the WAND path the
    gate folds into the scorer as a per-candidate distinct-term floor
    (tau taken over already-qualified candidates only — see
    ``_score_wand``).

    ``search_after`` = (score, doc_id): ES keyset pagination — return the
    next ``k`` results strictly after that cursor in (score desc, doc_id
    asc) order. Deterministic deep paging without a growing offset; pass
    the LAST row of the previous page. Both scorers: WAND certifies
    candidates below the cursor before they may set the heap threshold,
    so deep pages keep block-max pruning instead of falling back to an
    exhaustive scan."""
    _check_mode(mode)
    prefix, avgdl = _field_of(store, field)
    # AND semantics count ALL query terms — a term absent from the index can
    # never match, so such queries return empty (ES operator=and behavior)
    qt, n_terms_by_qid = _weighted_terms(
        spark, store, _query_terms(queries, prefix)
    )
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)

    if algo == "exhaustive":
        agg = _bm25_hits(
            spark, store, qt, avgdl, mode, need=n_terms_by_qid,
            msm=minimum_should_match,
        )
        if index is not None:
            allowed = store.doc_stats(spark).filter(
                F.col("index_name") == index
            ).select("doc_int")
            agg = agg.join(allowed, "doc_int", "left_semi")
    elif algo == "wand":
        joined = _matched_blocks(spark, store, qt)
        constraints = None
        if index is not None or store.n_dead():
            constraints = _segment_constraints(
                spark, store,
                sorted({int(q) for q in qt["qid"]}),
                index,
            )
        # each doc_int lives in exactly one (qid, seg) scorer group, so the
        # scorer's rows are already per-doc totals — no aggregate needed
        agg = _score_wand(
            joined, avgdl, k,
            constraints=constraints, has_allow=index is not None,
            mode=mode,
            msm=minimum_should_match if mode == "or" else None,
            need_by_qid=n_terms_by_qid if mode == "and" else None,
            cursor=float(search_after[0]) if search_after is not None
            else None,
        )
    else:
        raise ValueError(f"unknown algo: {algo}")

    if search_after is not None:
        s0, d0 = float(search_after[0]), str(search_after[1])
        stats = store.doc_stats(spark).select("doc_int", "doc_id")
        named = agg.join(stats, "doc_int").filter(
            (F.col("score") < s0)
            | ((F.col("score") == s0) & (F.col("doc_id") > d0))
        )
        w = Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        return (
            named.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "doc_id", "score")
        )
    # the cut keeps the broadcast into _present k-sized per qid (WAND
    # emits up to k rows per segment)
    return _present(spark, store, _cut_topk(agg, k), k)


EXPLAIN_SCHEMA = (
    "term string, qtf long, df long, idf double, tf long, dl long, "
    "norm double, contribution double"
)


def explain_score(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    doc_id: str,
    field: str | None = None,
) -> DataFrame:
    """ES ``_explain`` analog: the per-term BM25 breakdown of ONE document
    against ONE analyzed query — (term, qtf, df, idf, tf, dl, norm,
    contribution), where contribution = qtf × idf × (k1+1) × norm and the
    sum equals the doc's search() score exactly (asserted in tests).

    A debugging call, sized accordingly: a metadata doc_id lookup plus the
    handful of posting blocks whose [doc_first, doc_last] range covers the
    doc (block metadata pruning), decoded driver-side.

    The lookup resolves the LIVE doc_int: dead rows (superseded versions,
    tombstones) are anti-joined away first, and among surviving marker rows
    the highest doc_int wins (the latest indexed row) — so the explanation
    always describes the doc search() would actually return, and a fully
    dead doc_id explains to empty."""
    prefix, avgdl = _field_of(store, field)
    n_docs = float(store.meta["n_docs"])
    qt, _ = _term_table(spark, store, _query_terms(
        pd.DataFrame({"qid": [0], "query": [query]}), prefix
    ))
    if qt.empty:
        return spark.createDataFrame([], EXPLAIN_SCHEMA)
    live = _drop_dead(
        spark,
        store,
        store.doc_stats(spark)
        .filter(F.col("doc_id") == str(doc_id))
        .select("doc_int"),
    )
    row = live.orderBy(F.col("doc_int").desc()).first()
    if row is None:
        return spark.createDataFrame([], EXPLAIN_SCHEMA)
    di = int(row["doc_int"])
    qt["w"] = 1.0  # weights recomputed below; column required by the join
    blocks = (
        _matched_blocks(spark, store, qt)
        .filter((F.col("doc_first") <= di) & (F.col("doc_last") >= di))
        .select("term", "n_docs", "doc_first", "doc_bytes", "tf_bytes",
                "dl_bytes")
        .toPandas()
    )
    ids, tfs, dls = codec.decode_blocks(blocks)
    terms = np.repeat(
        blocks["term"].to_numpy(object), blocks["n_docs"].to_numpy(np.int64)
    )
    hit = ids == di
    out = []
    dfs = dict(zip(qt["term"], qt["df"]))
    qtfs = dict(zip(qt["term"], qt["qtf"]))
    for term, tf, dl in zip(terms[hit], tfs[hit].tolist(), dls[hit].tolist()):
        df_t = float(dfs[term])
        idf = float(bm25.idf(n_docs, df_t))
        norm = float(bm25.tf_norm(np.array([tf]), np.array([dl]), avgdl)[0])
        qtf = int(qtfs[term])
        out.append(
            (
                term[len(prefix):] if prefix else term,
                qtf, int(df_t), idf, tf, dl, norm,
                qtf * idf * (bm25.K1 + 1.0) * norm,
            )
        )
    out.sort(key=lambda x: x[0])
    return spark.createDataFrame(out, EXPLAIN_SCHEMA)


def multi_match(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    fields: dict[str, float] | list[str],
    k: int = 10,
    match_type: str = "best_fields",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """ES ``multi_match`` over a multi-field store: run the query against
    every listed field (optionally boosted: ``{"content": 1.0, "path": 2.0}``)
    and combine per-doc — ``best_fields`` = best field score + tie_breaker ×
    the rest (ES default, a dis_max over fields); ``most_fields`` = sum of
    all field scores.

    One pruned posting read + one exhaustive scoring pass serves every
    (query, field) pair: fields pack into composite qids and each term row
    carries its field's boost-folded weight AND its field's avgdl (the
    per-posting dl is already field-local), so the combine is a single
    groupBy — no per-field scan."""
    if isinstance(fields, dict):
        fmap = {str(f): float(b) for f, b in fields.items()}
    else:
        fmap = {str(f): 1.0 for f in fields}
    if not fmap:
        raise EngineError("multi_match needs at least one field")
    if match_type not in ("best_fields", "most_fields"):
        raise EngineError(f"unknown multi_match type: {match_type}")
    qt0 = _query_terms(queries)
    if qt0.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)

    parts = []
    for i, (f, boost) in enumerate(sorted(fmap.items())):
        prefix, f_avgdl = _field_of(store, f)
        p = qt0.copy()
        p["qid"] = p["qid"] * _DISMAX_CLAUSE_STRIDE + i
        p["term"] = prefix + p["term"]
        p["boost"] = boost
        p["avgdl"] = f_avgdl
        parts.append(p)
    qt, _ = _weighted_terms(spark, store, pd.concat(parts, ignore_index=True))
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    qt["w"] = qt["w"] * qt["boost"].to_numpy()
    joined = _matched_blocks(spark, store, qt)
    cand = _score_exhaustive(joined, 0.0)  # per-term avgdl column overrides
    per_field = cand.groupBy("qid", "doc_int").agg(
        F.sum("score").alias("score")
    )
    grouped = per_field.withColumn(
        "_q", (F.col("qid") / _DISMAX_CLAUSE_STRIDE).cast("long")
    ).groupBy(F.col("_q").alias("qid"), F.col("doc_int"))
    if match_type == "best_fields":
        combined = grouped.agg(
            (
                F.max("score")
                + F.lit(float(tie_breaker))
                * (F.sum("score") - F.max("score"))
            ).alias("score")
        )
    else:
        combined = grouped.agg(F.sum("score").alias("score"))
    combined = _drop_dead(spark, store, combined)
    return _present(spark, store, _cut_topk(combined, k), k)


def _decode_tfs(joined: DataFrame) -> DataFrame:
    """Decode matched blocks to RAW (qid, term, doc_int, tf) rows — no
    scoring. combined_fields needs per-field term freqs before any length
    norm (the norm applies to the cross-field combined tf)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # batch-level decode (guide §4.2) — same shape as
        # _score_exhaustive; dl payloads never cross the boundary (the
        # cross-field combined tf norm applies later)
        for pdf in batches:
            if not len(pdf):
                continue
            counts = pdf["n_docs"].to_numpy(np.int64)
            ids, tfs, _ = codec.decode_blocks(pdf)
            yield pd.DataFrame(
                {"qid": np.repeat(pdf["qid"].to_numpy(np.int64), counts),
                 "term": np.repeat(pdf["term"].to_numpy(object), counts),
                 "doc_int": ids,
                 "tf": tfs}
            )

    return joined.select(
        "qid", "term", "n_docs", "doc_first", "doc_bytes", "tf_bytes"
    ).mapInPandas(run, schema="qid long, term string, doc_int long, tf long")


def search_synonyms(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    synonyms: dict[str, list[str]],
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """ES query-time synonym expansion (``synonym_graph`` filter at
    search time): each analyzed query token expands to its synonym group,
    and the group scores as ONE pseudo-term — Lucene ``SynonymQuery``
    blending, not a plain OR: per doc ``tf = Σ tf`` over the group's
    members, ``df = max`` member df (so a rare synonym cannot inflate the
    group's idf), ONE BM25 contribution per group. Groups then OR-sum
    per doc like ordinary match terms.

    ``synonyms`` maps an analyzed token to its equivalents (single-token
    each — multi-word synonyms are a graph feature this engine expresses
    through span_or instead; a multi-token synonym raises). A group with
    at least one indexed member matches; fully-unindexed groups drop out
    (OR semantics).

    Plan shape: one term_stats read (df for every member, query-sized),
    one pruned posting read for all groups, tf-blend in a single hash
    aggregation, then a metadata-sized doc_stats join for the length
    norm — JVM expressions end to end after the decode hop."""
    prefix, avgdl = _field_of(store, field)
    n_docs = float(store.meta["n_docs"])
    rows = []                      # (gid, qualified member term)
    gmeta: list[tuple[int, int, int]] = []   # (gid, qid, qtf)
    gid = 0
    for qid, q in zip(queries["qid"], queries["query"]):
        toks = analysis.tokenize_series(pd.Series([str(q)]))[0]
        for t, c in sorted(Counter(toks).items()):
            members = [t]
            for s in synonyms.get(t, []):
                st = analysis.tokenize_series(pd.Series([str(s)]))[0]
                if len(st) != 1:
                    raise EngineError(
                        f"synonym {s!r} is not a single token — express "
                        "multi-word synonyms with search_span_or"
                    )
                if st[0] not in members:
                    members.append(st[0])
            for m in members:
                rows.append((gid, prefix + m))
            gmeta.append((gid, int(qid), int(c)))
            gid += 1
    if not rows:
        return spark.createDataFrame([], RESULT_SCHEMA)
    qt = pd.DataFrame(rows, columns=["qid", "term"])
    qt["qtf"] = 1
    qt, _ = _term_table(spark, store, qt)
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    qt["w"] = 1.0  # unused by the raw-tf decode; blending happens below
    df_max = qt.groupby("qid")["df"].max()
    joined = _matched_blocks(spark, store, qt)
    raw = _decode_tfs(joined)
    per_group = raw.groupBy("qid", "doc_int").agg(
        F.sum("tf").alias("tf")
    )
    live_gids = set(df_max.index)
    wrows = [
        (g, rq, float(bm25.query_weight(n_docs, df_max[g], qtf)))
        for g, rq, qtf in gmeta
        if g in live_gids
    ]
    wdf = spark.createDataFrame(
        pd.DataFrame(wrows, columns=["gid", "rqid", "w"])
    )
    flds = store.meta.get("fields") or []
    dl_col = (
        F.col("field_dls")[flds.index(field if field else flds[0])]
        if prefix
        else F.col("dl")
    )
    stats = store.doc_stats(spark).select(
        "doc_int", dl_col.cast("double").alias("_dl")
    )
    scored = (
        per_group.join(
            F.broadcast(wdf), per_group["qid"] == wdf["gid"]
        )
        .join(stats, "doc_int")
        .withColumn(
            "score",
            F.col("w") * F.col("tf")
            / (
                F.col("tf")
                + F.lit(bm25.K1)
                * (
                    F.lit(1.0 - bm25.B)
                    + F.lit(bm25.B) * F.col("_dl") / F.lit(avgdl)
                )
            ),
        )
        .groupBy(F.col("rqid").alias("qid"), F.col("doc_int"))
        .agg(F.sum("score").alias("score"))
    )
    scored = _drop_dead(spark, store, scored)
    return _present(spark, store, _cut_topk(scored, k), k)


def search_combined_fields(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    fields: dict[str, float] | list[str],
    k: int = 10,
) -> DataFrame:
    """ES ``combined_fields`` (the principled BM25F-style alternative to
    multi_match): the listed fields merge into ONE pseudo-field BEFORE
    scoring — per (term, doc) ``tf_comb = Σ_f w_f · tf_f``, per doc
    ``dl_comb = Σ_f w_f · dl_f`` (from the marker ``field_dls``),
    ``avgdl_comb = Σ_f w_f · avgdl_f``, and df = docs containing the term
    in ANY listed field — then ONE BM25 per term. Weights are the ES
    per-field boosts and must be ≥ 1 (ES constraint); all fields share
    the store's single analyzer (ES requires compatible analysis).

    Plan: one pruned posting read covers every (term, field) variant; the
    raw tfs decode once, combine in a single (qid, term, doc) hash
    aggregation, and the pseudo-field df comes from a window count over
    that aggregate — EXACT (the candidate rows hold every doc containing
    the term in any field) with no second posting pass and no driver
    materialization. Like ES, df counts not-yet-merged deleted docs (the
    dead list filters candidates after scoring, exactly as the other
    additive paths do)."""
    flds = store.meta.get("fields")
    if not flds:
        raise EngineError("combined_fields needs a multi-field store")
    if isinstance(fields, dict):
        fmap = {str(f): float(w) for f, w in fields.items()}
    else:
        fmap = {str(f): 1.0 for f in fields}
    if not fmap:
        raise EngineError("combined_fields needs at least one field")
    for f, w in fmap.items():
        if f not in flds:
            raise EngineError(f"unknown field {f!r}; store fields: {flds}")
        if w < 1.0:
            raise EngineError(
                f"combined_fields weight for {f!r} must be >= 1 (ES rule)"
            )
    n_docs = float(store.meta["n_docs"])
    avgdl_comb = sum(
        w * float(store.meta["avgdl_fields"][f]) for f, w in fmap.items()
    )

    qt0 = _query_terms(queries)
    if qt0.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    parts = []
    for f, w in sorted(fmap.items()):
        p = qt0.copy()
        p["base"] = p["term"]
        p["term"] = f + ":" + p["term"]
        p["fw"] = w
        parts.append(p)
    qt = pd.concat(parts, ignore_index=True)
    qt["w"] = 1.0  # required by the block join; weights apply post-decode
    qt, _ = _term_table(spark, store, qt)
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)

    raw = _decode_tfs(_matched_blocks(spark, store, qt))
    tmap = spark.createDataFrame(
        qt[["qid", "term", "base", "qtf", "fw"]].drop_duplicates()
    )
    rows = raw.join(F.broadcast(tmap), ["qid", "term"])
    per = (
        rows.groupBy("qid", "base", "qtf", "doc_int")
        .agg(F.sum(F.col("fw") * F.col("tf")).alias("tf_comb"))
    )
    w_df = Window.partitionBy("qid", "base")
    idx = {f: flds.index(f) for f in fmap}
    dl_expr = None
    for f, w in sorted(fmap.items()):
        term_dl = F.col("field_dls")[idx[f]].cast("double") * F.lit(float(w))
        dl_expr = term_dl if dl_expr is None else dl_expr + term_dl
    stats = store.doc_stats(spark).select(
        "doc_int", dl_expr.alias("_dlc")
    )
    dfc = F.count("*").over(w_df).cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))
    )
    tf_c = F.col("tf_comb")
    norm = tf_c / (
        tf_c
        + F.lit(bm25.K1)
        * (
            F.lit(1.0 - bm25.B)
            + F.lit(bm25.B) * F.col("_dlc") / F.lit(avgdl_comb)
        )
    )
    scored = (
        per.withColumn("_idf", idf)
        .join(stats, "doc_int")
        .withColumn(
            "score",
            F.col("qtf") * F.col("_idf") * F.lit(bm25.K1 + 1.0) * norm,
        )
    )
    agg = scored.groupBy("qid", "doc_int").agg(F.sum("score").alias("score"))
    agg = _drop_dead(spark, store, agg)
    return _present(spark, store, _cut_topk(agg, k), k)


def _segment_constraints(
    spark: SparkSession,
    store: IndexStore,
    qids: list[int],
    index: str | None,
) -> DataFrame:
    """(qid, seg, doc_int, kind) rows routed to the WAND scorer's (qid, seg)
    groups via cogroup — the distributed replacement for the round-1
    driver-side collect of the corpus's doc_ints (VERDICT r1 "What's wrong"
    #1/#3). kind='allow' rows are the index filter's inclusion set;
    kind='dead' rows are superseded/tombstoned docs.

    Each doc-stat marker row carries the segment its postings landed in
    (plans/build._build_batch_once writes it on every marker), so
    the constraint rows reach exactly the scorer group that will decode the
    doc. Volume = |constrained docs| × |queries|: queries are few in batch
    analytics and the crossJoin broadcasts the tiny qid side."""
    parts = []
    if index is not None:
        doc_rows = store.doc_rows(
            spark, cols=("doc_int", "seg", "index_name")
        )
        parts.append(
            doc_rows.filter(F.col("index_name") == index)
            .select("seg", "doc_int", F.lit("allow").alias("kind"))
        )
    if store.n_dead():
        doc_rows = store.doc_rows(spark, cols=("doc_int", "seg"))
        parts.append(
            doc_rows.join(store.dead_df(spark), "doc_int", "left_semi")
            .select("seg", "doc_int", F.lit("dead").alias("kind"))
        )
    cons = parts[0]
    for p in parts[1:]:
        cons = cons.unionByName(p)
    qdf = spark.createDataFrame(
        pd.DataFrame({"qid": np.asarray(qids, dtype=np.int64)})
    )
    return cons.crossJoin(F.broadcast(qdf)).select(
        "qid", "seg", "doc_int", "kind"
    )


def _present(
    spark: SparkSession, store: IndexStore, topk: DataFrame, k: int
) -> DataFrame:
    """(qid, doc_int, score) → final (qid, rank, doc_id, score)."""
    # doc_int → doc_id; result side is tiny → broadcast it into doc_stats scan
    stats = store.doc_stats(spark).select("doc_int", "doc_id")
    named = stats.join(F.broadcast(topk), "doc_int")
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        named.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def _bool_match_scores(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    minimum_should_match: int | None = None,
    field: str | None = None,
    range_filter: dict | None = None,
) -> DataFrame | None:
    """ES ``bool`` query: per qid, ``must`` terms are all required (AND,
    scored), ``should`` terms add score when present (OR, optional), and
    docs containing ANY ``must_not`` term are excluded.

    ``queries``: pandas (qid, must, should, must_not[, filter]) — each a
    query string (empty string = clause absent). With no must clause,
    candidates are the should matches (ES behavior when bool has only
    should). Scores are the summed BM25 of matched must + should terms;
    must_not contributes no score (a pure filter, like ES filter-context
    exclusion), and the optional ``filter`` clause is ES filter context:
    ALL its terms are required but contribute NO score (cacheable
    yes/no match in ES; here it rides the same fused read). A qid WITH a
    must clause whose terms are all unindexed matches nothing (the ``need``
    table is built before unindexed terms are dropped, so nt_must can never
    reach it); same for an unindexed filter term.

    ``minimum_should_match`` (ES parameter of the same name): None keeps
    the ES default — should is optional when a must clause exists, and ≥1
    should term must match otherwise; an explicit integer requires that
    many DISTINCT should terms to match in both cases.

    ``range_filter`` adds an ES ``range`` clause to the filter context of
    EVERY query in the batch (like ``field``, a batch-wide setting):
    ``{"col": "dl", "gte": 10, "lt": 50}`` keeps only candidates whose
    doc_stats column satisfies the bounds — required, unscored, exactly a
    bool filter holding a range query. Implemented as a semi-join against
    the metadata-sized doc_stats scan, applied AFTER the term gate and
    BEFORE the top-k cut. Term-clause-free range queries go through
    :func:`search_range` instead.

    ONE fused pipeline for all three clauses: the clause index rides the
    low 2 bits of a composite qid (qid<<2 | clause) through the shared
    term-stats read, block read and scoring, and bool semantics resolve in
    a single per-(qid, doc) aggregation — one shuffle total, vs one full
    pipeline per clause. ``field`` targets one field of a multi-field store.
    """
    # (shared by search_bool — which cuts/presents — and search_nested,
    # which aggregates per parent BEFORE any cut)
    prefix, avgdl = _field_of(store, field)
    frames = []
    clause_cols = [(0, "must"), (1, "should"), (2, "must_not")]
    if "filter" in queries.columns:
        clause_cols.append((3, "filter"))
    for idx, col in clause_cols:
        q = queries[["qid", col]].rename(columns={col: "query"})
        q = q[q["query"].astype(str).str.len() > 0]
        qt_i = _query_terms(q)
        if qt_i.empty:
            continue
        qt_i["qid"] = qt_i["qid"] * 4 + idx
        # per-CLAUSE field targeting (multi-field stores): an optional
        # "<clause>_field" column routes that clause to a named field —
        # its terms take the field's prefix and field-local avgdl (the
        # per-term avgdl column overrides the scalar in
        # _score_exhaustive, same mechanism multi_match uses). The ES
        # nested query needs this: must clauses over different subfields
        # of one element.
        fcol = f"{col}_field"
        if fcol in queries.columns:
            fld_by_qid = {
                int(q_): str(f_)
                for q_, f_ in zip(queries["qid"], queries[fcol].fillna(""))
                if str(f_)
            }
            pa = [
                _field_of(store, fld_by_qid[q_])
                if q_ in fld_by_qid
                else (prefix, avgdl)
                for q_ in (qt_i["qid"] // 4).astype(int)
            ]
            qt_i["term"] = [
                p_ + t for (p_, _), t in zip(pa, qt_i["term"])
            ]
            qt_i["avgdl"] = [a_ for _, a_ in pa]
        else:
            if prefix:
                qt_i["term"] = prefix + qt_i["term"]
            qt_i["avgdl"] = avgdl
        frames.append(qt_i)
    if not frames:
        return None
    qt, need = _weighted_terms(
        spark, store, pd.concat(frames, ignore_index=True)
    )
    # per-qid required must- and filter-term counts from the pre-drop
    # ``need``: an unindexed must term still counts (→ can never be met)
    n_must = {cq // 4: int(n) for cq, n in need.items() if cq % 4 == 0}
    n_filter = {cq // 4: int(n) for cq, n in need.items() if cq % 4 == 3}
    # qids that DECLARED a should clause (pre-drop): ES applies
    # minimum_should_match only to those — a must-only query is untouched
    has_should = {cq // 4 for cq in need if cq % 4 == 1}
    if qt.empty:
        return None

    joined = _matched_blocks(spark, store, qt)
    cand = _score_exhaustive(joined, avgdl)
    clause = F.col("qid").bitwiseAND(F.lit(3))
    agg = (
        cand.select(
            F.shiftright("qid", 2).alias("qid"),
            clause.alias("clause"),
            "doc_int",
            "score",
        )
        .groupBy("qid", "doc_int")
        .agg(
            # must + should contributions; must_not and filter are
            # filter-context only (no score)
            F.sum(F.when(F.col("clause") <= 1, F.col("score"))).alias("score"),
            F.count(F.when(F.col("clause") == 0, 1)).alias("nt_must"),
            F.count(F.when(F.col("clause") == 1, 1)).alias("nt_should"),
            F.max(F.when(F.col("clause") == 2, 1)).alias("mnot"),
            F.count(F.when(F.col("clause") == 3, 1)).alias("nt_filter"),
        )
    )
    agg = _drop_dead(spark, store, agg)
    all_qids = sorted(set(n_must) | has_should | set(n_filter))
    if all_qids:
        need = spark.createDataFrame(
            [
                (
                    int(q),
                    int(n_must[q]) if q in n_must else None,
                    1 if q in has_should else 0,
                    int(n_filter.get(q, 0)),
                )
                for q in all_qids
            ],
            schema="qid long, need long, hs int, need_f long",
        )
        agg = agg.join(F.broadcast(need), "qid", "left")
    else:
        agg = (
            agg.withColumn("need", F.lit(None).cast("long"))
            .withColumn("hs", F.lit(None).cast("long"))
            .withColumn("need_f", F.lit(None).cast("long"))
        )
    msm_with_must = minimum_should_match or 0
    msm_without = max(1, minimum_should_match or 1)
    base = agg.filter(
        F.col("mnot").isNull()
        & (
            F.col("nt_filter")
            == F.coalesce(F.col("need_f"), F.lit(0))
        )
        & F.when(
            F.col("need").isNotNull(),
            (F.col("nt_must") == F.col("need"))
            & (
                (F.coalesce(F.col("hs"), F.lit(0)) == 0)
                | (F.col("nt_should") >= msm_with_must)
            ),
        ).otherwise(
            # no must: should-declared qids need >= msm matches; a
            # pure-filter qid (ES bool with only filter) passes on the
            # filter equality alone and scores 0
            F.when(
                F.coalesce(F.col("hs"), F.lit(0)) == 1,
                F.col("nt_should") >= msm_without,
            ).otherwise(F.coalesce(F.col("need_f"), F.lit(0)) > 0)
        )
    ).select(
        "qid", "doc_int",
        F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
    )
    if range_filter is not None:
        rf = dict(range_filter)
        col = rf.pop("col")
        bounds = {b: rf.pop(b, None) for b in ("gte", "gt", "lte", "lt")}
        if rf:
            raise EngineError(f"unknown range_filter keys: {sorted(rf)}")
        allowed = (
            store.doc_stats(spark)
            .filter(_range_cond(col, **bounds))
            .select("doc_int")
        )
        base = base.join(allowed, "doc_int", "left_semi")
    return base


def search_bool(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    minimum_should_match: int | None = None,
    field: str | None = None,
    range_filter: dict | None = None,
) -> DataFrame:
    """ES ``bool`` query — the public top-k form of
    :func:`_bool_match_scores` (see that docstring for the full clause
    semantics: must AND-scored, should optional-scored with
    minimum_should_match, must_not / filter as filter context,
    range_filter as a bool range clause)."""
    base = _bool_match_scores(
        spark, store, queries, minimum_should_match, field, range_filter
    )
    if base is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    return _present(spark, store, _cut_topk(base, k), k)


def search_more_like_this(
    spark: SparkSession,
    store: IndexStore,
    likes: pd.DataFrame,
    k: int = 10,
    max_query_terms: int = 25,
    min_doc_freq: int = 1,
    field: str | None = None,
) -> DataFrame:
    """ES ``more_like_this`` with free-text ``like`` input: tokenize the
    like text with the pinned analyzer, rank its terms by interestingness
    ``tf_like × idf`` (ES's MLT term selection), keep the top
    ``max_query_terms`` (deterministic: interestingness desc, term asc,
    both sides rounded to 9 dp for dialect-identical selection), then score
    the selected terms as a regular OR BM25 query with qtf = like-text tf.

    ``likes``: pandas (qid, like). ``min_doc_freq`` drops terms rarer than
    the threshold in the corpus (ES parameter of the same name). Term
    selection is driver-side over the LIKE TEXT's own vocabulary (query-
    sized, like all query preprocessing) — never over the dictionary.
    """
    prefix, mlt_avgdl = _field_of(store, field)
    likes = pd.DataFrame(
        {"qid": likes["qid"], "query": [str(t) for t in likes["like"]]}
    )
    qt, _ = _weighted_terms(spark, store, _query_terms(likes, prefix))
    qt = qt[qt["df"] >= min_doc_freq]
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    idf = bm25.idf(float(store.meta["n_docs"]), qt["df"].to_numpy())
    qt = qt.assign(_sel=np.round(qt["qtf"].to_numpy() * idf, 9))
    qt = (
        qt.sort_values(["qid", "_sel", "term"],
                       ascending=[True, False, True])
        .groupby("qid", sort=False)
        .head(max_query_terms)
    )
    agg = _bm25_hits(spark, store, qt, mlt_avgdl)
    return _present(spark, store, _cut_topk(agg, k), k)


def _matched_blocks(
    spark: SparkSession,
    store: IndexStore,
    qt: pd.DataFrame,
) -> DataFrame:
    """Pruned posting-block read for the query-term table ``qt`` (qid, term,
    w[, avgdl][, bucket...]), joined on term. Bucket pruning reads the
    buckets recorded on term_stats when present (zero extra Spark jobs);
    legacy stores without that column re-hash the terms JVM-side.

    A query-sized table (≤ 1000 rows) becomes ONE literal map
    term -> [(qid, w[, avgdl])] exploded against the pruned block read:
    the map is built in Python as JSON and parsed by ``from_json``,
    which Catalyst constant-folds into the map literal — one py4j call
    however many (qid, term) rows there are, no Python->JVM frame
    conversion and no BroadcastExchange job. Floats ride as Python
    ``repr`` text, which parses back to the same double. Larger tables
    broadcast-join a createDataFrame'd frame."""
    live_terms = sorted(qt["term"].unique().tolist())
    if "bucket" in qt.columns and qt["bucket"].notna().all():
        buckets = sorted({int(b) for b in qt["bucket"].unique()})
    else:
        buckets = sorted(
            {
                int(b)
                for b in _term_buckets(
                    spark, live_terms, store.meta["num_buckets"]
                )
            }
        )
    blocks = (
        store.postings(spark)
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(live_terms))
    )
    has_avgdl = "avgdl" in qt.columns
    fields = ["qid", "w"] + (["avgdl"] if has_avgdl else [])
    if len(qt) <= 1000:
        entries: dict[str, list] = {}
        for r in qt.sort_values("term", kind="stable").itertuples(
            index=False
        ):
            e = {"qid": int(r.qid), "w": float(r.w)}
            if has_avgdl:
                e["avgdl"] = float(r.avgdl)
            entries.setdefault(r.term, []).append(e)
        qmap = F.from_json(
            F.lit(json.dumps(entries)),
            "map<string,array<struct<qid:bigint,w:double"
            + (",avgdl:double" if has_avgdl else "") + ">>>",
        )
        exploded = blocks.withColumn("_q", F.explode(qmap[F.col("term")]))
        return exploded.select(
            *blocks.columns, *[F.col(f"_q.{f}").alias(f) for f in fields]
        )
    qterms_df = spark.createDataFrame(qt[["term", *fields]])
    return blocks.join(F.broadcast(qterms_df), "term")


def _score_expansion(
    spark: SparkSession,
    store: IndexStore,
    qt: pd.DataFrame,
    k: int,
    avgdl: float | None = None,
) -> DataFrame:
    """Score an expanded term set (columns qid, term, df[, bucket]) as an
    OR query with per-term BM25 idf weights (qtf = 1). Shared by prefix,
    wildcard, regexp and fuzzy queries. Duplicate (qid, term) rows —
    overlapping expansions — fold to one, so no term is double-counted.
    ``avgdl`` overrides the store scalar for field-targeted expansions."""
    qt = qt.drop_duplicates(subset=["qid", "term"])
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    if avgdl is None:
        avgdl = float(store.meta["avgdl"])
    qt = qt.assign(
        w=bm25.query_weight(float(store.meta["n_docs"]), qt["df"])
    )
    agg = _bm25_hits(spark, store, qt, avgdl)
    return _present(spark, store, _cut_topk(agg, k), k)


def _collect_expansion(
    hit: DataFrame,
    part_col: str,
    order_cols: list,
    max_expansions: int | None,
) -> pd.DataFrame:
    """JVM-side deterministic expansion cap: ``row_number`` window per
    (qid, pattern) over the joined patterns×term_stats frame, THEN collect —
    only the capped set (≤ patterns × max_expansions rows) ever reaches the
    driver (replaces the round-1 uncapped toPandas of every matching
    dictionary term, VERDICT r1 "What's wrong" #2)."""
    if max_expansions is not None:
        w = Window.partitionBy("qid", part_col).orderBy(*order_cols)
        hit = hit.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_expansions
        )
    cols = ["qid", "term", "df"]
    has_bucket = "term_bucket" in hit.columns
    if has_bucket:
        cols.append("term_bucket")
    pdf = hit.select(*cols).toPandas()
    if has_bucket:
        pdf = pdf.rename(columns={"term_bucket": "bucket"})
    return pdf


def _expand_startswith(
    spark: SparkSession,
    store: IndexStore,
    pats: pd.DataFrame,
    max_expansions: int | None,
) -> pd.DataFrame:
    """Prefix-anchored dictionary expansion, driver-side: for each
    (qid, prefix) the first ``max_expansions`` term_stats rows starting with
    the prefix, term-ascending, from one bounded :func:`store_io.sorted_read`
    per distinct prefix (row-group statistics prune to the matching groups
    and the read stops at the cap) → (qid, term, df[, bucket]). When the
    reader refuses (a non-ASCII prefix) or cannot read the layout, the
    whole call takes the JVM dictionary-scan join instead. Replaces one
    whole Spark job (broadcast join + window + collect) per expansion
    family call."""
    path = os.path.join(store.path, "term_stats")
    by_prefix = {
        p: store_io.sorted_read(
            path, "term", ("term", "df", "term_bucket"), prefix=p,
            limit=None if max_expansions is None else int(max_expansions),
        )
        for p in set(pats["prefix"])
    }
    if by_prefix and all(t is not None for t in by_prefix.values()):
        out = pd.concat(
            [by_prefix[p].assign(qid=int(q))
             for q, p in zip(pats["qid"], pats["prefix"])],
            ignore_index=True,
        )
        return out[["qid", *out.columns[:-1]]].rename(
            columns={"term_bucket": "bucket"}
        )
    hit = store.term_stats(spark).join(
        F.broadcast(spark.createDataFrame(pats[["qid", "prefix"]])),
        F.col("term").startswith(F.col("prefix")),
    )
    return _collect_expansion(
        hit, "prefix", [F.col("term").asc()], max_expansions
    )


def search_prefix(
    spark: SparkSession,
    store: IndexStore,
    prefixes: pd.DataFrame,
    k: int = 10,
    max_expansions: int | None = 50,
    field: str | None = None,
) -> DataFrame:
    """ES ``prefix`` / ``match_phrase_prefix``-style multi-term query: expand
    each prefix against term_stats (a metadata-sized scan — never postings),
    then score the expanded term set as a regular OR query with per-term BM25
    idf weights (ES ``rewrite: scoring_boolean``).

    ``prefixes``: pandas (qid, prefix). ``max_expansions`` caps each prefix's
    expansion (term-ascending, deterministic, applied JVM-side before any
    collect) — default 50, ES's default. Empty prefixes are rejected: they
    would match the entire dictionary. ``field`` targets one field of a
    multi-field store (the dictionary is matched under that field's term
    qualifier)."""
    fp, avgdl = _field_of(store, field)
    pfx = prefixes.copy()
    pfx["prefix"] = pfx["prefix"].astype(str).str.lower()
    if (pfx["prefix"].str.len() == 0).any():
        raise EngineError(
            "empty prefix would expand to the entire term dictionary"
        )
    pfx["prefix"] = fp + pfx["prefix"]
    pats = pfx[["qid", "prefix"]].drop_duplicates()
    if pats.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    qt = _expand_startswith(spark, store, pats, max_expansions)
    return _score_expansion(spark, store, qt, k, avgdl=avgdl)


def search_match_bool_prefix(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    max_expansions: int | None = 50,
    field: str | None = None,
) -> DataFrame:
    """ES ``match_bool_prefix`` — the type-ahead query over BOOL scoring:
    every analyzed term is an optional should clause and the LAST term
    additionally matches as a prefix. Unlike ``match_phrase_prefix``,
    positions never matter — a doc scores the summed BM25 of whichever
    fixed terms and last-term expansions it contains (the expansions
    score with qtf=1 idf weights like every multi-term rewrite; the last
    term's exact form is itself one of its expansions).

    One dictionary scan expands all queries' last terms (JVM-capped,
    term-ascending — ES's ``max_expansions``); fixed terms and
    expansions then ride ONE pruned posting read and one aggregation."""
    prefix, avgdl = _field_of(store, field)
    toks = analysis.tokenize_series(
        pd.Series([str(q) for q in queries["query"]])
    )
    # every term but the last is a fixed should clause; the last expands
    last = [(int(q), prefix + t[-1]) for q, t in zip(queries["qid"], toks)
            if t]
    if not last:
        return spark.createDataFrame([], RESULT_SCHEMA)
    # analyzed tokens re-analyze to themselves, so the joined prefix of
    # each query tokenizes back to its fixed terms
    fixed, _ = _term_table(spark, store, _query_terms(
        pd.DataFrame({"qid": queries["qid"],
                      "query": [" ".join(t[:-1]) for t in toks]}),
        prefix,
    ))
    pats = pd.DataFrame(last, columns=["qid", "prefix"]).drop_duplicates()
    exp = _expand_startswith(spark, store, pats, max_expansions)
    exp = exp.drop_duplicates(subset=["qid", "term"]).assign(qtf=1)
    parts = [p for p in (fixed, exp) if not p.empty]
    if not parts:
        return spark.createDataFrame([], RESULT_SCHEMA)
    qt = pd.concat(parts, ignore_index=True)
    # a term both fixed and expanded folds: qtf adds like duplicate query
    # terms in ES (the bool has two clauses matching it)
    agg_cols = {"qtf": "sum", "df": "first"}
    if "bucket" in qt.columns:
        agg_cols["bucket"] = "first"
    qt = qt.groupby(["qid", "term"], as_index=False).agg(agg_cols)
    qt["w"] = bm25.query_weight(
        float(store.meta["n_docs"]), qt["df"], qt["qtf"].to_numpy()
    )
    agg = _bm25_hits(spark, store, qt, avgdl)
    return _present(spark, store, _cut_topk(agg, k), k)


SAYT_PREFIX_MAX = 10  # pinned with operators/ids.tokenize_terms_rows


def search_as_you_type(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    max_expansions: int | None = 50,
) -> DataFrame:
    """Type-ahead over a ``search_as_you_type`` store (built with
    ``build_index(edge_ngrams=...)``) — ES's ``multi_match
    type: bool_prefix`` over ``[root, root._2gram, root._3gram]``:

    - every query term scores as a should clause on the ROOT field;
    - complete query word-shingles score on their shingle subfield
      (each with ITS field-local df/dl/avgdl);
    - the LAST term matches as a prefix via ONE exact dictionary term
      on the ``._index_prefix`` subfield — the index-time edge n-grams
      make type-ahead a pure index hit, no term_stats scan (ES's whole
      point for the field type). Last terms longer than the indexed
      prefix length (10 chars) fall back to the capped dictionary
      expansion ``match_bool_prefix`` uses.

    Scoring is the bool sum of all clause scores (ES bool_prefix ≡
    most_fields semantics). One pruned posting read + one exhaustive
    pass serves every clause of every query — same plan as
    multi_match."""
    eg = tuple(store.meta.get("edge_ngrams") or ())
    if not eg:
        raise EngineError(
            "search_as_you_type needs a store built with edge_ngrams=..."
        )
    flds = tuple(store.meta["fields"])
    root = flds[0]
    pfx_field = f"{root}._index_prefix"
    avgdls = store.meta["avgdl_fields"]
    rows: list[tuple] = []
    long_last: list[tuple[int, str]] = []
    for qid, toks in zip(queries["qid"], analysis.tokenize_series(
        pd.Series([str(q) for q in queries["query"]])
    )):
        if not toks:
            continue
        qid = int(qid)
        for t, c in sorted(Counter(toks[:-1]).items()):
            rows.append((qid, f"{root}:{t}", c, float(avgdls[root])))
        last = toks[-1]
        if len(last) <= SAYT_PREFIX_MAX:
            rows.append(
                (qid, f"{pfx_field}:{last}", 1, float(avgdls[pfx_field]))
            )
        else:
            long_last.append((qid, f"{root}:{last}"))
        for g in eg:
            fname = f"{root}._{g}gram"
            shs = [
                "_".join(toks[i:i + g]) for i in range(len(toks) - g + 1)
            ]
            for t, c in sorted(Counter(shs).items()):
                rows.append(
                    (qid, f"{fname}:{t}", c, float(avgdls[fname]))
                )
    parts = []
    if rows:
        parts.append(
            pd.DataFrame(rows, columns=["qid", "term", "qtf", "avgdl"])
        )
    if long_last:
        # >10-char typed prefix: capped dictionary expansion on the root
        # (rare by construction; identical shape to match_bool_prefix)
        pats = pd.DataFrame(
            long_last, columns=["qid", "prefix"]
        ).drop_duplicates()
        exp = _expand_startswith(
            spark, store, pats, max_expansions
        ).drop_duplicates(subset=["qid", "term"])
        if not exp.empty:
            exp = exp.copy()
            exp["qtf"] = 1
            exp["avgdl"] = float(avgdls[root])
            parts.append(exp[["qid", "term", "qtf", "avgdl"]])
    if not parts:
        return spark.createDataFrame([], RESULT_SCHEMA)
    qt, _ = _weighted_terms(
        spark, store, pd.concat(parts, ignore_index=True)
    )
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    agg = _bm25_hits(spark, store, qt, 0.0)  # per-term avgdl column
    return _present(spark, store, _cut_topk(agg, k), k)


def highlight(
    results: DataFrame,
    corpus: DataFrame,
    queries: pd.DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    window: int = 3,
) -> DataFrame:
    """ES ``highlight`` analog: attach a snippet around the FIRST occurrence
    of any query term to each (qid, doc_id) search result.

    ``results``: (qid, rank, doc_id, ...) — e.g. the output of search().
    ``corpus``: the source table (the store keeps no _source, like
    Lucene-without-stored-fields; presentation joins back to the data lake).
    The join is broadcast-results-into-corpus-scan: only the top-k rows'
    documents are ever retokenized, with pure built-in expressions.

    Snippet rule (deterministic, dialect-portable): tokenize with the pinned
    analyzer; p = first token index matching any of the query's terms;
    snippet = tokens[p-window .. p+window] joined with spaces. Returns
    results + (matched_term, snippet).
    """
    spark = results.sparkSession
    toks_expr = analysis.spark_tokens_expr(text_col)

    per_qid = []
    for qid, q in zip(queries["qid"], queries["query"]):
        terms = sorted(set(analysis.tokenize_series(pd.Series([q]))[0]))
        if not terms:
            continue
        arr = ", ".join(f"'{t}'" for t in terms)
        per_qid.append((int(qid), arr))
    if not per_qid:
        return results.withColumn("matched_term", F.lit(None).cast("string")) \
            .withColumn("snippet", F.lit(None).cast("string"))

    src = corpus.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.expr(toks_expr).alias("_toks"),
    )
    joined = src.join(F.broadcast(results), "doc_id")

    # first matching token position per qid's term set (1-based), natively
    pos = F.lit(None).cast("int")
    for qid, arr in reversed(per_qid):
        # element_at is 1-based (matching DuckDB's toks[i]); bracket
        # indexing in Spark SQL is 0-based and would overrun
        cand = F.expr(
            f"filter(sequence(1, size(_toks)), "
            f"i -> array_contains(array({arr}), element_at(_toks, i)))[0]"
        )
        pos = F.when(F.col("qid") == qid, cand).otherwise(pos)
    out = joined.withColumn("_p", pos)
    start = F.greatest(F.lit(1), F.col("_p") - window)
    length = (
        F.least(F.expr("size(_toks)"), F.col("_p") + window) - start + 1
    )
    return (
        out.withColumn(
            "matched_term", F.element_at(F.col("_toks"), F.col("_p"))
        )
        .withColumn(
            "snippet",
            F.array_join(F.slice(F.col("_toks"), start, length), " "),
        )
        .drop("_toks", "_p")
    )


def search_facets(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    facet_col: str = "lang",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``aggs: {terms: {field: ...}}`` over the query's matching docs:
    per (qid, facet value) distinct-document counts.

    Matching docs are the OR/AND match set (:func:`_match_set`, the same
    pruned posting read as scoring); the facet column is joined from
    doc_stats. Returns (qid, facet, n_docs). ``field`` targets one field
    of a multi-field store.
    """
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame([], "qid long, facet string, n_docs long")
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(facet_col).alias("facet")
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid", "facet")
        .agg(F.count("*").alias("n_docs"))
    )


def search_wildcard(
    spark: SparkSession,
    store: IndexStore,
    patterns: pd.DataFrame,
    k: int = 10,
    max_expansions: int | None = 50,
    field: str | None = None,
) -> DataFrame:
    """ES ``wildcard`` query: ``*`` = any run, ``?`` = one char, matched
    against the term dictionary (metadata-sized scan — never postings),
    deterministic term-ascending ``max_expansions`` cap applied JVM-side,
    expansion OR-scored with per-term BM25 idf weights (like prefix/fuzzy).

    ``patterns``: pandas (qid, pattern); tokens are [a-z0-9]+ so patterns
    are lowercased and translate 1:1 to SQL LIKE (* → %, ? → _) with no
    escaping — the LIKE join IS the exact wildcard match. ``field`` targets
    one field of a multi-field store.
    """
    fp, avgdl = _field_of(store, field)
    pats = patterns.copy()
    pats["pattern"] = pats["pattern"].astype(str).str.lower()
    for p in pats["pattern"]:
        if not all(c.isalnum() or c in "*?" for c in p):
            raise EngineError(f"wildcard pattern has invalid chars: {p!r}")
    # the field qualifier is a LITERAL — escape LIKE metacharacters in it
    # (a field named doc_type would otherwise match docXtype terms)
    fp_esc = (
        fp.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
    )
    pats["lk"] = pats["pattern"].map(
        lambda p: fp_esc + p.replace("*", "%").replace("?", "_")
    )
    pats = pats[["qid", "pattern", "lk"]].drop_duplicates()
    if pats.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    pdf = spark.createDataFrame(pats)
    hit = store.term_stats(spark).join(
        F.broadcast(pdf), F.expr("term LIKE lk ESCAPE '\\\\'")
    )
    qt = _collect_expansion(
        hit, "pattern", [F.col("term").asc()], max_expansions
    )
    return _score_expansion(spark, store, qt, k, avgdl=avgdl)


def search_regexp(
    spark: SparkSession,
    store: IndexStore,
    patterns: pd.DataFrame,
    k: int = 10,
    max_expansions: int | None = 50,
    field: str | None = None,
) -> DataFrame:
    """ES ``regexp`` query: the pattern is matched against the ENTIRE term
    (Lucene anchoring semantics — ``a.c`` matches ``abc``, not ``xabcx``),
    expanded against the term dictionary (metadata-sized scan — never
    postings), capped JVM-side with the deterministic term-ascending
    ``max_expansions`` window, then OR-scored with per-term BM25 idf weights
    exactly like prefix/wildcard/fuzzy (ES ``rewrite: scoring_boolean``).

    ``patterns``: pandas (qid, pattern). Patterns are lowercased (the
    dictionary is lowercase) and evaluated JVM-side via ``rlike`` with
    explicit ``^...$`` anchors. Empty patterns are rejected. ``field``
    targets one field of a multi-field store (the anchored match applies to
    the unqualified token after that field's qualifier).
    """
    import re as _re

    fp, avgdl = _field_of(store, field)
    pats = patterns.copy()
    pats["pattern"] = pats["pattern"].astype(str).str.lower()
    if (pats["pattern"].str.len() == 0).any():
        raise EngineError("empty regexp pattern")
    pats["rx"] = "^" + _re.escape(fp) + "(?:" + pats["pattern"] + ")$"
    pats = pats[["qid", "pattern", "rx"]].drop_duplicates()
    if pats.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    pdf = spark.createDataFrame(pats)
    hit = store.term_stats(spark).join(
        F.broadcast(pdf), F.expr("term RLIKE rx")
    )
    qt = _collect_expansion(
        hit, "pattern", [F.col("term").asc()], max_expansions
    )
    return _score_expansion(spark, store, qt, k, avgdl=avgdl)


def search_fuzzy(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    max_edits: int | str = 1,
    max_expansions: int | None = 50,
    field: str | None = None,
    prefix_length: int = 0,
) -> DataFrame:
    """ES ``fuzzy``-style query: expand each query term to dictionary terms
    within ``max_edits`` Levenshtein distance (term_stats scan — JVM-side
    levenshtein with a length pre-filter, never postings), then OR-score the
    expansion with per-term BM25 idf weights. Exact matches (distance 0) are
    included.

    ``max_edits="AUTO"`` is ES ``fuzziness: AUTO``: the edit budget
    follows the probe's length — 0 edits below 3 chars, 1 for 3–5, 2
    from 6 up — so short terms don't drown in false expansions while
    long terms tolerate two typos.

    ``queries``: pandas (qid, term) — one fuzzy term per row; repeat qid for
    multi-term fuzzy queries. ``max_expansions`` caps each term's expansion
    deterministically (distance asc, then term asc) JVM-side, like ES.
    ``field`` targets one field of a multi-field store: the edit distance is
    measured on the unqualified token after the field's qualifier.

    ``prefix_length`` (the ES parameter): candidates must share the
    probe's first N characters exactly — edits never touch the prefix.
    Beyond the semantic restriction it is THE scale lever: the dictionary
    join becomes a startswith band (sortable/indexable; with one shared
    prefix it reaches the parquet scan as a pushed filter) instead of an
    all-terms levenshtein sweep."""
    fp, avgdl = _field_of(store, field)
    fz = queries.copy()
    fz["probe"] = fz["term"].astype(str).str.lower()
    probes = fz[["qid", "probe"]].drop_duplicates()
    if probes.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    if isinstance(max_edits, str):
        if max_edits.upper() != "AUTO":
            raise EngineError(
                f"max_edits must be an int or 'AUTO'; got {max_edits!r}"
            )
        lens = probes["probe"].str.len()
        probes = probes.assign(
            _me=np.where(lens < 3, 0, np.where(lens < 6, 1, 2)).astype(int)
        )
    else:
        probes = probes.assign(_me=int(max_edits))
    pl = int(prefix_length)
    if pl < 0:
        raise EngineError("prefix_length must be >= 0")
    if pl:
        probes = probes.assign(_pfx=probes["probe"].str[:pl])
    pdf = spark.createDataFrame(probes)
    # broadcast-NLJ of the tiny probe table into ONE dictionary scan; the
    # |len(t) - len(p)| <= per-probe edit budget band prunes before the
    # levenshtein; multi-field stores strip the field qualifier before both
    bare = (
        F.expr(f"substring(term, {len(fp) + 1})") if fp else F.col("term")
    )
    ts = store.term_stats(spark)
    if fp:
        ts = ts.filter(F.col("term").startswith(fp))
    band = F.abs(F.length("_bare") - F.length("probe")) <= F.col("_me")
    if pl:
        band = band & F.col("_bare").startswith(F.col("_pfx"))
    hit = (
        ts.withColumn("_bare", bare)
        .join(F.broadcast(pdf), band)
        .withColumn("_dist", F.levenshtein(F.col("_bare"), F.col("probe")))
        .filter(F.col("_dist") <= F.col("_me"))
    )
    qt = _collect_expansion(
        hit, "probe", [F.col("_dist").asc(), F.col("term").asc()],
        max_expansions,
    )
    return _score_expansion(spark, store, qt, k, avgdl=avgdl)


def search_match_fuzzy(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    fuzziness: int | str = "AUTO",
    max_expansions: int | None = 50,
    field: str | None = None,
    prefix_length: int = 0,
) -> DataFrame:
    """ES ``match`` with ``fuzziness`` — the typo-tolerant match query:
    analyze the query text, expand EVERY term through the fuzzy
    dictionary machinery (per-term AUTO edit budgets, per-(qid, term)
    expansion caps, optional ``prefix_length`` band), union the
    expansions (a dictionary term reached by two query terms folds
    once, like ES's bool-of-fuzzy rewrite) and OR-score with per-term
    BM25 idf weights. One dictionary scan + one pruned posting read
    serve all terms of all queries (the plan is search_fuzzy's —
    ``queries`` here is (qid, query) free text instead of single
    probes)."""
    rows = []
    for qid, q in zip(queries["qid"], queries["query"]):
        for t in analysis.tokenize_series(pd.Series([str(q)]))[0]:
            rows.append((int(qid), t))
    if not rows:
        return spark.createDataFrame([], RESULT_SCHEMA)
    probes = pd.DataFrame(rows, columns=["qid", "term"]).drop_duplicates()
    return search_fuzzy(
        spark, store, probes, k=k, max_edits=fuzziness,
        max_expansions=max_expansions, field=field,
        prefix_length=prefix_length,
    )


def _decode_positional_terms(pdf: pd.DataFrame) -> dict[str, tuple]:
    """Decode every (term, seg) posting-block group of ``pdf`` into sorted
    numpy arrays: term -> (ids, tfs, dls, flat_positions, starts).

    Batch-level decode (guide §4.2): ONE varbyte pass per payload column
    over the whole group frame — a block's pos_bytes is exactly the
    concatenation of its docs' delta payloads, so one segmented cumsum
    with per-doc tf counts reproduces decode_block_positions for every
    block at once — then per-term slices from the block boundaries. The
    per-term values are identical to the former per-block decode loop."""
    by_term: dict[str, tuple] = {}
    if not len(pdf):
        return by_term
    pdf = pdf.sort_values(
        ["term", "doc_first"], kind="stable", ignore_index=True
    )
    counts = pdf["n_docs"].to_numpy(np.int64)
    b_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    ids_all, tfs_all, dls_all = codec.decode_blocks(pdf)
    flat_all = codec.segmented_positions(
        codec.varbyte_decode(b"".join(pdf["pos_bytes"])).astype(np.int64),
        tfs_all,
    )
    doc_pos_starts = np.concatenate(([0], np.cumsum(tfs_all)[:-1]))
    terms = pdf["term"].to_numpy(object)
    t_change = np.ones(len(pdf), dtype=bool)
    t_change[1:] = terms[1:] != terms[:-1]
    t_firsts = np.nonzero(t_change)[0]
    t_ends = np.append(t_firsts[1:], len(pdf))
    n_rows = ids_all.size
    for bi, bj in zip(t_firsts, t_ends):
        lo = b_starts[bi]
        hi = b_starts[bj] if bj < len(counts) else n_rows
        ids = ids_all[lo:hi]
        tfs = tfs_all[lo:hi]
        dls = dls_all[lo:hi]
        p_lo = doc_pos_starts[lo]
        p_hi = doc_pos_starts[hi] if hi < n_rows else flat_all.size
        flat = flat_all[p_lo:p_hi]
        starts = doc_pos_starts[lo:hi] - p_lo
        # blocks of one (term, seg) can come from several index BATCHES
        # (CDC appends immutable segments): the concatenation is a merge
        # of sorted runs, not globally sorted — searchsorted below needs
        # a true sort, and the per-doc position payloads must follow it
        order = np.argsort(ids, kind="stable")
        if not np.array_equal(order, np.arange(ids.size)):
            flat = (
                np.concatenate(
                    [flat[starts[i]: starts[i] + tfs[i]] for i in order]
                )
                if flat.size
                else flat
            )
            ids, tfs, dls = ids[order], tfs[order], dls[order]
            starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
        by_term[terms[bi]] = (ids, tfs, dls, flat, starts)
    return by_term


_POS_COLS = ["qid", "seg", "term", "w", "n_docs", "doc_first", "doc_bytes",
             "tf_bytes", "dl_bytes", "pos_bytes"]


def _empty_scores() -> pd.DataFrame:
    return pd.DataFrame(
        {"qid": pd.Series([], dtype="int64"),
         "doc_int": pd.Series([], dtype="int64"),
         "score": pd.Series([], dtype="float64")}
    )


def _positional_scores(
    joined: DataFrame,
    avgdl: float,
    need: dict,
    scored: dict,
    pad: dict,
    verify,
) -> DataFrame:
    """The one grouped-map pass behind the span/phrase kernels: (qid,
    doc_int, score) rows from ONE ``applyInPandas`` per (qid, seg).
    Segments are disjoint doc ranges, so per-segment results merge
    exactly; dead docs are NOT dropped here.

    Per group: decode the position payloads; keep the docs holding every
    term of ``need[qid]``; size the int64 (candidate, position) key
    stride as ``maxpos + pad[qid]`` and chunk the candidates so no key
    overflows; ``verify(qid, by_term, sub, stride)`` returns the
    surviving doc ids of each chunk; a survivor scores the summed BM25 of
    ``scored[qid]``'s distinct terms in ascending term order. A per-term
    ``avgdl`` column in ``joined`` (cross-field clauses) overrides the
    scalar ``avgdl``."""
    per_term_avgdl = "avgdl" in joined.columns

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(key[0])
        by_term = _decode_positional_terms(pdf)
        terms = sorted(set(need[qid]))
        if any(t not in by_term for t in terms):
            return _empty_scores()
        cand = by_term[terms[0]][0]
        for t in terms[1:]:
            cand = np.intersect1d(cand, by_term[t][0])
        if cand.size == 0:
            return _empty_scores()
        maxpos = 1
        for _ids, _tfs, _dls, flat, _starts in by_term.values():
            if flat.size:
                maxpos = max(maxpos, int(flat.max()) + 2)
        stride = maxpos + pad[qid]
        chunk = max(1, (2**62) // stride)  # int64-overflow guard
        surv = np.concatenate([
            verify(qid, by_term, cand[c0: c0 + chunk], stride)
            for c0 in range(0, cand.size, chunk)
        ])
        if surv.size == 0:
            return _empty_scores()
        meta = pdf.drop_duplicates("term")
        w_of = dict(zip(meta["term"], meta["w"]))
        ad_of = (
            dict(zip(meta["term"], meta["avgdl"])) if per_term_avgdl else {}
        )
        scores = np.zeros(surv.size, dtype=np.float64)
        for tok in sorted(set(scored[qid])):
            ids, tfs, dls, _f, _s = by_term[tok]
            i = np.searchsorted(ids, surv)
            scores += float(w_of[tok]) * bm25.tf_norm(
                tfs[i], dls[i], float(ad_of.get(tok, avgdl))
            )
        return pd.DataFrame(
            {"qid": pd.Series(np.full(surv.size, qid), dtype="int64"),
             "doc_int": pd.Series(surv, dtype="int64"),
             "score": pd.Series(scores, dtype="float64")}
        )

    cols = _POS_COLS + (["avgdl"] if per_term_avgdl else [])
    return (
        joined.select(*cols)
        .groupBy("qid", "seg")
        .applyInPandas(run, schema=_SCORES_SCHEMA)
    )


def _adjusted_pos_keys(
    entry: tuple,
    sub: np.ndarray,
    off: int,
    stride: int,
    check_membership: bool = False,
) -> np.ndarray:
    """Vectorized (candidate, adjusted-position) key set for one phrase
    token: gather every candidate's positions for the token, shift by the
    token's phrase offset, and encode as ``cand_index * stride + pos``.
    With ``check_membership`` candidates absent from the token's posting
    list contribute nothing (used for phrase-prefix expansion terms, which
    unlike fixed phrase terms are not pre-intersected into the candidates)."""
    ids, tfs, _dls, flat, starts = entry
    if check_membership:
        if ids.size == 0:
            return np.empty(0, dtype=np.int64)
        pos = np.searchsorted(ids, sub)
        pos_c = np.minimum(pos, ids.size - 1)
        member = ids[pos_c] == sub
        cand_idx = np.nonzero(member)[0].astype(np.int64)
        idx = pos_c[member]
    else:
        idx = np.searchsorted(ids, sub)
        cand_idx = np.arange(sub.size, dtype=np.int64)
    lens = tfs[idx]
    total = int(lens.sum())
    csum = np.cumsum(lens)
    gather = (
        np.repeat(starts[idx], lens)
        + np.arange(total)
        - np.repeat(csum - lens, lens)
    )
    poss = flat[gather].astype(np.int64) - off
    drep = np.repeat(cand_idx, lens)
    ok = poss >= 0
    return drep[ok] * stride + poss[ok]


def _span_near_survivors(
    by_term: dict[str, tuple],
    phrase: list[str],
    cand: np.ndarray,
    stride: int,
    slop: int,
) -> np.ndarray:
    """In-order span-near verification, vectorized across all candidate
    docs and all start positions at once: a doc survives when its tokens
    can be matched at strictly increasing positions with
    ``span_end − span_start ≤ len(phrase) − 1 + slop`` (Lucene
    ``span_near(in_order=true)`` semantics, greedy-minimal chain — greedy
    is exact for in-order matching; see search_phrase's docstring for the
    deliberate divergence from ES sloppy-phrase term reordering).

    Encoding: every (candidate, position) pair becomes the int64 key
    ``cand_index * stride + pos``; the greedy "next strictly-greater
    position of token i in the same doc" is ONE searchsorted(side=right)
    per token over that token's sorted key array, with a same-candidate
    check via integer division — no per-document loop."""
    n = len(phrase)
    window = n - 1 + slop

    def keys_of(tok: str) -> np.ndarray:
        return np.sort(
            _adjusted_pos_keys(
                by_term[tok], cand, 0, stride, check_membership=True
            )
        )

    cur = keys_of(phrase[0])
    if cur.size == 0:
        return np.empty(0, dtype=np.int64)
    p0 = cur % stride  # chain start positions, parallel to cur
    for tok in phrase[1:]:
        k_i = keys_of(tok)
        if k_i.size == 0:
            return np.empty(0, dtype=np.int64)
        idx = np.searchsorted(k_i, cur, side="right")
        ok = idx < k_i.size
        nxt = k_i[np.minimum(idx, k_i.size - 1)]
        ok &= (nxt // stride) == (cur // stride)
        cur, p0 = nxt[ok], p0[ok]
        if cur.size == 0:
            return np.empty(0, dtype=np.int64)
    good = (cur % stride) - p0 <= window
    if not good.any():
        return np.empty(0, dtype=np.int64)
    return cand[np.unique(cur[good] // stride)]


def _span_unordered_survivors(
    by_term: dict[str, tuple],
    terms: list[str],
    cand: np.ndarray,
    stride: int,
    slop: int,
) -> np.ndarray:
    """UNORDERED span-near verification (Lucene ``span_near(in_order=
    false)``): a doc survives when some window of ``len(terms) − 1 +
    slop`` positions contains ≥1 position of EVERY term, in any order.

    Exact and fully vectorized: the minimal covering window necessarily
    starts at one of the terms' positions, so every (candidate, position)
    key across all terms is tried as a window START — for each term, ONE
    searchsorted finds its first position ≥ the anchor, and the anchor
    survives when every term's next position lands inside the window in
    the same candidate. Same O(total positions × n_terms) shape as the
    ordered chain."""
    window = len(terms) - 1 + slop
    keys = []
    for tok in terms:
        k = np.sort(
            _adjusted_pos_keys(
                by_term[tok], cand, 0, stride, check_membership=True
            )
        )
        if k.size == 0:
            return np.empty(0, dtype=np.int64)
        keys.append(k)
    anchors = np.sort(np.concatenate(keys))
    ok = np.ones(anchors.size, dtype=bool)
    for k_i in keys:
        idx = np.searchsorted(k_i, anchors, side="left")
        has = idx < k_i.size
        nxt = k_i[np.minimum(idx, k_i.size - 1)]
        ok &= (
            has
            & ((nxt // stride) == (anchors // stride))
            & (nxt - anchors <= window)
        )
    if not ok.any():
        return np.empty(0, dtype=np.int64)
    return cand[np.unique(anchors[ok] // stride)]


def search_span_near(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    slop: int = 0,
    in_order: bool = True,
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """Lucene ``span_near`` as a standalone query: the analyzed tokens of
    each query must co-occur within a span of ``len − 1 + slop``
    positions — strictly increasing when ``in_order`` (≡ ``search_phrase``
    slop), in ANY order when ``in_order=False``. The unordered form covers
    the reordered matches ES sloppy phrases allow (e.g. "b a" for query
    "a b" once the budget admits it), closing the in-order-only divergence
    for callers that need it. Scoring: summed BM25 of the span terms,
    like search_phrase. Unordered queries require DISTINCT tokens (the
    window check cannot tell two occurrences of one term apart)."""
    if in_order:
        return search_phrase(spark, store, queries, k=k, field=field,
                             slop=slop)
    for q in queries["query"]:
        toks = analysis.tokenize_series(pd.Series([q]))[0]
        if len(toks) != len(set(toks)):
            raise EngineError(
                "unordered span_near needs distinct tokens per query"
            )
    scored = _phrase_scores(
        spark, store, queries, field, slop=slop, ordered=False
    )
    if scored is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    scored = _drop_dead(spark, store, scored)
    return _present(spark, store, _cut_topk(scored, k), k)


def search_span_or(
    spark: SparkSession,
    store: IndexStore,
    clauses: pd.DataFrame,
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """Lucene ``span_or``: the union of span clauses. ``clauses``: pandas
    (qid, clause) — multiple rows per qid, each clause an in-order exact
    span (phrase; a single term is a one-token span). A doc matches when
    ANY clause's span occurs; its score is the SUM of the matching
    clauses' phrase scores (Lucene scores every matching span).

    Composition, not a new kernel: clauses pack into composite qids
    (qid × stride + clause — the dis_max discipline) so ONE
    _phrase_scores pass verifies every clause, then the union is a
    decompose + re-aggregate. Two posting reads total regardless of
    clause count."""
    cl = clauses.copy()
    cl["_idx"] = cl.groupby("qid").cumcount()
    if (cl["_idx"] >= _DISMAX_CLAUSE_STRIDE).any():
        raise EngineError("too many span_or clauses per qid")
    comp = pd.DataFrame(
        {
            "qid": cl["qid"].astype("int64") * _DISMAX_CLAUSE_STRIDE
            + cl["_idx"].astype("int64"),
            "query": cl["clause"].astype(str),
        }
    )
    scored = _phrase_scores(spark, store, comp, field)
    if scored is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    agg = (
        scored.withColumn(
            "qid",
            F.floor(F.col("qid") / _DISMAX_CLAUSE_STRIDE).cast("long"),
        )
        .groupBy("qid", "doc_int")
        .agg(F.sum("score").alias("score"))
    )
    agg = _drop_dead(spark, store, agg)
    return _present(spark, store, _cut_topk(agg, k), k)


def search_span_field_masking(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    slop: int = 0,
    k: int = 10,
) -> DataFrame:
    """Lucene/ES ``span_field_masking``: compose span clauses from TWO
    DIFFERENT fields of a multi-field store as if they shared one
    position space — ES's documented trick for parallel fields (raw vs
    stemmed text), where cross-field position comparison is meaningful
    by construction. ``queries``: pandas (qid, term_a, field_a, term_b,
    field_b), each term one analyzed token; a doc matches when some
    position of a (in field_a) and some position of b (in field_b,
    masked onto field_a) land within an unordered window of ``1 +
    slop``. Scoring follows the span family: summed BM25 of both terms,
    each against ITS OWN field's df and avgdl (Lucene keeps the masked
    clause's own statistics).

    Plan: same two-posting-read shape as span_near — the qualified
    terms prune to their buckets, ONE cogrouped kernel pass runs the
    existing unordered-window verifier (field-local position payloads
    are exactly what masking compares), no extra scan for the second
    field."""
    if not store.meta.get("positions"):
        raise EngineError(
            "span_field_masking needs a store built with positions=True"
        )
    rows, terms_by_qid = [], {}
    for r in queries.itertuples(index=False):
        pa, avg_a = _field_of(store, str(r.field_a))
        pb, avg_b = _field_of(store, str(r.field_b))
        ta = analysis.tokenize_series(pd.Series([str(r.term_a)]))[0]
        tb = analysis.tokenize_series(pd.Series([str(r.term_b)]))[0]
        if len(ta) != 1 or len(tb) != 1:
            raise EngineError(
                "span_field_masking wants one analyzed token per clause"
            )
        qa, qb = pa + ta[0], pb + tb[0]
        if qa == qb:
            raise EngineError(
                "span_field_masking clauses must differ (same field+term)"
            )
        terms_by_qid[int(r.qid)] = [qa, qb]
        rows.append((int(r.qid), qa, avg_a))
        rows.append((int(r.qid), qb, avg_b))
    qt = pd.DataFrame(rows, columns=["qid", "term", "avgdl"]).assign(qtf=1)
    # AND semantics: a qid with an unindexed clause can never match
    qt = _all_terms_live(*_weighted_terms(spark, store, qt))
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)

    joined = _matched_blocks(spark, store, qt)

    def verify(qid, by_term, sub, stride):
        return _span_unordered_survivors(
            by_term, terms_by_qid[qid], sub, stride, slop
        )

    # the per-term avgdl column rules the length norm
    scored = _positional_scores(
        joined, 0.0, terms_by_qid, terms_by_qid,
        dict.fromkeys(terms_by_qid, 2), verify,
    )
    agg = scored.groupBy("qid", "doc_int").agg(F.sum("score").alias("score"))
    agg = _drop_dead(spark, store, agg)
    return _present(spark, store, _cut_topk(agg, k), k)


def _span_chain_starts(by_term, phrase, sub, stride):
    """Span-START keys (``cand_index * stride + start_pos``) of an exact
    in-order chain over candidates ``sub`` — None when a phrase term is
    absent from this segment's postings."""
    valid = None
    for off, tok in enumerate(phrase):
        if tok not in by_term:
            return None
        key = _adjusted_pos_keys(
            by_term[tok], sub, off, stride, check_membership=True
        )
        valid = (
            key
            if valid is None
            else np.intersect1d(valid, key, assume_unique=False)
        )
        if valid.size == 0:
            return valid
    return valid


def _span_not_filter(
    starts: np.ndarray,
    estarts: np.ndarray | None,
    stride: int,
    len_inc: int,
    len_exc: int,
    pre: int,
    post: int,
) -> np.ndarray:
    """Keep the include span starts whose exclusion zone
    [start − (len_exc−1) − pre, start + (len_inc−1) + post] (clamped to
    the candidate's position block) contains zero exclude starts — two
    searchsorted calls over the sorted exclude keys, no per-doc loop."""
    if estarts is None or estarts.size == 0:
        return starts
    estarts = np.sort(estarts)
    ci = starts // stride
    pos = starts % stride
    lo = ci * stride + np.maximum(pos - (len_exc - 1) - pre, 0)
    hi = ci * stride + np.minimum(pos + (len_inc - 1) + post, stride - 1)
    n_over = (
        np.searchsorted(estarts, hi, side="right")
        - np.searchsorted(estarts, lo, side="left")
    )
    return starts[n_over == 0]


def search_span_not(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    pre: int = 0,
    post: int = 0,
    field: str | None = None,
) -> DataFrame:
    """Lucene ``span_not``: spans of ``include`` that do NOT overlap a
    span of ``exclude``. ``queries``: pandas (qid, include, exclude) —
    each an in-order exact span. A doc matches when at least one include
    occurrence is overlap-free; scoring = the include phrase's summed
    BM25 (the exclude side only filters, as in Lucene). ``pre``/``post``
    widen the exclusion zone by that many positions before/after the
    include span (Lucene's span_not dist parameters).

    Kernel shape: the include chain produces span-START keys per
    candidate exactly like the phrase kernel; the exclude chain's starts
    become a sorted key array, and each include start survives when the
    per-candidate window [start − (len_exc−1) − pre, start + (len_inc−1)
    + post] contains zero exclude starts — two searchsorted per include
    key set, no per-doc loop. Runs per (qid, seg) like every span
    kernel."""
    if not store.meta.get("positions"):
        raise EngineError(
            "span_not needs a store built with positions=True"
        )
    if pre < 0 or post < 0:
        raise EngineError("span_not pre/post must be >= 0")
    prefix, avgdl = _field_of(store, field)

    inc_by_qid: dict[int, list[str]] = {}
    exc_by_qid: dict[int, list[str]] = {}
    rows = []
    for qid, inc, exc in zip(
        queries["qid"], queries["include"], queries["exclude"]
    ):
        inc_t = [
            prefix + t
            for t in analysis.tokenize_series(pd.Series([str(inc)]))[0]
        ]
        exc_t = [
            prefix + t
            for t in analysis.tokenize_series(pd.Series([str(exc)]))[0]
        ]
        if not inc_t or not exc_t:
            raise EngineError(
                "span_not needs non-empty include and exclude spans"
            )
        qid = int(qid)
        inc_by_qid[qid] = inc_t
        exc_by_qid[qid] = exc_t
        for t, c in sorted(Counter(inc_t).items()):
            rows.append((qid, t, int(c)))
        for t in sorted(set(exc_t) - set(inc_t)):
            rows.append((qid, t, 0))
    qt, _ = _weighted_terms(
        spark, store, pd.DataFrame(rows, columns=["qid", "term", "qtf"])
    )
    # an unindexed INCLUDE term kills the qid (AND semantics); an
    # unindexed exclude term just means nothing to exclude
    live = set(zip(qt["qid"], qt["term"]))
    qt = qt[[all((q, t) in live for t in inc_by_qid[q]) for q in qt["qid"]]]
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    joined = _matched_blocks(spark, store, qt)

    def verify(qid, by_term, sub, stride):
        inc, exc = inc_by_qid[qid], exc_by_qid[qid]
        starts = _span_chain_starts(by_term, inc, sub, stride)
        if starts is None or starts.size == 0:
            return sub[:0]
        estarts = _span_chain_starts(by_term, exc, sub, stride)
        starts = _span_not_filter(
            starts, estarts, stride, len(inc), len(exc), pre, post
        )
        return sub[np.unique(starts // stride)]

    pad = {
        q: len(inc) + len(exc_by_qid[q]) + pre + post + 2
        for q, inc in inc_by_qid.items()
    }
    scored = _positional_scores(
        joined, avgdl, inc_by_qid, inc_by_qid, pad, verify
    )
    scored = _drop_dead(spark, store, scored)
    return _present(spark, store, _cut_topk(scored, k), k)


def _span_contain_filter(
    starts: np.ndarray,
    ostarts: np.ndarray | None,
    stride: int,
    len_keep: int,
    len_other: int,
    keep_is_big: bool,
) -> np.ndarray:
    """Keep span starts with ≥ 1 other-side start in the containment
    window — the dual of :func:`_span_not_filter`'s zero-overlap test.
    ``keep_is_big``: the kept (scored) span must contain the other
    (span_containing); else it must lie within the other
    (span_within). Two searchsorted calls over sorted other-side keys,
    no per-doc loop."""
    if ostarts is None or ostarts.size == 0:
        return starts[:0]
    if keep_is_big and len_keep < len_other:
        return starts[:0]
    if not keep_is_big and len_other < len_keep:
        return starts[:0]
    ostarts = np.sort(ostarts)
    ci = starts // stride
    pos = starts % stride
    if keep_is_big:
        lo_p = pos
        hi_p = pos + (len_keep - len_other)
    else:
        lo_p = np.maximum(pos - (len_other - len_keep), 0)
        hi_p = pos
    lo = ci * stride + lo_p
    hi = ci * stride + np.minimum(hi_p, stride - 1)
    n_in = (
        np.searchsorted(ostarts, hi, side="right")
        - np.searchsorted(ostarts, lo, side="left")
    )
    return starts[n_in >= 1]


def search_span_containing(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    mode: str = "containing",
    field: str | None = None,
) -> DataFrame:
    """Lucene ``span_containing`` / ``span_within`` — the last two span
    compositions: spans of ``big`` that contain a span of ``little``
    (mode="containing", scored by the big span, Lucene's contract) or
    spans of ``little`` that lie within a span of ``big``
    (mode="within", scored by the little span). ``queries``: pandas
    (qid, big, little), each an in-order exact span.

    Kernel shape: both chains produce span-START keys per candidate
    exactly like the phrase kernel (candidates pre-intersected on ALL
    terms of BOTH spans — an absent term on either side kills the qid,
    since a match needs both spans); the kept side's starts survive
    when the containment window holds ≥ 1 other-side start — the dual
    of span_not's zero-overlap searchsorted test. Runs per (qid, seg);
    segments are disjoint doc ranges so results merge exactly."""
    if not store.meta.get("positions"):
        raise EngineError(
            "span_containing needs a store built with positions=True"
        )
    if mode not in ("containing", "within"):
        raise EngineError(
            "span_containing mode must be 'containing' or 'within'"
        )
    keep_is_big = mode == "containing"
    prefix, avgdl = _field_of(store, field)

    keep_by_qid: dict[int, list[str]] = {}
    other_by_qid: dict[int, list[str]] = {}
    rows = []
    for qid, big, little in zip(
        queries["qid"], queries["big"], queries["little"]
    ):
        big_t = [
            prefix + t
            for t in analysis.tokenize_series(pd.Series([str(big)]))[0]
        ]
        lit_t = [
            prefix + t
            for t in analysis.tokenize_series(pd.Series([str(little)]))[0]
        ]
        if not big_t or not lit_t:
            raise EngineError(
                "span_containing needs non-empty big and little spans"
            )
        qid = int(qid)
        keep_t, other_t = (
            (big_t, lit_t) if keep_is_big else (lit_t, big_t)
        )
        keep_by_qid[qid] = keep_t
        other_by_qid[qid] = other_t
        for t, c in sorted(Counter(keep_t).items()):
            rows.append((qid, t, int(c)))
        for t in sorted(set(other_t) - set(keep_t)):
            rows.append((qid, t, 0))
    # BOTH spans must exist somewhere — any unindexed term kills the qid
    qt = _all_terms_live(*_weighted_terms(
        spark, store, pd.DataFrame(rows, columns=["qid", "term", "qtf"])
    ))
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    joined = _matched_blocks(spark, store, qt)

    def verify(qid, by_term, sub, stride):
        keep, other = keep_by_qid[qid], other_by_qid[qid]
        starts = _span_chain_starts(by_term, keep, sub, stride)
        if starts is None or starts.size == 0:
            return sub[:0]
        ostarts = _span_chain_starts(by_term, other, sub, stride)
        starts = _span_contain_filter(
            starts, ostarts, stride, len(keep), len(other), keep_is_big
        )
        return sub[np.unique(starts // stride)]

    need = {q: keep + other_by_qid[q] for q, keep in keep_by_qid.items()}
    pad = {q: len(terms) + 2 for q, terms in need.items()}
    scored = _positional_scores(
        joined, avgdl, need, keep_by_qid, pad, verify
    )
    scored = _drop_dead(spark, store, scored)
    return _present(spark, store, _cut_topk(scored, k), k)


def search_phrase(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    field: str | None = None,
    slop: int = 0,
) -> DataFrame:
    """Exact phrase top-k (ES ``match_phrase``): docs containing the query's
    token sequence consecutively, ranked by the summed BM25 score of the
    phrase terms (AND semantics over distinct terms).

    ``slop`` relaxes the phrase to an IN-ORDER span (Lucene
    ``span_near(in_order=true)``): tokens at strictly increasing positions
    whose total span fits ``len − 1 + slop``; slop=0 keeps the exact
    consecutive kernel. DELIBERATE DIVERGENCE from ES ``match_phrase``
    slop: Lucene's sloppy phrase additionally matches REORDERED terms when
    the slop budget covers the transposition cost (slop ≥ 2 matches "b a"
    for query "a b"); this kernel never reorders — a sloppy query here is
    exactly ``span_near(in_order=true, slop=slop)``. Out-of-order matches
    are strictly additive, so every doc returned here is also an ES match
    (no false positives, possible false negatives for transposed text) —
    callers that need reordered matches use :func:`search_span_near`
    with ``in_order=False``.

    Requires a store built with ``positions=True``: per-(term, doc) token
    positions are decoded from the block pos_bytes payload and the phrase is
    verified by position-chain intersection (positions of token i, shifted by
    -i, intersected across the phrase) — fully vectorized: all candidates'
    position lists are gathered at once per phrase token and intersected as
    (candidate, adjusted-position) keys, no per-document Python loop.
    Everything runs per (qid, seg) — segments are disjoint doc ranges, so
    per-segment results merge exactly.
    """
    scored = _phrase_scores(spark, store, queries, field, slop=slop)
    if scored is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    scored = _drop_dead(spark, store, scored)
    return _present(spark, store, _cut_topk(scored, k), k)


def _phrase_scores(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    field: str | None = None,
    slop: int = 0,
    ordered: bool = True,
) -> DataFrame | None:
    """The phrase pipeline up to (qid, doc_int, score) rows — shared by
    search_phrase, search_span_near (``ordered=False`` routes the span
    check through the unordered-window kernel) and the query_string
    phrase clauses (which pack phrases into composite qids). Returns None
    when no query has indexable terms. Dead docs are NOT dropped here
    (callers aggregate first).

    Only the phrase check is local: the exact chain (slop 0) or the
    in-order / unordered span verifier is the ``verify`` step of
    :func:`_positional_scores`, which owns decode, candidate
    intersection, key stride, chunking and the summed-BM25 scoring."""
    if not store.meta.get("positions"):
        raise EngineError(
            "phrase search needs a store built with positions=True"
        )
    prefix, avgdl = _field_of(store, field)

    # per qid: ordered token list; per distinct term: qtf + BM25 weight
    phrase_by_qid: dict[int, list[str]] = {}
    rows = []
    for qid, q in zip(queries["qid"], queries["query"]):
        toks = [prefix + t for t in analysis.tokenize_series(pd.Series([q]))[0]]
        if not toks:
            continue
        phrase_by_qid[int(qid)] = list(toks)
        for t, c in sorted(Counter(toks).items()):
            rows.append((int(qid), t, int(c)))
    # a phrase containing an unindexed term can never match (AND semantics)
    qt = _all_terms_live(*_weighted_terms(
        spark, store, pd.DataFrame(rows, columns=["qid", "term", "qtf"])
    ))
    if qt.empty:
        return None
    joined = _matched_blocks(spark, store, qt)

    def verify(qid, by_term, sub, stride):
        phrase = phrase_by_qid[qid]
        if slop > 0 or not ordered:
            kernel_fn = (
                _span_near_survivors if ordered
                else _span_unordered_survivors
            )
            return kernel_fn(by_term, phrase, sub, stride, slop)
        # exact phrase: intersect the (candidate, position - offset) key
        # sets across the phrase tokens
        valid = None
        for off, tok in enumerate(phrase):
            key = _adjusted_pos_keys(by_term[tok], sub, off, stride)
            valid = (
                key
                if valid is None
                else np.intersect1d(valid, key, assume_unique=True)
            )
            if valid.size == 0:
                break
        return sub[np.unique(valid // stride)]

    pad = {q: len(phrase) for q, phrase in phrase_by_qid.items()}
    return _positional_scores(
        joined, avgdl, phrase_by_qid, phrase_by_qid, pad, verify
    )


def _scored_or_match(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    field: str | None,
) -> DataFrame | None:
    """(qid, doc_int, score) OR-BM25 aggregate for an analyzed query —
    shared by the parent-child joins, function_score and the rescoring
    paths. None when nothing can match. Dead docs are dropped (join
    semantics need live docs only)."""
    prefix, avgdl = _field_of(store, field)
    qt, _ = _weighted_terms(spark, store, _query_terms(queries, prefix))
    if qt.empty:
        return None
    return _bm25_hits(spark, store, qt, avgdl).drop("nt")


def search_has_parent(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    score: bool = False,
    field: str | None = None,
) -> DataFrame:
    """ES ``has_parent``: return CHILD documents whose parent document
    matches the inner (OR BM25) query. ``score=False`` (ES default) gives
    every hit a constant 1.0 and ranks on doc_id; ``score=True`` carries
    the parent's relevance score onto each of its children.

    The parent linkage is the ``parent`` routing column the field mapping
    resolves at index time (reference lib/handler.js:76-78) — a doc_id
    string. The join is matched-parents (query-sized after top-k-free
    aggregation, still distributed) against the metadata-sized doc_stats —
    no posting re-read for the child side."""
    matched = _scored_or_match(spark, store, queries, field)
    if matched is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    pstats = store.doc_stats(spark).select(
        "doc_int", F.col("doc_id").alias("_p_doc_id")
    )
    parents = matched.join(pstats, "doc_int").select(
        "qid", "_p_doc_id", F.col("score").alias("_p_score")
    )
    children = (
        store.doc_stats(spark)
        .filter(F.col("parent").isNotNull())
        .select("doc_int", "doc_id", "parent")
    )
    hits = children.join(
        parents, children["parent"] == parents["_p_doc_id"]
    ).select(
        "qid", "doc_int", "doc_id",
        (F.col("_p_score") if score else F.lit(1.0)).alias("score"),
    )
    hits = _drop_dead(spark, store, hits)
    order = (
        [F.col("score").desc(), F.col("doc_id").asc()]
        if score
        else [F.col("doc_id").asc()]
    )
    w = Window.partitionBy("qid").orderBy(*order)
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def search_has_child(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    score_mode: str = "none",
    field: str | None = None,
) -> DataFrame:
    """ES ``has_child``: return PARENT documents having at least one child
    matching the inner (OR BM25) query. ``score_mode`` folds the matching
    children's scores per parent: none (constant 1.0, doc_id rank) | min |
    max | sum | avg (ES's modes)."""
    if score_mode not in ("none", "min", "max", "sum", "avg"):
        raise EngineError(f"unknown score_mode: {score_mode}")
    matched = _scored_or_match(spark, store, queries, field)
    if matched is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    child_meta = (
        store.doc_stats(spark)
        .filter(F.col("parent").isNotNull())
        .select("doc_int", "parent")
    )
    j = matched.join(child_meta, "doc_int")
    agg_fn = {
        "none": F.lit(1.0),
        "min": F.min("score"),
        "max": F.max("score"),
        "sum": F.sum("score"),
        "avg": F.avg("score"),
    }[score_mode]
    per_parent = j.groupBy("qid", F.col("parent").alias("doc_id")).agg(
        agg_fn.alias("score")
    )
    # the parent must itself be a live doc in the store
    pstats = store.doc_stats(spark).select("doc_id", "doc_int")
    per_parent = per_parent.join(pstats, "doc_id")
    per_parent = _drop_dead(spark, store, per_parent)
    order = (
        [F.col("doc_id").asc()]
        if score_mode == "none"
        else [F.col("score").desc(), F.col("doc_id").asc()]
    )
    w = Window.partitionBy("qid").orderBy(*order)
    return (
        per_parent.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def search_nested(
    spark: SparkSession,
    parent_store: IndexStore,
    child_store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    score_mode: str = "avg",
    minimum_should_match: int | None = None,
    field: str | None = None,
) -> DataFrame:
    """ES ``nested`` query: match clauses against the elements of a
    nested object ARRAY with SAME-ELEMENT semantics — a bool ``must`` of
    two conditions only matches when one array element satisfies both
    (the flattened-field form would cross-match across elements, the
    exact trap the ES nested type exists to avoid).

    ES implements this with hidden per-element child documents inside the
    Lucene segment; the engine's Spark-first equivalent is an explicit
    child STORE indexing one document per array element
    (:func:`~..plans.build.explode_nested` builds the child corpus; its
    ``parent`` column is the owning doc's id — the same linkage
    has_parent/has_child use). ``queries``: bool-shaped pandas (qid,
    must, should, must_not[, filter]) evaluated per ELEMENT over the
    child store — same-element AND falls out of elements being separate
    documents. ``score_mode`` folds matching elements' scores per parent
    (none | min | max | sum | avg — ES's modes); parents must be live in
    ``parent_store``. → (qid, rank, doc_id, score) of PARENT docs.

    Plan shape: one fused bool pipeline over the child store (two posting
    reads), then metadata-sized joins — child linkage, parent liveness —
    and ONE aggregation per (qid, parent). No posting re-read for the
    parent side."""
    if score_mode not in ("none", "min", "max", "sum", "avg"):
        raise EngineError(f"unknown score_mode: {score_mode}")
    base = _bool_match_scores(
        spark, child_store, queries, minimum_should_match, field, None
    )
    if base is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    child_meta = (
        child_store.doc_stats(spark)
        .filter(F.col("parent").isNotNull())
        .select("doc_int", "parent")
    )
    j = base.join(child_meta, "doc_int")
    agg_fn = {
        "none": F.lit(1.0),
        "min": F.min("score"),
        "max": F.max("score"),
        "sum": F.sum("score"),
        "avg": F.avg("score"),
    }[score_mode]
    per_parent = j.groupBy("qid", F.col("parent").alias("doc_id")).agg(
        agg_fn.alias("score")
    )
    pstats = parent_store.doc_stats(spark).select("doc_id", "doc_int")
    per_parent = per_parent.join(pstats, "doc_id")
    per_parent = _drop_dead(spark, parent_store, per_parent)
    order = (
        [F.col("doc_id").asc()]
        if score_mode == "none"
        else [F.col("score").desc(), F.col("doc_id").asc()]
    )
    w = Window.partitionBy("qid").orderBy(*order)
    return (
        per_parent.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def search_nested_terms_agg(
    spark: SparkSession,
    parent_store: IndexStore,
    child_store: IndexStore,
    queries: pd.DataFrame,
    group_col: str,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``nested`` aggregation WITH its ``reverse_nested`` sibling:
    bucket the nested-object elements of the query's matching PARENT
    docs by a child field — per bucket, ``n_children`` counts elements
    (the nested agg's doc count, which runs in nested-document space)
    and ``n_parents`` counts distinct owning parents (exactly what
    ES's reverse_nested exists to recover).

    Plan: the parent match set (pruned posting read) joins the
    metadata-sized parent doc_stats for ids, then the child store's
    doc_stats — one row per nested element, already carrying the
    ``parent`` linkage column (plans/build.explode_nested) and the
    child field as ``doc_meta_cols`` — joins on parent and feeds ONE
    hash aggregation computing both counts. Postings of the child
    store are never read. → (qid, group, n_children, n_parents)."""
    hits = _match_set(spark, parent_store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, group string, n_children long, n_parents long"
        )
    pids = hits.join(
        parent_store.doc_stats(spark).select("doc_int", "doc_id"),
        "doc_int",
    ).select("qid", F.col("doc_id").alias("parent"))
    kids = _drop_dead(
        spark,
        child_store,
        child_store.doc_stats(spark).select(
            "doc_int", "parent",
            F.col(group_col).cast("string").alias("group"),
        ),
    ).drop("doc_int")
    return (
        pids.join(kids, "parent")
        .groupBy("qid", "group")
        .agg(
            F.count("*").alias("n_children"),
            F.count_distinct("parent").alias("n_parents"),
        )
    )


def search_sharded(
    spark: SparkSession,
    stores: list[IndexStore],
    queries: pd.DataFrame,
    k: int = 10,
    field: str | None = None,
    index_boosts: list[float] | None = None,
) -> DataFrame:
    """Federated top-k BM25 over SEVERAL index stores (shards) with exact
    GLOBAL statistics — ES ``dfs_query_then_fetch``: df(t) sums across
    shards, N and avgdl are corpus-wide, so every posting scores exactly
    as if one store held the whole corpus. The result is SHARD-INVARIANT:
    rank- and score-identical to a single-store search over the union
    corpus (asserted in tests/test_sharded.py).

    Plan: ONE Spark job unions every shard's targeted term_stats read
    (each metadata-sized) to build the global df — driver latency stays
    constant in the shard count; each shard then runs its own pruned
    block read + exhaustive scorer with the GLOBAL weights; candidates
    union into one aggregation; the doc_id join unions the shards'
    metadata. Shard doc ids must be disjoint (a sharded corpus).

    ``index_boosts`` (ES ``indices_boost``): one multiplier per store —
    every doc's final score multiplies by its OWNING shard's boost
    (global stats stay exact; only the score scales, exactly ES's
    per-index boost). None = all 1.0."""
    if not stores:
        raise EngineError("search_sharded needs at least one store")
    if index_boosts is not None and len(index_boosts) != len(stores):
        raise EngineError(
            "index_boosts must have one multiplier per store"
        )
    for st in stores:
        if st.meta.get("id_mode", "hash") != "hash":
            # dense ids are STORE-LOCAL ranks — two shards both number
            # their docs 0..N-1, so the cross-shard aggregation would
            # merge different documents' scores
            raise EngineError(
                "search_sharded needs id_mode='hash' shards (dense doc "
                f"ids collide across stores; {st.path} is dense)"
            )
    fields0 = stores[0].meta.get("fields")
    for st in stores[1:]:
        if st.meta.get("fields") != fields0:
            raise EngineError("shards disagree on the field layout")
    prefix = ""
    if fields0:
        f = field if field is not None else fields0[0]
        if f not in fields0:
            raise EngineError(f"unknown field {f!r}; shards have {fields0}")
        prefix = f + ":"
    elif field is not None:
        raise EngineError("single-field shards have no named fields")

    n_docs = float(sum(st.meta["n_docs"] for st in stores))
    if fields0:
        fkey = field if field is not None else fields0[0]
        avgdl = sum(
            st.meta["avgdl_fields"][fkey] * st.meta["n_docs"]
            for st in stores
        ) / max(n_docs, 1.0)
    else:
        avgdl = sum(
            st.meta["avgdl"] * st.meta["n_docs"] for st in stores
        ) / max(n_docs, 1.0)

    qt0 = _query_terms(queries)
    if qt0.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    if prefix:
        qt0["term"] = prefix + qt0["term"]
    terms = sorted(qt0["term"].unique().tolist())

    # global df: ONE Spark job unions every shard's targeted term_stats
    # read (each metadata-sized, tagged with its shard index) — constant
    # driver latency in the shard count, vs one sequential job per shard
    shard_ts = None
    for i, st in enumerate(stores):
        f = (
            st.term_stats(spark)
            .filter(F.col("term").isin(terms))
            .withColumn("_shard", F.lit(i))
        )
        shard_ts = f if shard_ts is None else shard_ts.unionByName(
            f, allowMissingColumns=True
        )
    ts_all = shard_ts.toPandas()
    df_global: dict[str, float] = {
        t: float(d)
        for t, d in ts_all.groupby("term")["df"].sum().items()
        if pd.notna(d)
    }
    per_store_qt = []
    for i in range(len(stores)):
        ts_i = ts_all[ts_all["_shard"] == i].set_index("term")
        qt_st = qt0.copy()
        qt_st["df"] = (
            qt_st["term"].map(ts_i["df"]) if len(ts_i) else float("nan")
        )
        if "term_bucket" in ts_i.columns and len(ts_i):
            qt_st["bucket"] = qt_st["term"].map(ts_i["term_bucket"])
        per_store_qt.append(qt_st)
    if not df_global:
        return spark.createDataFrame([], RESULT_SCHEMA)

    cands = []
    for shard_i, (st, qt_st) in enumerate(zip(stores, per_store_qt)):
        qt_live = qt_st[qt_st["term"].isin(df_global)].copy()
        qt_live = qt_live[qt_live["df"].notna()]  # shard holds the term
        if qt_live.empty:
            continue
        qt_live["w"] = bm25.query_weight(
            n_docs,
            np.array([df_global[t] for t in qt_live["term"]]),
            qt_live["qtf"].to_numpy(),
        )
        joined = _matched_blocks(spark, st, qt_live)
        cand = _score_exhaustive(joined, avgdl)
        cand = _drop_dead(spark, st, cand)
        if index_boosts is not None:
            b = float(index_boosts[shard_i])
            cand = cand.withColumn("score", F.col("score") * F.lit(b))
        cands.append(cand)
    if not cands:
        return spark.createDataFrame([], RESULT_SCHEMA)
    allc = cands[0]
    for c in cands[1:]:
        allc = allc.unionByName(c)
    agg = allc.groupBy("qid", "doc_int").agg(F.sum("score").alias("score"))
    topk = _cut_topk(agg, k)

    ids = stores[0].doc_stats(spark).select("doc_int", "doc_id")
    for st in stores[1:]:
        ids = ids.unionByName(st.doc_stats(spark).select("doc_int", "doc_id"))
    named = ids.join(F.broadcast(topk), "doc_int")
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        named.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def search_collapse(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    collapse_col: str,
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """ES ``collapse``: fold the ranked result down to ONE doc per value of
    a doc field — the best-scoring doc represents its group (score desc,
    doc_id asc within the group), groups then rank among themselves. The
    classic one-result-per-repo / per-domain search shape. Returns
    (qid, rank, doc_id, group, score)."""
    agg = _scored_or_match(spark, store, queries, field)
    if agg is None:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id string, group string, "
                "score double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id",
        F.col(collapse_col).cast("string").alias("group"),
    )
    named = agg.join(stats, "doc_int")
    w_in = Window.partitionBy("qid", "group").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    best = named.withColumn("_rn", F.row_number().over(w_in)).filter(
        F.col("_rn") == 1
    )
    w_out = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        best.withColumn("rank", F.row_number().over(w_out))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "group", "score")
    )


def significant_terms(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    min_doc_count: int = 3,
    mode: str = "or",
    field: str | None = None,
    background_filter: str | None = None,
) -> DataFrame:
    """ES ``significant_terms`` aggregation: terms over-represented in the
    query's match set relative to the background, scored with ES's JLH
    (``(fg_rate − bg_rate) × fg_rate / bg_rate``), ``min_doc_count``
    noise gate, top ``k`` per query by (score desc, term asc).

    Foreground counts re-tokenize ONLY the matched documents — the match
    set is semi-joined into the corpus scan and tokenization is a pure
    JVM expression (array_distinct over the pinned tokenizer's SQL form,
    no Python). The default background is the whole index, served from
    term_stats / meta — no second corpus pass.

    ``background_filter`` (ES parameter of the same name): scope the
    background to the docs matching another query — "what distinguishes
    this match set from that slice" instead of "from everything". The
    background set is one more pruned match-set pass; its term counts
    re-tokenize only ITS docs (same semi-join shape as the foreground).
    Returns (qid, rank, term, fg, bg, score_r)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, rank int, term string, fg long, bg long, "
            "score_r double",
        )
    prefix, _ = _field_of(store, field)
    n_docs = float(store.meta["n_docs"])
    ids = store.doc_stats(spark).select("doc_int", "doc_id")
    matched = hits.join(ids, "doc_int").select("qid", "doc_id")
    n_matched = matched.groupBy("qid").agg(
        F.count("*").alias("_n_fg")
    )
    src = corpus.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.array_distinct(
            F.expr(analysis.spark_tokens_expr(text_col))
        ).alias("_toks"),
    )
    # multi-field stores hold QUALIFIED terms — the re-tokenized foreground
    # must carry the queried field's qualifier or the bg join matches nothing
    fg = (
        matched.join(src, "doc_id")
        .select("qid", F.explode("_toks").alias("_tok"))
        .select(
            "qid", F.concat(F.lit(prefix), F.col("_tok")).alias("term")
        )
        .groupBy("qid", "term")
        .agg(F.count("*").alias("fg"))
        .filter(F.col("fg") >= int(min_doc_count))
    )
    if background_filter is not None:
        bq = pd.DataFrame(
            [(0, str(background_filter))], columns=["qid", "query"]
        )
        bhits = _match_set(spark, store, bq, mode, field)
        if bhits is None:
            return spark.createDataFrame(
                [],
                "qid long, rank int, term string, fg long, bg long, "
                "score_r double",
            )
        bmatched = bhits.join(ids, "doc_int").select("doc_id")
        n_docs = float(bmatched.count())
        bg = (
            bmatched.join(src, "doc_id")
            .select(F.explode("_toks").alias("_tok"))
            .select(F.concat(F.lit(prefix), F.col("_tok")).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("bg"))
        )
    else:
        bg = store.term_stats(spark).select(
            "term", F.col("df").alias("bg")
        )
    joined = (
        fg.join(bg, "term")
        .join(F.broadcast(n_matched), "qid")
        .withColumn("_fg_rate", F.col("fg") / F.col("_n_fg"))
        .withColumn("_bg_rate", F.col("bg") / F.lit(n_docs))
        .withColumn(
            "score",
            (F.col("_fg_rate") - F.col("_bg_rate"))
            * F.col("_fg_rate") / F.col("_bg_rate"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("term").asc()
    )
    bare = (
        F.expr(f"substring(term, {len(prefix) + 1})") if prefix
        else F.col("term")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid", "rank", bare.alias("term"), "fg", "bg",
            F.round("score", 6).alias("score_r"),
        )
    )


def significant_text(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    sample_k: int = 50,
    k: int = 10,
    min_doc_count: int = 2,
    field: str | None = None,
) -> DataFrame:
    """ES ``significant_text`` aggregation: JLH-scored over-represented
    terms in the FREE TEXT of the query's top hits. ES explicitly pairs
    this agg with a ``sampler`` (it re-analyzes _source per shard-local
    top hits, never the full match set); we mirror that contract —
    foreground = the top ``sample_k`` BM25 hits (rounded-score,
    doc_id-tiebroken, like every ranked surface here) — but read the
    sampled docs' term vectors FROM THE INDEX (the :func:`termvectors`
    block-decode plan: doc markers → covering posting blocks only)
    instead of re-analyzing source. Zero corpus access: at 100 TB the
    cost is ranked retrieval + a query-sized block decode, while
    :func:`significant_terms`'s corpus-join foreground (faithful to
    ES's non-sampled significant_terms on an unindexed field) would
    re-scan the corpus. Background rates come from term_stats df / meta
    n_docs. → (qid, rank, term, fg, bg, score_r)."""
    if sample_k < 1 or k < 1:
        raise EngineError("significant_text wants sample_k >= 1, k >= 1")
    prefix, _ = _field_of(store, field)
    res = search(
        spark, store, queries, k=int(sample_k) + 20, algo="wand",
        field=field,
    )
    w = Window.partitionBy("qid").orderBy(
        F.round("score", 6).desc(), F.col("doc_id").asc()
    )
    # the (doc_int, seg) resolution rides the SAME job as the sample cut —
    # the termvectors core then skips its own marker-scan job. The dead
    # filter stays (a superseded version shares the doc_id with its live
    # marker — without it the join would duplicate sample rows and skew
    # n_fg); it is an anti-join inside this job, not an extra action.
    resolved = _drop_dead(
        spark, store,
        res.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(sample_k))
        .select("qid", "doc_id")
        .join(
            store.doc_rows(spark, cols=("doc_id", "doc_int", "seg")),
            "doc_id",
        ),
    )
    pdf = resolved.toPandas()  # query-sized: <= sample_k rows per query
    if pdf.empty:
        return spark.createDataFrame(
            [],
            "qid long, rank int, term string, fg long, bg long, "
            "score_r double",
        )
    tv = _termvectors_resolved(
        spark, store,
        pdf[["doc_id", "doc_int", "seg"]].drop_duplicates("doc_id"),
    )
    if prefix:
        tv = tv.filter(F.col("term").startswith(prefix)).withColumn(
            "term", F.expr(f"substring(term, {len(prefix) + 1})")
        )
    sample = F.broadcast(spark.createDataFrame(pdf[["qid", "doc_id"]]))
    n_fg = F.broadcast(
        spark.createDataFrame(
            pdf.groupby("qid").size().rename("_n_fg").reset_index()
        )
    )
    n_docs = float(store.meta["n_docs"])
    joined = (
        tv.join(sample, "doc_id")
        .groupBy("qid", "term")
        .agg(F.count("*").alias("fg"), F.max("df").alias("bg"))
        .filter(F.col("fg") >= int(min_doc_count))
        .join(n_fg, "qid")
        .withColumn("_fg_rate", F.col("fg") / F.col("_n_fg"))
        .withColumn("_bg_rate", F.col("bg") / F.lit(n_docs))
        .withColumn(
            "score",
            (F.col("_fg_rate") - F.col("_bg_rate"))
            * F.col("_fg_rate") / F.col("_bg_rate"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(
        F.round(F.col("score"), 6).desc(), F.col("term").asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= int(k))
        .select(
            "qid", "rank", "term", "fg", "bg",
            F.round("score", 6).alias("score_r"),
        )
    )


def percolate(
    spark: SparkSession,
    registered: pd.DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "and",
) -> DataFrame:
    """ES ``percolate``: the REVERSE of search — match incoming documents
    against a set of registered queries. ``registered``: pandas
    (query_id, query), analyzed with the pinned tokenizer; a doc matches a
    query when it contains ALL its distinct terms (``mode='and'``, the ES
    match+operator=and percolation) or ANY (``mode='or'``). Returns
    (doc_id, query_id) pairs.

    Plan: the registered-query term table broadcasts into ONE pass over
    the incoming docs (JVM-side distinct tokens, explode, join, count ==
    need) — no index required, cost linear in the docs' tokens."""
    if mode not in ("and", "or"):
        raise EngineError(f"unknown percolate mode: {mode}")
    rows = []
    for query_id, q in zip(registered["query_id"], registered["query"]):
        toks = sorted(set(analysis.tokenize_series(pd.Series([str(q)]))[0]))
        for t in toks:
            rows.append((int(query_id), t, len(toks)))
    if not rows:
        return spark.createDataFrame([], "doc_id string, query_id long")
    qt = spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "term", "need"])
    )
    toks = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.explode(
            F.array_distinct(F.expr(analysis.spark_tokens_expr(text_col)))
        ).alias("term"),
    )
    j = toks.join(F.broadcast(qt), "term")
    agg = j.groupBy("doc_id", "query_id").agg(
        F.count("*").alias("nt"), F.first("need").alias("need")
    )
    cond = (
        F.col("nt") == F.col("need") if mode == "and" else F.col("nt") >= 1
    )
    return agg.filter(cond).select("doc_id", "query_id")


def search_rescore(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
    field: str | None = None,
) -> DataFrame:
    """ES ``rescore`` with a match_phrase second pass: the top
    ``window_size`` docs of the OR-BM25 first pass (deterministic window —
    score desc, doc_id asc) are re-scored as ``query_weight × score +
    rescore_weight × phrase_score`` where phrase_score is the full query's
    exact-phrase AND score (0 when the doc does not contain the phrase),
    then re-ranked and cut to ``k``. Requires ``k <= window_size`` (results
    come from the re-sorted window, ES semantics).

    Cost shape: first pass as usual; the phrase kernel runs over the SAME
    pruned posting read family; the window cut keeps the join sides
    query-sized × window-sized."""
    if k > window_size:
        raise EngineError(
            f"k ({k}) must not exceed rescore window_size ({window_size})"
        )
    base = _scored_or_match(spark, store, queries, field)
    if base is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    stats = store.doc_stats(spark).select("doc_int", "doc_id")
    named = base.join(stats, "doc_int")
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    window = named.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= window_size
    )
    ps = _phrase_scores(spark, store, queries, field)
    if ps is not None:
        ps = ps.select(
            "qid", "doc_int", F.col("score").alias("_p_score")
        )
        window = window.join(ps, ["qid", "doc_int"], "left")
    else:
        window = window.withColumn("_p_score", F.lit(None).cast("double"))
    rescored = window.select(
        "qid",
        "doc_id",
        (
            F.lit(float(query_weight)) * F.col("score")
            + F.lit(float(rescore_weight))
            * F.coalesce(F.col("_p_score"), F.lit(0.0))
        ).alias("score"),
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def search_sorted(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    sort_col: str,
    k: int = 10,
    ascending: bool = True,
    mode: str = "or",
    field: str | None = None,
    search_after: tuple | None = None,
) -> DataFrame:
    """ES ``sort`` on a document field: the match set (OR/AND, unscored)
    ordered by a doc_stats column instead of relevance; ties break on
    doc_id ascending (ES adds the same implicit tiebreak on _id). Returns
    (qid, rank, doc_id, sort_value).

    ``search_after=(sort_value, doc_id)`` pages past the given keyset
    cursor (ES search_after on a field sort): only rows strictly after
    the cursor in (sort_value, doc_id) order survive, applied BEFORE the
    rank window — deep pages never rank the skipped prefix. Ranks restart
    at 1 per page, like ES hit positions.

    The sort key joins from the metadata-sized doc_stats AFTER the match
    aggregation; only the match set is ranked — no posting re-read."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id string, sort_value double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id",
        F.col(sort_col).cast("double").alias("sort_value"),
    )
    named = hits.join(stats, "doc_int")
    if search_after is not None:
        sv, did = float(search_after[0]), str(search_after[1])
        strictly = (
            F.col("sort_value") > sv if ascending
            else F.col("sort_value") < sv
        )
        named = named.filter(
            strictly
            | ((F.col("sort_value") == sv) & (F.col("doc_id") > did))
        )
    order = (
        F.col("sort_value").asc() if ascending else F.col("sort_value").desc()
    )
    w = Window.partitionBy("qid").orderBy(order, F.col("doc_id").asc())
    return (
        named.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "sort_value")
    )


def suggest_terms(
    spark: SparkSession,
    store: IndexStore,
    probes: pd.DataFrame,
    k: int = 5,
    max_edits: int = 2,
    field: str | None = None,
    suggest_mode: str = "always",
) -> DataFrame:
    """ES ``term`` suggester: for each (possibly misspelled) input term,
    the closest dictionary terms ranked (distance asc, df desc, term asc)
    — i.e. prefer small edits, then popular terms. Returns
    (qid, rank, suggestion, dist, df). One JVM-side dictionary scan for
    all probes (length-banded before levenshtein), capped per probe by
    ``k`` with a row_number window BEFORE any collect.

    ``suggest_mode`` (the ES parameter): ``always`` (default here)
    suggests unconditionally, including the exact term; ``missing``
    suggests ONLY for probes absent from the dictionary (ES's default —
    don't correct words that exist); ``popular`` suggests only terms
    MORE frequent than the probe itself (df strictly greater; the probe
    never suggests itself). Both restrictions are window expressions over
    the same scan — no extra pass."""
    if suggest_mode not in ("always", "missing", "popular"):
        raise EngineError(f"unknown suggest_mode: {suggest_mode}")
    fp, _ = _field_of(store, field)
    pr = probes.copy()
    pr["probe"] = pr["probe"].astype(str).str.lower()
    pr = pr[["qid", "probe"]].drop_duplicates()
    if pr["qid"].duplicated().any():
        raise EngineError(
            "one probe per qid (ranks are per input; use distinct qids)"
        )
    if pr.empty:
        return spark.createDataFrame(
            [], "qid long, rank int, suggestion string, dist int, df long"
        )
    pdf = spark.createDataFrame(pr)
    bare = (
        F.expr(f"substring(term, {len(fp) + 1})") if fp else F.col("term")
    )
    ts = store.term_stats(spark)
    if fp:
        ts = ts.filter(F.col("term").startswith(fp))
    hit = (
        ts.withColumn("_bare", bare)
        .join(
            F.broadcast(pdf),
            F.abs(F.length("_bare") - F.length("probe")) <= max_edits,
        )
        .withColumn("dist", F.levenshtein(F.col("_bare"), F.col("probe")))
        .filter(F.col("dist") <= max_edits)
    )
    if suggest_mode != "always":
        wq = Window.partitionBy("qid", "probe")
        probe_df = F.max(
            F.when(F.col("dist") == 0, F.col("df"))
        ).over(wq)
        hit = hit.withColumn("_probe_df", probe_df)
        if suggest_mode == "missing":
            # an indexed probe gets NO suggestions at all
            hit = hit.filter(F.col("_probe_df").isNull())
        else:  # popular
            hit = hit.filter(
                (F.col("dist") > 0)
                & (F.col("df") > F.coalesce(F.col("_probe_df"), F.lit(0)))
            )
        hit = hit.drop("_probe_df")
    w = Window.partitionBy("qid", "probe").orderBy(
        F.col("dist").asc(), F.col("df").desc(), F.col("_bare").asc()
    )
    return (
        hit.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid", "rank", F.col("_bare").alias("suggestion"),
            F.col("dist").cast("int").alias("dist"), "df",
        )
    )


def suggest_phrase(
    spark: SparkSession,
    store: IndexStore,
    docs: DataFrame | None = None,
    probes: pd.DataFrame | None = None,
    k: int = 3,
    max_edits: int = 1,
    max_candidates: int = 3,
    k_smooth: float = 0.5,
    text_col: str = "text",
    field: str | None = None,
) -> DataFrame:
    """ES ``phrase`` suggester (did-you-mean): whole-phrase corrections
    for a multi-term input, ranked by a corpus bigram language model —
    the real ES shape (per-term candidate generation + word-LM scoring),
    not per-term suggestions glued together.

    Per probe token: dictionary candidates within ``max_edits``
    (distance asc, df desc, term asc; capped ``max_candidates``; the
    token itself included at distance 0) from ONE JVM term_stats scan
    for all (probe, position) pairs. Candidate COMBINATIONS (≤
    ``max_candidates^n_tokens`` — probes are capped at 5 tokens) are
    enumerated driver-side (query-sized) and scored with an add-k
    bigram LM over ``docs``:

        log p = ln p(w₁) + Σ ln p(wᵢ | wᵢ₋₁),
        p(w₁) = (c₁ + k) / (T + kV),
        p(w₂|w₁) = (c₁₂ + k) / (c₁ + kV),

    with V = dictionary size of the TARGETED field (term_stats row count
    — a parquet-footer read on single-field stores; on multi-field
    stores, the count of the field's qualified terms, never the whole
    cross-field dictionary), T = total field tokens (Σ dl from
    doc_stats; the field's Σ field_dls slice on multi-field stores), and
    c₁ / c₁₂ read from the store's INDEX-TIME ``lm_stats`` table
    (``build_index(lm_stats=True)``) — two candidate-filtered point
    reads on a gram-sorted table, never a corpus scan (ES answers
    suggesters from index statistics). A store built without lm_stats
    falls back to the legacy per-call corpus scan when ``docs`` is
    passed, else raises.
    Returns (qid, rank, suggestion, logp_r) with logp rounded to 6 dp;
    rank ties break on the suggestion string."""
    import math

    fp, _ = _field_of(store, field)
    if probes is None:
        raise EngineError("suggest_phrase requires a probes DataFrame")
    rows = []
    for qid, text in zip(probes["qid"], probes["text"]):
        toks = analysis.tokenize_series(pd.Series([text]))[0]
        if not toks:
            continue
        if len(toks) > 5:
            raise EngineError(
                "phrase suggester probes are capped at 5 tokens "
                "(combination enumeration)"
            )
        for pos, t in enumerate(toks):
            rows.append((int(qid), pos, t))
    if not rows:
        return spark.createDataFrame(
            [], "qid long, rank int, suggestion string, logp_r double"
        )
    ppdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["qid", "pos", "probe"])
    )
    bare = (
        F.expr(f"substring(term, {len(fp) + 1})") if fp else F.col("term")
    )
    ts = store.term_stats(spark)
    if fp:
        ts = ts.filter(F.col("term").startswith(fp))
    hit = (
        ts.withColumn("_bare", bare)
        .join(
            F.broadcast(ppdf),
            F.abs(F.length("_bare") - F.length("probe")) <= max_edits,
        )
        .withColumn("_dist", F.levenshtein(F.col("_bare"), F.col("probe")))
        .filter(F.col("_dist") <= max_edits)
    )
    w = Window.partitionBy("qid", "pos").orderBy(
        F.col("_dist").asc(), F.col("df").desc(), F.col("_bare").asc()
    )
    cand = (
        hit.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(max_candidates))
        .select("qid", "pos", F.col("_bare").alias("cand"))
        .toPandas()  # query-sized: probes × positions × max_candidates
    )
    # keep-source fallback (ES keeps the original term when nothing in the
    # dictionary is within the edit budget): a position with zero
    # candidates contributes the probe token itself — the LM then scores
    # it with the smoothed-zero probability
    have = set(zip(cand["qid"], cand["pos"])) if len(cand) else set()
    fallback = [
        (q, p, t) for q, p, t in rows if (q, p) not in have
    ]
    if fallback:
        cand = pd.concat(
            [cand, pd.DataFrame(fallback, columns=["qid", "pos", "cand"])],
            ignore_index=True,
        )

    # model constants: V = the TARGETED field's dictionary size (a raw
    # footer count on a multi-field store would count every field's
    # qualified terms and skew the add-k probabilities), T = the field's
    # token total
    if fp:
        flds = store.meta.get("fields") or []
        fidx = flds.index(fp[:-1])
        V = store_io.sorted_read(
            os.path.join(store.path, "term_stats"), "term",
            prefix=fp, count=True,
        )
        V = float(ts.count() if V is None else V)
        fsums = store.meta.get("field_dl_sums")
        if fsums is not None:
            T = float(fsums[fidx])
        else:
            T = float(
                store.doc_stats(spark)
                .agg(F.sum(F.col("field_dls")[fidx]))
                .first()[0]
                or 0.0
            )
    else:
        V = float(
            store_io.parquet_num_rows(os.path.join(store.path, "term_stats"))
        )
        # exact token total recorded by finalize (integer sum) — the
        # doc-stat aggregation job only runs for stores predating the key
        if store.meta.get("dl_sum") is not None:
            T = float(store.meta["dl_sum"])
        else:
            T = float(
                store.doc_stats(spark).agg(F.sum("dl")).first()[0] or 0.0
            )

    # enumerate combinations per qid (driver, query-sized)
    import itertools

    combos: list[tuple[int, tuple[str, ...]]] = []
    for qid, g in cand.groupby("qid"):
        per_pos = [
            list(g.loc[g["pos"] == p, "cand"])
            for p in sorted(g["pos"].unique())
        ]
        for combo in itertools.product(*per_pos):
            combos.append((int(qid), combo))
    need_terms = sorted({t for _, c in combos for t in c})
    need_bigrams = sorted(
        {f"{c[i]} {c[i + 1]}" for _, c in combos for i in range(len(c) - 1)}
    )

    if store.meta.get("lm_stats"):
        # index-time statistics path: ONE candidate-filtered read of the
        # gram-sorted lm_stats table answers both c₁ (unigram grams) and
        # c₁₂ (bigram grams) — the filter pushes to the parquet scan and
        # the range-sorted gram column prunes row groups, so the read is
        # candidate-sized regardless of corpus size
        need = [fp + t for t in need_terms] + [fp + b for b in need_bigrams]
        got = store_io.sorted_read(
            os.path.join(store.path, "lm_stats"), "gram", ("gram", "cf"),
            keys=need,
        )
        if got is None:
            got = (
                spark.read.parquet(os.path.join(store.path, "lm_stats"))
                .filter(F.col("gram").isin(need))
                .toPandas()
            )
        bare_grams = (
            got["gram"].str[len(fp):] if fp else got["gram"]
        )
        counts = dict(zip(bare_grams, got["cf"]))
        c1 = {t: counts.get(t, 0) for t in need_terms}
        c12 = {b: counts.get(b, 0) for b in need_bigrams}
    else:
        # legacy path (store built without lm_stats=True): two per-call
        # corpus scans — correct but corpus-sized; rebuild with
        # lm_stats=True for the index-statistics plan
        if docs is None:
            raise EngineError(
                f"store at {store.path} has no lm_stats table and no "
                "corpus DataFrame was passed — rebuild with "
                "build_index(lm_stats=True) or pass docs"
            )
        toks_expr = analysis.spark_tokens_expr(
            text_col if not fp else fp[:-1]
        )
        base = docs.select(F.expr(toks_expr).alias("_toks"))
        c1_pdf = (
            base.select(F.explode("_toks").alias("t"))
            .filter(F.col("t").isin(need_terms))
            .groupBy("t")
            .agg(F.count("*").alias("c"))
            .toPandas()
        )
        c1 = dict(zip(c1_pdf["t"], c1_pdf["c"]))
        from ..operators.lm import _BIGRAMS_FROM_TOKS

        c12 = {}
        if need_bigrams:
            c12_pdf = (
                base.select(
                    F.explode(F.expr(_BIGRAMS_FROM_TOKS)).alias("b")
                )
                .filter(F.col("b").isin(need_bigrams))
                .groupBy("b")
                .agg(F.count("*").alias("c"))
                .toPandas()
            )
            c12 = dict(zip(c12_pdf["b"], c12_pdf["c"]))

    ks = float(k_smooth)
    out = []
    for qid, combo in combos:
        lp = math.log(
            (c1.get(combo[0], 0) + ks) / (T + ks * V)
        )
        for i in range(len(combo) - 1):
            lp += math.log(
                (c12.get(f"{combo[i]} {combo[i + 1]}", 0) + ks)
                / (c1.get(combo[i], 0) + ks * V)
            )
        out.append((qid, " ".join(combo), round(lp, 6)))
    opdf = pd.DataFrame(out, columns=["qid", "suggestion", "logp_r"])
    opdf = opdf.sort_values(
        ["qid", "logp_r", "suggestion"], ascending=[True, False, True]
    )
    opdf["rank"] = opdf.groupby("qid").cumcount() + 1
    opdf = opdf[opdf["rank"] <= int(k)]
    return spark.createDataFrame(
        opdf[["qid", "rank", "suggestion", "logp_r"]],
        schema="qid long, rank int, suggestion string, logp_r double",
    )


def suggest_completions(
    spark: SparkSession,
    store: IndexStore,
    prefixes: pd.DataFrame,
    k: int = 5,
    field: str | None = None,
) -> DataFrame:
    """ES ``completion`` suggester over the term dictionary: terms
    completing each prefix, ranked by popularity (df desc, term asc) —
    the search-box autocomplete shape. One metadata-sized term_stats scan
    for all prefixes, capped JVM-side before any collect. Returns
    (qid, rank, suggestion, df). Empty prefixes are rejected."""
    fp, _ = _field_of(store, field)
    pr = prefixes.copy()
    pr["prefix"] = pr["prefix"].astype(str).str.lower()
    if (pr["prefix"].str.len() == 0).any():
        raise EngineError("empty completion prefix")
    pr["prefix"] = fp + pr["prefix"]
    pr = pr[["qid", "prefix"]].drop_duplicates()
    if pr["qid"].duplicated().any():
        raise EngineError(
            "one prefix per qid (ranks are per input; use distinct qids)"
        )
    if pr.empty:
        return spark.createDataFrame(
            [], "qid long, rank int, suggestion string, df long"
        )
    pdf = spark.createDataFrame(pr)
    bare = (
        F.expr(f"substring(term, {len(fp) + 1})") if fp else F.col("term")
    )
    hit = store.term_stats(spark).join(
        F.broadcast(pdf), F.col("term").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("qid", "prefix").orderBy(
        F.col("df").desc(), F.col("term").asc()
    )
    return (
        hit.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", bare.alias("suggestion"), "df")
    )


def search_stats_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``stats`` aggregation over the match set: per qid
    count/min/max/sum/avg of a numeric doc_stats column. Same pruned
    posting read as scoring; the value joins from metadata."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, n_docs long, min_v double, max_v double, "
            "sum_v double, avg_v double",
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(value_col).cast("double").alias("_v")
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("_v").alias("min_v"),
            F.max("_v").alias("max_v"),
            F.sum("_v").alias("sum_v"),
            F.avg("_v").alias("avg_v"),
        )
    )


def search_cardinality_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    value_col: str = "lang",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``cardinality`` aggregation over the match set: per qid the
    EXACT distinct count of a doc field (ES approximates with HLL; the
    engine's count is exact — a strictly stronger answer with the same
    shape). Metadata join, one aggregation."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, n_docs long, cardinality long"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(value_col).alias("_v")
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("_v").alias("cardinality"),
        )
    )


def search_percentiles_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    value_col: str = "dl",
    percentiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``percentiles`` aggregation over the match set: per (qid, pct)
    the linearly-interpolated percentile of a numeric doc field (exact —
    Spark's ``percentile``, the same definition as SQL quantile_cont; ES
    approximates with t-digest). Returns (qid, pct, value_r)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, pct double, value_r double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(value_col).cast("double").alias("_v")
    )
    arr = ", ".join(repr(float(p)) for p in percentiles)
    agg = (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(F.expr(f"percentile(_v, array({arr}))").alias("_ps"))
    )
    pcts = F.array(*[F.lit(float(p)) for p in percentiles])
    return agg.select(
        "qid",
        F.explode(F.arrays_zip(pcts.alias("pct"), F.col("_ps").alias("v")))
        .alias("_z"),
    ).select(
        "qid",
        F.col("_z.pct").alias("pct"),
        F.round(F.col("_z.v"), 6).alias("value_r"),
    )


def search_top_hits(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    group_col: str = "lang",
    k_per_group: int = 3,
    field: str | None = None,
) -> DataFrame:
    """ES ``top_hits`` sub-aggregation: the best ``k_per_group`` scored
    docs WITHIN each value of a doc field, per query — collapse's sibling
    that keeps several hits per group. Rank basis is the 6-dp-rounded
    score with doc_id tiebreak (deterministic, dialect-portable). Returns
    (qid, group, grank, doc_id, score_r); map-side WindowGroupLimit keeps
    the per-(qid, group) window scale-safe."""
    agg = _scored_or_match(spark, store, queries, field)
    if agg is None:
        return spark.createDataFrame(
            [],
            "qid long, group string, grank int, doc_id string, "
            "score_r double",
        )
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id", F.col(group_col).cast("string").alias("group")
    )
    named = agg.join(stats, "doc_int").withColumn(
        "score_r", F.round("score", 6)
    )
    w = Window.partitionBy("qid", "group").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        named.withColumn("grank", F.row_number().over(w))
        .filter(F.col("grank") <= int(k_per_group))
        .select("qid", "group", "grank", "doc_id", "score_r")
    )


def search_histogram(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``histogram`` aggregation over the match set: per (qid, bucket)
    doc counts with bucket = floor(value / interval) * interval."""
    if interval <= 0:
        raise EngineError("histogram interval must be positive")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, bucket double, n_docs long"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(value_col).cast("double").alias("_v")
    )
    return (
        hits.join(stats, "doc_int")
        .withColumn(
            "bucket",
            F.floor(F.col("_v") / F.lit(float(interval)))
            * F.lit(float(interval)),
        )
        .groupBy("qid", "bucket")
        .agg(F.count("*").alias("n_docs"))
    )


CALENDAR_INTERVALS = (
    "year", "quarter", "month", "week", "day", "hour", "minute",
)


def calendar_bucket(col, calendar_interval: str):
    """ES ``date_histogram`` ``calendar_interval`` bucketing as a Column:
    date_trunc to the named calendar unit, rendered as a date string
    (weeks start Monday — ISO, matching both Spark and DuckDB
    ``date_trunc``). Calendar units are NOT fixed-width (months vary,
    weeks cross month bounds), which is exactly why ES separates them
    from fixed ``interval`` — the numeric ``search_histogram`` cannot
    express them."""
    if calendar_interval not in CALENDAR_INTERVALS:
        raise EngineError(
            f"unknown calendar_interval {calendar_interval!r}; "
            f"one of {CALENDAR_INTERVALS}"
        )
    return (
        F.date_trunc(calendar_interval, col).cast("date").cast("string")
    )


def search_date_histogram(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    calendar_interval: str,
    value_col: str = "ts",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``date_histogram`` with ``calendar_interval`` (month / week /
    quarter / ...) over the match set: per (qid, calendar bucket) doc
    counts from the doc_stats date column — block metadata + markers
    only, postings never decoded. → (qid, bucket, n_docs)."""
    bucket = calendar_bucket(F.col("_v"), calendar_interval)
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, bucket string, n_docs long"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(value_col).alias("_v")
    )
    return (
        hits.join(stats, "doc_int")
        .withColumn("bucket", bucket)
        .groupBy("qid", "bucket")
        .agg(F.count("*").alias("n_docs"))
    )


def search_terms_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    group_col: str,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
    size: int | None = None,
    after_key: str | None = None,
    order_by: str | None = None,
    min_doc_count: int | None = None,
    include_regex: str | None = None,
    exclude_regex: str | None = None,
    partition: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """ES ``terms`` aggregation WITH a metric sub-aggregation — the most
    common agg combo (`terms` bucket + `avg`): per (qid, doc-field value)
    bucket, the match-set doc count and the mean of a numeric doc_stats
    column, 6-dp rounded. Returns (qid, group, n_docs, avg_value_r).

    ``order_by`` gives ES ``terms`` bucket ordering: ``"count_desc"``
    (ES's default terms order: doc_count desc) or ``"avg_desc"`` (order
    by the metric sub-agg — ES ``order: {"avg_v": "desc"}``); key
    ascending breaks ties deterministically. ``min_doc_count`` drops
    buckets below the floor BEFORE the size cut, like ES. ``order_by``
    is incompatible with ``after_key`` (ES too: composite pages by key
    only — a metric-ordered cursor would need the full bucket set).
    ``include_regex`` / ``exclude_regex`` are ES's terms-agg bucket
    filters: keep buckets whose key matches include (when set) and
    doesn't match exclude — applied on the GROUP column BEFORE the
    aggregation, so filtered buckets never shuffle.

    ``partition`` / ``num_partitions`` give ES's terms-agg partitioned
    fetch (``include: {partition, num_partitions}``): keep only buckets
    whose md5-hash of the key lands in the requested partition, so a
    high-cardinality field is paged in ``num_partitions`` disjoint,
    jointly-exhaustive passes. The hash is a pinned md5 prefix (not
    Spark's internal hash) so any engine — and the DuckDB oracle —
    computes the identical partition assignment; like the regex
    filters it applies BEFORE aggregation, pruning the shuffle.

    ``size`` / ``after_key`` give ES ``composite`` aggregation paging:
    buckets order by group key ascending, ``after_key`` resumes STRICTLY
    AFTER the named key (a keyset cursor, the same discipline hit-level
    ``search_after`` uses — stable under concurrent pages, no offset
    re-scan), ``size`` caps buckets per qid; the caller passes the last
    group of one page as the next page's after_key. High-cardinality
    facets at 100 TB page through buckets without ever materializing the
    full bucket set to the driver.

    Same plan family as the histogram: the match set joins the
    metadata-sized doc_stats once; both metrics come out of ONE hash
    aggregation (partial map-side). The after_key filter is applied on
    the GROUP column before aggregation — it prunes the shuffle, not
    just the output."""
    if order_by is not None and after_key is not None:
        raise EngineError(
            "order_by and after_key are incompatible (composite paging "
            "is key-ordered)"
        )
    if order_by is not None and order_by not in ("count_desc", "avg_desc"):
        raise EngineError(f"unknown terms order: {order_by!r}")
    if (partition is None) != (num_partitions is None):
        raise EngineError(
            "partition and num_partitions must be set together"
        )
    if partition is not None and not 0 <= partition < num_partitions:
        raise EngineError(
            f"partition {partition} out of range for "
            f"num_partitions {num_partitions}"
        )
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, group string, n_docs long, avg_value_r double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int",
        F.col(group_col).cast("string").alias("group"),
        F.col(value_col).cast("double").alias("_v"),
    )
    if after_key is not None:
        stats = stats.filter(F.col("group") > F.lit(str(after_key)))
    if include_regex is not None:
        stats = stats.filter(F.col("group").rlike(include_regex))
    if exclude_regex is not None:
        stats = stats.filter(~F.col("group").rlike(exclude_regex))
    if partition is not None:
        h = F.conv(F.substring(F.md5(F.col("group")), 1, 8), 16, 10)
        stats = stats.filter(
            h.cast("long") % int(num_partitions) == int(partition)
        )
    out = (
        hits.join(stats, "doc_int")
        .groupBy("qid", "group")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("_v"), 6).alias("avg_value_r"),
        )
    )
    if min_doc_count is not None:
        out = out.filter(F.col("n_docs") >= int(min_doc_count))
    if size is not None:
        if size < 1:
            raise EngineError("composite agg size must be >= 1")
        if order_by == "count_desc":
            order = [F.col("n_docs").desc(), F.col("group").asc()]
        elif order_by == "avg_desc":
            order = [F.col("avg_value_r").desc(), F.col("group").asc()]
        else:
            order = [F.col("group").asc()]
        w = Window.partitionBy("qid").orderBy(*order)
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(size))
            .drop("_rn")
        )
    return out


def search_extended_stats_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``extended_stats`` aggregation over the match set: the plain
    stats plus sum_of_squares, POPULATION variance and std_deviation
    (ES's default; sample variance is the ``_sampling`` variant we skip).
    Same plan family as ``stats``: one pruned posting read for the match
    set, one metadata join, ONE hash aggregation computes every metric
    (variance via the sum-of-squares identity — no second pass)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, n_docs long, sum_v double, avg_v double, "
            "sum_sq double, variance_r double, std_dev_r double",
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(value_col).cast("double").alias("_v")
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_v").alias("sum_v"),
            F.avg("_v").alias("avg_v"),
            F.sum(F.col("_v") * F.col("_v")).alias("sum_sq"),
            F.round(F.var_pop("_v"), 6).alias("variance_r"),
            F.round(F.stddev_pop("_v"), 6).alias("std_dev_r"),
        )
    )


def search_string_stats_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    value_col: str = "lang",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``string_stats`` aggregation over the match set: count and
    min/max/avg LENGTH of a keyword doc field (ES additionally reports a
    Shannon entropy over the character distribution — an approximation
    detail we document as out of scope; the length statistics are the
    exact contract). Metadata join + one aggregation."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, n_docs long, min_len long, max_len long, "
            "avg_len_r double",
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.length(F.col(value_col).cast("string")).alias("_l")
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("_l").cast("long").alias("min_len"),
            F.max("_l").cast("long").alias("max_len"),
            F.round(F.avg("_l"), 6).alias("avg_len_r"),
        )
    )


def search_weighted_avg_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    value_col: str,
    weight_col: str,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``weighted_avg`` aggregation: sum(value·weight) / sum(weight)
    over the match set, value and weight both doc fields. One metadata
    join, one aggregation (both sums come out of the same hash agg)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, n_docs long, weighted_avg_r double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int",
        F.col(value_col).cast("double").alias("_v"),
        F.col(weight_col).cast("double").alias("_w"),
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("_v") * F.col("_w")) / F.sum("_w"), 6
            ).alias("weighted_avg_r"),
        )
    )


def search_rare_terms_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    group_col: str,
    max_doc_count: int = 1,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``rare_terms`` aggregation: the LONG-TAIL buckets a ``terms``
    agg ordered by count ascending would surface — doc-field values
    matched by at most ``max_doc_count`` docs of the match set (ES
    approximates with a CuckooFilter at scale; the engine's counts are
    exact). One aggregation, then a post-aggregation filter — the filter
    runs on bucket counts (group-cardinality rows), never on docs."""
    if max_doc_count < 1:
        raise EngineError("rare_terms max_doc_count must be >= 1")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame([], "qid long, group string, n_docs long")
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(group_col).cast("string").alias("group")
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid", "group")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") <= int(max_doc_count))
    )


def search_multi_terms_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    group_cols: tuple[str, ...],
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``multi_terms`` aggregation: buckets keyed by a COMPOSITE of
    several doc fields (the agg ``terms`` cannot express without a
    script), per bucket the match-set doc count and a metric (avg).
    Exactly one hash aggregation on the composite key — the key tuple
    rides the shuffle as separate columns, no string concat."""
    if len(group_cols) < 2:
        raise EngineError("multi_terms needs at least two group columns")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        schema = ", ".join(f"g{i} string" for i in range(len(group_cols)))
        return spark.createDataFrame(
            [], f"qid long, {schema}, n_docs long, avg_value_r double"
        )
    sel = ["doc_int"] + [
        F.col(c).cast("string").alias(f"g{i}")
        for i, c in enumerate(group_cols)
    ] + [F.col(value_col).cast("double").alias("_v")]
    stats = store.doc_stats(spark).select(*sel)
    keys = [f"g{i}" for i in range(len(group_cols))]
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid", *keys)
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("_v"), 6).alias("avg_value_r"),
        )
    )


def search_top_metrics_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    sort_col: str,
    metric_col: str,
    size: int = 1,
    ascending: bool = False,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``top_metrics`` aggregation: the metric field's values at the
    match set's top ``size`` docs ordered by a sort field (ES caps size
    at 10 — same spirit here: this is a per-qid constant-size answer).
    Deterministic: ties on the sort value break by doc_id ascending.
    One metadata join + one window — no posting re-read, no sort of the
    full match set reaches the driver."""
    if size < 1:
        raise EngineError("top_metrics size must be >= 1")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, rank int, doc_id string, sort_v double, "
            "metric_v double",
        )
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id",
        F.col(sort_col).cast("double").alias("sort_v"),
        F.col(metric_col).cast("double").alias("metric_v"),
    )
    order = (
        F.col("sort_v").asc() if ascending else F.col("sort_v").desc()
    )
    w = Window.partitionBy("qid").orderBy(order, F.col("doc_id").asc())
    return (
        hits.join(stats, "doc_int")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(size))
        .select("qid", "rank", "doc_id", "sort_v", "metric_v")
    )


def search_histogram_pipeline(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES PIPELINE aggregations over a histogram: ``cumulative_sum`` and
    ``derivative`` of the per-bucket doc counts. Parent buckets come from
    the same plan as ``search_histogram``; the pipeline metrics are two
    window expressions over the (qid, bucket) frame — bucket-cardinality
    rows, no second pass over docs. The derivative of the FIRST bucket is
    null (ES emits no value there); with min_doc_count=1 parents (ours —
    empty buckets are skipped) the derivative is the count delta vs the
    previous NON-EMPTY bucket, the documented divergence from ES's
    gap-policy knobs."""
    base = search_histogram(
        spark, store, queries, interval, value_col, mode, field
    )
    w = Window.partitionBy("qid").orderBy(F.col("bucket").asc())
    return (
        base.withColumn(
            "cum_docs",
            F.sum("n_docs").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "deriv",
            (F.col("n_docs") - F.lag("n_docs", 1).over(w)).cast("long"),
        )
    )


def search_stats_bucket(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES SIBLING pipeline aggregation ``stats_bucket`` (subsumes
    avg_bucket / max_bucket / min_bucket / sum_bucket): one row per qid
    with min/max/avg/sum over the histogram's per-bucket doc counts.
    Aggregation OF an aggregation — the second hop runs on
    bucket-cardinality rows."""
    base = search_histogram(
        spark, store, queries, interval, value_col, mode, field
    )
    return base.groupBy("qid").agg(
        F.count("*").alias("n_buckets"),
        F.min("n_docs").cast("long").alias("min_bucket"),
        F.max("n_docs").cast("long").alias("max_bucket"),
        F.round(F.avg("n_docs"), 6).alias("avg_bucket_r"),
        F.sum("n_docs").cast("long").alias("sum_bucket"),
    )


def search_bucket_sort(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    group_col: str,
    size: int,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``bucket_sort`` pipeline aggregation: re-order a ``terms``
    agg's buckets by doc count (desc, bucket-key tiebreak ascending for
    determinism) and truncate to ``size`` — the "top N categories"
    shape. One aggregation + one window over bucket-cardinality rows."""
    if size < 1:
        raise EngineError("bucket_sort size must be >= 1")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, rank int, group string, n_docs long"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(group_col).cast("string").alias("group")
    )
    counts = (
        hits.join(stats, "doc_int")
        .groupBy("qid", "group")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("n_docs").desc(), F.col("group").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(size))
        .select("qid", "rank", "group", "n_docs")
    )


def search_adjacency_matrix(
    spark: SparkSession,
    store: IndexStore,
    filters: dict[str, str],
    field: str | None = None,
) -> DataFrame:
    """ES ``adjacency_matrix`` aggregation: given named AND-filters,
    the doc counts of every filter and every pairwise INTERSECTION
    ("a", "a&b" buckets — ES's co-occurrence matrix for graph-ish
    exploration). ONE composite match-set job answers every filter
    (filters pack into qids exactly like the filters agg); the matrix is
    a self-join of the metadata-sized membership set on doc_int with
    fidx_a <= fidx_b — posting reads stay one regardless of filter
    count. Empty intersections are omitted (ES omits zero buckets
    here, unlike the filters agg)."""
    names = sorted(filters)
    if len(names) < 2:
        raise EngineError("adjacency_matrix needs at least two filters")
    fq = pd.DataFrame(
        {"qid": range(len(names)),
         "query": [str(filters[n]) for n in names]}
    )
    fsets = _match_set(spark, store, fq, "and", field)
    if fsets is None:
        return spark.createDataFrame([], "bucket string, n_docs long")
    a = fsets.select(
        F.col("qid").alias("ia"), "doc_int"
    )
    b = fsets.select(F.col("qid").alias("ib"), "doc_int")
    name_df = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"i": range(len(names)), "name": names})
        )
    )
    pairs = (
        a.join(b, "doc_int")
        .filter(F.col("ia") <= F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        pairs.join(name_df.withColumnRenamed("i", "ia")
                   .withColumnRenamed("name", "na"), "ia")
        .join(name_df.withColumnRenamed("i", "ib")
              .withColumnRenamed("name", "nb"), "ib")
        .select(
            F.when(F.col("na") == F.col("nb"), F.col("na"))
            .otherwise(F.concat_ws("&", "na", "nb")).alias("bucket"),
            "n_docs",
        )
    )


def search_sampler_terms(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    shard_size: int,
    group_col: str,
    field: str | None = None,
) -> DataFrame:
    """ES ``sampler`` aggregation with a ``terms`` sub-agg: restrict the
    sub-aggregation to the TOP-``shard_size`` BEST-SCORING matches, then
    bucket those (the "aggregate only the most relevant docs" shape).
    Deterministic sample: rank over (round(score,6) desc, doc_id) —
    the same presentation discipline every scored path uses. The sample
    window runs on the scored aggregate (no posting re-read); the terms
    agg then touches sample-sized rows only."""
    if shard_size < 1:
        raise EngineError("sampler shard_size must be >= 1")
    # overfetch past the cut so rounding ties at the boundary resolve on
    # (rounded score, doc_id) — the same headroom every scored gate uses
    res = search(
        spark, store, queries, k=shard_size + 40, algo="exhaustive",
        field=field,
    )
    stats = store.doc_stats(spark).select(
        "doc_id", F.col(group_col).cast("string").alias("group")
    )
    w = Window.partitionBy("qid").orderBy(
        F.round("score", 6).desc(), F.col("doc_id").asc()
    )
    sample = (
        res.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(shard_size))
    )
    return (
        sample.join(stats, "doc_id")
        .groupBy("qid", "group")
        .agg(F.count("*").alias("n_docs"))
    )


def search_moving_fn(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    window: int,
    fn: str = "avg",
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``moving_fn`` (and its ``moving_avg`` predecessor) over the
    histogram's bucket doc counts: the chosen function over the
    ``window`` buckets BEFORE each bucket (ES's default ``shift=0``
    window excludes the current bucket; the first bucket gets null).
    One window expression over bucket-cardinality rows."""
    fns = {"avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum}
    if fn not in fns:
        raise EngineError(f"moving_fn fn must be one of {sorted(fns)}")
    if window < 1:
        raise EngineError("moving_fn window must be >= 1")
    base = search_histogram(
        spark, store, queries, interval, value_col, mode, field
    )
    w = (
        Window.partitionBy("qid")
        .orderBy(F.col("bucket").asc())
        .rowsBetween(-int(window), -1)
    )
    out = base.withColumn(
        "moving_v", fns[fn](F.col("n_docs").cast("double")).over(w)
    )
    return out.withColumn("moving_v", F.round("moving_v", 6))


def search_serial_diff(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    lag: int = 1,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``serial_diff`` pipeline agg: n-th order differencing of the
    histogram's bucket doc counts (count minus the count ``lag``
    non-empty buckets earlier; the first ``lag`` buckets get null —
    same gap policy note as the derivative)."""
    if lag < 1:
        raise EngineError("serial_diff lag must be >= 1")
    base = search_histogram(
        spark, store, queries, interval, value_col, mode, field
    )
    w = Window.partitionBy("qid").orderBy(F.col("bucket").asc())
    return base.withColumn(
        "diff_v",
        (F.col("n_docs") - F.lag("n_docs", int(lag)).over(w)).cast("long"),
    )


def search_derivative(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``derivative`` pipeline agg over the histogram's bucket doc
    counts: first-order difference vs the previous NON-EMPTY bucket
    (``deriv_v``; first bucket null, like ES) plus the ``unit``-
    normalized form ``deriv_rate_r`` = delta per ONE interval of x-axis
    distance — when buckets are gappy the two disagree exactly as ES's
    ``value`` vs ``normalized_value`` do. One window expression over
    bucket-cardinality rows (reference parity: the reference delegates
    analytics bucketing to ES, lib/handler.js:100)."""
    base = search_histogram(
        spark, store, queries, interval, value_col, mode, field
    )
    w = Window.partitionBy("qid").orderBy(F.col("bucket").asc())
    delta = F.col("n_docs") - F.lag("n_docs", 1).over(w)
    gap = (F.col("bucket") - F.lag("bucket", 1).over(w)) / F.lit(
        float(interval)
    )
    return base.withColumn("deriv_v", delta.cast("long")).withColumn(
        "deriv_rate_r", F.round(delta.cast("double") / gap, 6)
    )


def search_cumulative_sum(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``cumulative_sum`` pipeline agg: running total of the
    histogram's bucket doc counts in bucket-key order. One unbounded-
    preceding window over bucket-cardinality rows — the corpus-sized
    work all happened in the histogram's single hash aggregation."""
    base = search_histogram(
        spark, store, queries, interval, value_col, mode, field
    )
    w = (
        Window.partitionBy("qid")
        .orderBy(F.col("bucket").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.withColumn(
        "cum_docs", F.sum("n_docs").over(w).cast("long")
    )


def search_cumulative_cardinality(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    group_col: str,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``cumulative_cardinality`` pipeline agg: per histogram bucket,
    the number of DISTINCT ``group_col`` values seen in this bucket or
    any earlier one (ES pitches it as "new users per day" over a
    date_histogram; here the x-axis is any numeric doc_stats column).

    Exact, and deliberately NOT a distinct-count-per-window: each group
    value contributes only at its FIRST bucket (one min-aggregation),
    first-bucket counts cumulative-sum across the bucket axis, and a
    left join pins them back onto the histogram. Three aggregations
    total — two over match-set-sized frames, the window over
    bucket-cardinality rows — instead of the quadratic re-count a
    naive windowed COUNT(DISTINCT) would do at 100 TB."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, bucket double, n_docs long, cum_card long"
        )
    stats = store.doc_stats(spark).select(
        "doc_int",
        (
            F.floor(F.col(value_col) / F.lit(float(interval)))
            * F.lit(float(interval))
        ).cast("double").alias("bucket"),
        F.col(group_col).cast("string").alias("_g"),
    )
    md = hits.join(stats, "doc_int")
    base = md.groupBy("qid", "bucket").agg(F.count("*").alias("n_docs"))
    firsts = (
        md.groupBy("qid", "_g")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("qid", "bucket")
        .agg(F.count("*").alias("_new"))
    )
    w = (
        Window.partitionBy("qid")
        .orderBy(F.col("bucket").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.join(firsts, ["qid", "bucket"], "left")
        .withColumn(
            "cum_card",
            F.sum(F.coalesce(F.col("_new"), F.lit(0))).over(w)
            .cast("long"),
        )
        .drop("_new")
    )


def date_rate(
    df: DataFrame,
    ts_col: str,
    calendar_interval: str,
    qid: int = 0,
) -> DataFrame:
    """ES ``rate`` agg inside a calendar ``date_histogram``: per calendar
    bucket, the doc count and the per-DAY rate — count divided by the
    bucket's true calendar length (months are 28–31 days, quarters
    90–92; ES normalizes by exactly this bucket/unit ratio). Works on
    any timestamped DataFrame (the events table, a store's doc_stats) —
    one hash aggregation, the calendar arithmetic is constant-folded
    per bucket. → (qid, bucket, n_docs, rate_per_day_r)."""
    months = {"month": 1, "quarter": 3}
    if calendar_interval in months:
        start = F.to_date(F.date_trunc(
            "quarter" if calendar_interval == "quarter" else "month",
            F.col(ts_col),
        ))
        days = F.datediff(
            F.add_months(start, months[calendar_interval]), start
        )
    elif calendar_interval == "week":
        start = F.to_date(F.date_trunc("week", F.col(ts_col)))
        days = F.lit(7)
    else:
        raise EngineError(
            "date_rate calendar_interval must be month, quarter, or week"
        )
    return (
        df.select(start.alias("bucket"), days.alias("_days"))
        .groupBy("bucket", "_days")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.lit(int(qid)).cast("long").alias("qid"),
            F.col("bucket").cast("string").alias("bucket"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(
                F.col("n_docs").cast("double") / F.col("_days"), 6
            ).alias("rate_per_day_r"),
        )
    )


def search_percentiles_bucket(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    percents: tuple[float, ...] = (50.0, 95.0),
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``percentiles_bucket`` sibling pipeline agg: exact NEAREST-RANK
    percentiles of the histogram's bucket doc counts (ES documents these
    as exact, returning an actual sibling value — no interpolation).
    Rank = max(1, ceil(p/100 · n)) over counts ascending, ties broken by
    bucket key for determinism; everything runs on bucket-cardinality
    rows."""
    if not percents or any(p <= 0 or p > 100 for p in percents):
        raise EngineError("percents must be in (0, 100]")
    base = search_histogram(
        spark, store, queries, interval, value_col, mode, field
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("n_docs").asc(), F.col("bucket").asc()
    )
    ranked = base.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(Window.partitionBy("qid"))
    )
    pdf = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"percent": [float(p) for p in sorted(percents)]})
        )
    )
    return (
        ranked.crossJoin(pdf)
        .filter(
            F.col("_rn")
            == F.greatest(
                F.lit(1),
                F.ceil(F.col("percent") / 100.0 * F.col("_n")).cast("int"),
            )
        )
        .select(
            "qid", "percent",
            F.col("n_docs").cast("long").alias("value"),
        )
    )


def _validate_bucket_script(script: str, metric_cols: tuple[str, ...]):
    import re as _re

    stripped = _re.sub(r"\b\d+(\.\d+)?([eE][+-]?\d+)?", " ", script)
    idents = set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", stripped))
    allowed = {*metric_cols, *_SCRIPT_FNS}
    bad = sorted(
        i for i in idents if i.lower() not in allowed and i not in allowed
    )
    if bad:
        raise EngineError(
            f"bucket script references {bad} — allowed: metric columns "
            f"{sorted(metric_cols)} and functions {sorted(_SCRIPT_FNS)}"
        )


def search_scripted_metric(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    map_script: str,
    reduce: str = "sum",
    doc_cols: tuple[str, ...] = ("dl",),
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``scripted_metric`` aggregation, the whitelisted-expression
    way: ``map_script`` is a Spark SQL expression over per-document
    fields (the map phase), ``reduce`` one of sum/avg/min/max (ES's
    combine+reduce collapse into one associative aggregate — partial
    map-side combine keeps the shuffle metric-sized). Same validation
    discipline as script_score/bucket_script: every identifier must be
    a named doc column or a whitelisted function, so the map phase
    compiles into whole-stage codegen — never per-row Painless-style
    interpretation. → (qid, n_docs, metric_r)."""
    reducers = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}
    if reduce not in reducers:
        raise EngineError(
            f"scripted_metric reduce must be one of {sorted(reducers)}"
        )
    _validate_bucket_script(map_script, tuple(doc_cols))
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, n_docs long, metric_r double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", *[F.col(c).cast("double").alias(c) for c in doc_cols]
    )
    return (
        hits.join(stats, "doc_int")
        .withColumn("_m", F.expr(map_script).cast("double"))
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(reducers[reduce]("_m"), 6).alias("metric_r"),
        )
    )


def render_search_template(template: str, params: dict) -> str:
    """Mustache-lite ``{{var}}`` substitution for ES ``_search/template``
    (driver-side by nature — templates are query construction). Unknown
    placeholders left unfilled raise, like ES's missing-parameter
    error."""
    import re as _re

    out = template
    for key, val in params.items():
        out = out.replace("{{" + str(key) + "}}", str(val))
    left = _re.findall(r"\{\{\s*([A-Za-z0-9_.]+)\s*\}\}", out)
    if left:
        raise EngineError(
            f"search template missing parameters: {sorted(set(left))}"
        )
    return out


def search_template(
    spark: SparkSession,
    store: IndexStore,
    template: str,
    params: pd.DataFrame,
    k: int = 10,
    algo: str = "wand",
    field: str | None = None,
) -> DataFrame:
    """ES ``_search/template``: render the mustache template once per
    params row (the row's ``qid`` keys the results) and run the rendered
    queries as ONE batched top-k search — n templates cost the same two
    posting reads any n-query batch does."""
    if "qid" not in params.columns:
        raise EngineError("search_template params need a qid column")
    rendered = [
        (row["qid"],
         render_search_template(
             template,
             {c: row[c] for c in params.columns if c != "qid"},
         ))
        for _, row in params.iterrows()
    ]
    qpdf = pd.DataFrame(rendered, columns=["qid", "query"])
    return search(spark, store, qpdf, k=k, algo=algo, field=field)


def search_bucket_script(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    script: str,
    group_col: str,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``bucket_script`` pipeline agg: a per-bucket metric computed by
    a user EXPRESSION over the bucket's sibling metrics (``n_docs``,
    ``sum_v``, ``avg_v``) — same whitelisted-Spark-SQL discipline as
    script_score (plans/search.search_script_score): compiles into
    codegen over bucket-cardinality rows, never per-row Python."""
    metric_cols = ("n_docs", "sum_v", "avg_v")
    _validate_bucket_script(script, metric_cols)
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, group string, n_docs long, sum_v double, "
            "avg_v double, script_v double",
        )
    stats = store.doc_stats(spark).select(
        "doc_int",
        F.col(group_col).cast("string").alias("group"),
        F.col(value_col).cast("double").alias("_v"),
    )
    buckets = (
        hits.join(stats, "doc_int")
        .groupBy("qid", "group")
        .agg(
            F.count("*").cast("double").alias("n_docs"),
            F.sum("_v").alias("sum_v"),
            F.avg("_v").alias("avg_v"),
        )
    )
    return buckets.select(
        "qid", "group",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("sum_v", 6).alias("sum_v"),
        F.round("avg_v", 6).alias("avg_v"),
        F.round(F.expr(script).cast("double"), 6).alias("script_v"),
    )


def search_bucket_selector(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    script: str,
    group_col: str,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``bucket_selector`` pipeline agg: keep only the buckets whose
    boolean expression over sibling metrics holds — the HAVING of the
    agg family, same whitelist as bucket_script."""
    metric_cols = ("n_docs", "sum_v", "avg_v")
    _validate_bucket_script(script, metric_cols)
    full = search_bucket_script(
        spark, store, queries, "n_docs", group_col, value_col, mode, field
    )
    return full.filter(F.expr(script)).select(
        "qid", "group", "n_docs", "sum_v", "avg_v"
    )


def search_normalize_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    group_col: str,
    method: str = "percent_of_sum",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``normalize`` pipeline aggregation: rescale a terms agg's
    bucket doc counts per qid — ``percent_of_sum`` (share of total),
    ``rescale_0_1`` (min-max), or ``z-score``. One window pass over
    bucket-cardinality rows; a single-bucket qid yields null for the
    scale-dependent methods (rescale/z-score divide by zero spread),
    matching ES's skipped-bucket behavior."""
    methods = ("percent_of_sum", "rescale_0_1", "z-score")
    if method not in methods:
        raise EngineError(f"normalize method must be one of {methods}")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, group string, n_docs long, normalized_r double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(group_col).cast("string").alias("group")
    )
    counts = (
        hits.join(stats, "doc_int")
        .groupBy("qid", "group")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy("qid")
    v = F.col("n_docs").cast("double")
    if method == "percent_of_sum":
        norm = v / F.sum(v).over(w)
    elif method == "rescale_0_1":
        spread = F.max(v).over(w) - F.min(v).over(w)
        norm = F.when(
            spread > 0, (v - F.min(v).over(w)) / spread
        )
    else:
        sd = F.stddev_pop(v).over(w)
        norm = F.when(sd > 0, (v - F.avg(v).over(w)) / sd)
    return counts.select(
        "qid", "group", "n_docs", F.round(norm, 6).alias("normalized_r")
    )


def termvectors(
    spark: SparkSession,
    store: IndexStore,
    doc_ids: list[str],
) -> DataFrame:
    """ES ``_termvectors`` API: per (doc, term) statistics — term
    frequency in the doc plus the term's document frequency — straight
    from the INDEX, never re-analyzing the document.

    Plan: the requested ids resolve to (doc_int, posting segment) via the
    doc markers (one metadata-sized filtered read); the posting read is
    then restricted to blocks of THOSE segments whose [doc_first,
    doc_last] range covers a requested doc — segment-sized work
    independent of corpus size. Blocks decode Arrow-batched and keep only
    the requested doc_ints; df joins in from term_stats. Dead docs
    (superseded/tombstoned) report nothing, like ES after delete."""
    if not doc_ids:
        raise EngineError("termvectors needs at least one doc id")
    ids = [str(d) for d in doc_ids]
    tgt = (
        store.doc_rows(spark, cols=("doc_id", "doc_int", "seg"))
        .filter(F.col("doc_id").isin(ids))
    )
    tgt = _drop_dead(spark, store, tgt)
    rows = tgt.toPandas()  # query-sized: one row per requested id
    return _termvectors_resolved(spark, store, rows)


def _termvectors_resolved(
    spark: SparkSession,
    store: IndexStore,
    rows: pd.DataFrame,
) -> DataFrame:
    """:func:`termvectors` core over already-resolved LIVE marker rows
    (doc_id, doc_int, seg) — callers that hold the resolution from an
    earlier job (significant_text's sample cut) skip the marker scan."""
    if rows.empty:
        return spark.createDataFrame(
            [], "doc_id string, term string, tf long, df long"
        )
    tpdf = pd.DataFrame(
        {"doc_int": rows["doc_int"].astype("int64"),
         "t_seg": rows["seg"].astype("int64")}
    )
    segs = sorted(tpdf["t_seg"].unique().tolist())
    # The wanted ids are QUERY-sized (an explicit id list — the ES
    # _termvectors contract), so they travel in the task closure as one
    # sorted array per segment instead of a broadcast range join: hash
    # doc_ints spread over the whole int64 space, so a block's
    # [doc_first, doc_last] range covers almost every wanted id in its
    # segment and the old join emitted one row — and one FULL block
    # decode — per (block, wanted id) pair. Now each Arrow batch's
    # blocks decode in ONE codec.decode_blocks call and all wanted ids
    # resolve with vectorized searchsorted (guide §4.2); the range check
    # happens against the want array before any decode, so blocks with
    # no wanted doc skip the codec entirely. Output rows are identical:
    # within a (term, seg) the blocks partition the sorted doc space, so
    # each wanted id matches at most one block per term.
    wants_by_seg = {
        int(s): np.sort(
            tpdf.loc[tpdf["t_seg"] == s, "doc_int"].to_numpy(np.int64)
        )
        for s in segs
    }
    blocks = (
        store.postings(spark)
        .filter(F.col("seg").isin(segs))
        .select(
            "term", "seg", "n_docs", "doc_first", "doc_last",
            "doc_bytes", "tf_bytes",
        )
    )

    def run(batches):
        for pdf in batches:
            seg = pdf["seg"].to_numpy(np.int64)
            first = pdf["doc_first"].to_numpy(np.int64)
            last = pdf["doc_last"].to_numpy(np.int64)
            in_range = np.zeros(len(pdf), bool)
            for s in np.unique(seg):
                wants, m = wants_by_seg[int(s)], seg == s
                in_range[m] = np.searchsorted(wants, first[m]) < (
                    np.searchsorted(wants, last[m], "right")
                )
            blk = pdf[in_range]  # blocks holding a wanted doc
            if not len(blk):
                continue
            # one batched decode for every such block; a decoded doc is
            # kept when it is one of its segment's wanted ids
            counts = blk["n_docs"].to_numpy(np.int64)
            ids, tfs, _ = codec.decode_blocks(blk)
            doc_seg = np.repeat(blk["seg"].to_numpy(np.int64), counts)
            terms = np.repeat(blk["term"].to_numpy(object), counts)
            ok = np.zeros(len(ids), bool)
            for s in np.unique(doc_seg):
                wants, m = wants_by_seg[int(s)], doc_seg == s
                pos = np.searchsorted(wants, ids[m])
                ok[m] = wants[np.minimum(pos, len(wants) - 1)] == ids[m]
            if ok.any():
                yield pd.DataFrame(
                    {"doc_int": ids[ok],
                     "term": terms[ok],
                     "tf": tfs[ok]}
                )

    decoded = blocks.mapInPandas(
        run, schema="doc_int long, term string, tf long"
    )
    names = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                {"doc_int": rows["doc_int"].astype("int64"),
                 "doc_id": rows["doc_id"].astype(str)}
            )
        )
    )
    ts = store.term_stats(spark).select("term", "df")
    return (
        decoded.join(names, "doc_int")
        .join(ts, "term")
        .select("doc_id", "term", "tf", F.col("df").cast("long").alias("df"))
    )


def analyze_texts(spark: SparkSession, texts: pd.DataFrame) -> DataFrame:
    """ES ``_analyze`` API: run the engine's analyzer over ad-hoc texts
    and return every token WITH its position — the debugging window into
    exactly what the index would store. ``texts``: pandas (qid, text).
    Arrow-batched through the same tokenizer the build path uses
    (functions/analysis.tokenize_series), so _analyze can never drift
    from indexing."""
    src = spark.createDataFrame(texts[["qid", "text"]])

    def run(batches):
        for pdf in batches:
            toks = analysis.tokenize_series(pdf["text"])
            outs = []
            for qid, tl in zip(pdf["qid"], toks):
                if len(tl):
                    outs.append(
                        pd.DataFrame(
                            {"qid": qid,
                             "pos": range(len(tl)),
                             "token": list(tl)}
                        )
                    )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return src.mapInPandas(run, schema="qid long, pos int, token string")


def mget(
    spark: SparkSession,
    store: IndexStore,
    doc_ids: list[str],
    cols: tuple[str, ...] = ("dl",),
) -> DataFrame:
    """ES ``_mget`` API: per requested id, found flag + the stored doc
    fields (doc_meta_cols and built-in marker columns). One filtered
    metadata read left-joined under the requested-id list — missing and
    dead ids report found=false with null fields, present ids their
    marker row; posting bytes are never touched."""
    if not doc_ids:
        raise EngineError("mget needs at least one doc id")
    ids = [str(d) for d in doc_ids]
    want = F.broadcast(
        spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    )
    ds = store.doc_stats(spark)
    missing = [c for c in cols if c not in ds.columns]
    if missing:
        raise EngineError(
            f"mget columns {missing} not on doc_stats — stored: "
            f"{sorted(ds.columns)}"
        )
    live = _drop_dead(
        spark, store, ds.filter(F.col("doc_id").isin(ids))
    ).select("doc_id", F.lit(True).alias("found"), *cols)
    return want.join(live, "doc_id", "left").select(
        "doc_id",
        F.coalesce("found", F.lit(False)).alias("found"),
        *cols,
    )


_EARTH_RADIUS_KM = 6371.0088


def _haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance as a Column expression (pure built-ins —
    codegen-able, identical formula to the DuckDB oracle)."""
    dphi = F.radians(lat2 - lat1) / 2.0
    dlmb = F.radians(lon2 - lon1) / 2.0
    a = (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
        * F.sin(dlmb) * F.sin(dlmb)
    )
    return 2.0 * _EARTH_RADIUS_KM * F.asin(F.sqrt(a))


def search_geo_distance(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    origin: tuple[float, float],
    distance_km: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    k: int = 10,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``geo_distance`` query + geo-distance SORT: match-set docs
    within ``distance_km`` of ``origin``, nearest first (ties break on
    doc_id). The haversine evaluates as one codegen projection over the
    metadata join — geo fields are ordinary doc_meta_cols; no geohash
    index is needed because the match set is already term-pruned (ES
    evaluates the same way on a filtered query)."""
    if distance_km <= 0:
        raise EngineError("geo_distance distance_km must be positive")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id string, dist_km_r double"
        )
    olat, olon = float(origin[0]), float(origin[1])
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id",
        _haversine_km(
            F.lit(olat), F.lit(olon),
            F.col(lat_col).cast("double"), F.col(lon_col).cast("double"),
        ).alias("_d"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.round("_d", 6).asc(), F.col("doc_id").asc()
    )
    return (
        hits.join(stats, "doc_int")
        .filter(F.col("_d") <= float(distance_km))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            "qid", "rank", "doc_id", F.round("_d", 6).alias("dist_km_r")
        )
    )


def search_geo_bounding_box(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    box: tuple[float, float, float, float],
    lat_col: str = "lat",
    lon_col: str = "lon",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``geo_bounding_box`` filter over the match set: docs whose
    point lies in [(south, west), (north, east)] — two range predicates
    over doc_meta_cols, pure codegen. ``box`` = (south, west, north,
    east)."""
    s, wst, n, e = (float(v) for v in box)
    if s > n or wst > e:
        raise EngineError("geo_bounding_box wants (south, west, north, east)")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame([], "qid long, doc_id string")
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id",
        F.col(lat_col).cast("double").alias("_lat"),
        F.col(lon_col).cast("double").alias("_lon"),
    )
    return (
        hits.join(stats, "doc_int")
        .filter(
            (F.col("_lat") >= s) & (F.col("_lat") <= n)
            & (F.col("_lon") >= wst) & (F.col("_lon") <= e)
        )
        .select("qid", "doc_id")
    )


def search_global_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``global`` bucket: the metric over the WHOLE live index next to
    the same metric over the match set — the 'my results vs everything'
    comparison. The global half is ONE corpus-independent aggregation
    over the metadata-sized doc_stats (computed once, broadcast under
    every qid), never per-query work."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, n_docs long, avg_v_r double, "
            "global_docs long, global_avg_r double",
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(value_col).cast("double").alias("_v")
    )
    live = _drop_dead(spark, store, stats)
    glob = F.broadcast(
        live.agg(
            F.count("*").alias("global_docs"),
            F.round(F.avg("_v"), 6).alias("global_avg_r"),
        )
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("_v"), 6).alias("avg_v_r"),
        )
        .crossJoin(glob)
    )


def search_missing_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    check_col: str,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``missing`` + ``value_count`` aggregations in one pass: docs of
    the match set whose field is null vs the count of present values —
    both conditional counts out of ONE hash aggregation."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, n_docs long, value_count long, n_missing long"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(check_col).isNull().alias("_miss")
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(~F.col("_miss"), 1).otherwise(0))
            .cast("long").alias("value_count"),
            F.sum(F.when(F.col("_miss"), 1).otherwise(0))
            .cast("long").alias("n_missing"),
        )
    )


def search_histogram_dense(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    bounds: tuple[float, float],
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES histogram with ``min_doc_count=0`` + ``extended_bounds``: every
    bucket of [lo, hi] appears, zero-filled — the gap policy the
    derivative/moving pipelines assume when ES inserts zeros. The dense
    bucket axis GENERATES per qid (sequence() — bucket-cardinality rows,
    no doc pass) and left-joins the sparse counts; out-of-bounds docs
    still count into their own buckets, exactly like ES extends rather
    than clips."""
    lo, hi = (float(b) for b in bounds)
    if interval <= 0 or hi < lo:
        raise EngineError("histogram_dense wants interval > 0 and hi >= lo")
    base = search_histogram(
        spark, store, queries, interval, value_col, mode, field
    )
    qids = base.select("qid").distinct()
    lo_b = math.floor(lo / interval) * interval
    hi_b = math.floor(hi / interval) * interval
    axis = qids.select(
        "qid",
        F.explode(
            F.sequence(
                F.lit(0),
                F.lit(int(round((hi_b - lo_b) / interval))),
            )
        ).alias("_i"),
    ).select(
        "qid",
        (F.lit(lo_b) + F.col("_i") * F.lit(float(interval)))
        .alias("bucket"),
    )
    dense = (
        axis.join(base, ["qid", "bucket"], "full")
        .select(
            "qid", "bucket",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )
    return dense


def search_knn(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    query_vecs: pd.DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    mode: str = "or",
    field: str | None = None,
    similarity: float | None = None,
) -> DataFrame:
    """ES filtered kNN search: cosine top-k among the docs MATCHING the
    filter query — vectors live on the doc markers as an ordinary
    ``doc_meta_cols`` array column, so the index needs no separate
    vector store.

    ``queries``: pandas (qid, query) — the pre-filter; ``query_vecs``:
    pandas (qid, vec) with list-valued vecs. Plan: the term-pruned match
    set joins the metadata-sized markers, the query vectors broadcast,
    and the cosine evaluates as ONE codegen zip_with/aggregate
    expression (operators/ann.cosine_expr — no Python) before a per-qid
    rank window. This is ES's post-filter-exact semantics: with a
    selective filter, exact scoring of the match set beats an ANN graph
    walk that must over-fetch past filtered docs; for unfiltered
    corpus-wide kNN use operators/ann's IVF/PQ/LSH paths.

    ``similarity`` (ES 8.13 knn parameter): a cosine floor — candidates
    below it are dropped BEFORE the top-k cut, so a radius query
    returns fewer than k rows rather than padding with distant
    neighbors."""
    from ..operators.ann import cosine_expr

    if k < 1:
        raise EngineError("knn k must be >= 1")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id string, cos_r double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id",
        F.col(vec_col).cast("array<double>").alias("_dvec"),
    )
    qv = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                {"qid": query_vecs["qid"],
                 "_qvec": [list(map(float, v)) for v in query_vecs["vec"]]}
            )
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_r").desc(), F.col("doc_id").asc()
    )
    return (
        hits.join(stats, "doc_int")
        .join(qv, "qid")
        .withColumn(
            "cos_r", F.round(F.expr(cosine_expr("_qvec", "_dvec")), 6)
        )
        .filter(
            F.lit(True) if similarity is None
            else F.col("cos_r") >= float(similarity)
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("qid", "rank", "doc_id", "cos_r")
    )


def search_diversified_sampler(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    shard_size: int,
    group_col: str,
    max_docs_per_value: int = 1,
    field: str | None = None,
) -> DataFrame:
    """ES ``diversified_sampler``: the top-``shard_size`` best-scoring
    matches, but with at most ``max_docs_per_value`` docs per value of
    the diversity field. Equivalent closed form of ES's score-order
    sweep: the docs ES drops are exactly those outranked by
    max_docs_per_value same-value docs, so keeping the per-value top
    ``max_docs_per_value`` first and ranking the survivors gives the
    identical sample. Two window functions over the scored aggregate —
    no posting re-read, no iterative sweep."""
    if shard_size < 1 or max_docs_per_value < 1:
        raise EngineError(
            "diversified_sampler wants shard_size and "
            "max_docs_per_value >= 1"
        )
    scored = _scored_or_match(spark, store, queries, field)
    if scored is None:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id string, group string, "
                "score_r double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id",
        F.col(group_col).cast("string").alias("group"),
    )
    j = scored.join(stats, "doc_int").withColumn(
        "score_r", F.round("score", 6)
    )
    w_grp = Window.partitionBy("qid", "group").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    w_all = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        j.withColumn("_gr", F.row_number().over(w_grp))
        .filter(F.col("_gr") <= int(max_docs_per_value))
        .withColumn("rank", F.row_number().over(w_all))
        .filter(F.col("rank") <= int(shard_size))
        .select("qid", "rank", "doc_id", "group", "score_r")
    )


def search_geo_distance_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    origin: tuple[float, float],
    ranges: list[tuple[float, float]],
    lat_col: str = "lat",
    lon_col: str = "lon",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``geo_distance`` AGGREGATION: ring buckets [from, to) of
    distance from origin, doc counts per ring, EMPTY RINGS INCLUDED
    (ES keeps zero buckets here). The (qid × ring) base is
    query-cardinality; the haversine evaluates once per matched doc in
    the same codegen projection the geo query uses."""
    if not ranges or any(f >= t for f, t in ranges):
        raise EngineError("geo_distance_agg wants non-empty [from, to) rings")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, ring string, n_docs long"
        )
    olat, olon = float(origin[0]), float(origin[1])
    rdf = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                {"ring": [f"{f}-{t}" for f, t in ranges],
                 "_from": [float(f) for f, _ in ranges],
                 "_to": [float(t) for _, t in ranges]}
            )
        )
    )
    stats = store.doc_stats(spark).select(
        "doc_int",
        _haversine_km(
            F.lit(olat), F.lit(olon),
            F.col(lat_col).cast("double"), F.col(lon_col).cast("double"),
        ).alias("_d"),
    )
    counts = (
        hits.join(stats, "doc_int")
        .join(
            rdf,
            (F.col("_d") >= F.col("_from")) & (F.col("_d") < F.col("_to")),
        )
        .groupBy("qid", "ring")
        .agg(F.count("*").alias("n_docs"))
    )
    base = hits.select("qid").distinct().crossJoin(rdf.select("ring"))
    return base.join(counts, ["qid", "ring"], "left").select(
        "qid", "ring",
        F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
    )


_MERC_MAX_LAT = 85.0511287798066


def geotile_key_sql(lat_sql: str, lon_sql: str, zoom: int) -> str:
    """TRUE ES ``geotile_grid`` bucket key — web-mercator ``z/x/y``
    (OpenStreetMap tile scheme, what map UIs consume verbatim) as ONE
    portable SQL expression: ``x = floor((lon+180)/360 · 2^z)``,
    ``y = floor((1 − asinh(tan(lat))/π)/2 · 2^z)`` with latitude
    clamped to ±85.0511287798066 (the mercator square) and both
    coordinates clamped to [0, 2^z−1] — matching ES's edge handling.
    ln/tan/cos/radians/floor only, identical math in Spark and
    DuckDB."""
    if not 0 <= int(zoom) <= 29:
        raise EngineError("geotile_grid zoom must be in 0..29")
    n = 1 << int(zoom)
    lat_c = (
        f"least(greatest(CAST({lat_sql} AS DOUBLE), "
        f"{-_MERC_MAX_LAT!r}), {_MERC_MAX_LAT!r})"
    )
    x = (
        f"least(greatest(CAST(floor((CAST({lon_sql} AS DOUBLE) + 180.0)"
        f" / 360.0 * {n}.0) AS BIGINT), 0), {n - 1})"
    )
    merc = (
        f"ln(tan(radians({lat_c})) + 1.0 / cos(radians({lat_c})))"
    )
    y = (
        f"least(greatest(CAST(floor((1.0 - {merc} / pi()) / 2.0 "
        f"* {n}.0) AS BIGINT), 0), {n - 1})"
    )
    return f"concat('{int(zoom)}', '/', {x}, '/', {y})"


def search_geotile_grid(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    zoom: int = 7,
    lat_col: str = "lat",
    lon_col: str = "lon",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``geotile_grid`` aggregation: bucket the match set's points by
    web-mercator tile at ``zoom`` (``precision`` in ES, 0..29), bucket
    key = the ES/OSM ``"z/x/y"`` string. One hash aggregation keyed on
    the tile; empty cells are omitted like ES. → (qid, key, n_docs)."""
    key = geotile_key_sql(f"`{lat_col}`", f"`{lon_col}`", zoom)
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, key string, n_docs long"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.expr(key).alias("key")
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid", "key")
        .agg(F.count("*").alias("n_docs"))
    )


def search_geohex_grid(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    resolution: int = 4,
    lat_col: str = "lat",
    lon_col: str = "lon",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``geohex_grid``-style aggregation: bucket the match set's
    points into a HEXAGONAL grid at ``resolution`` (0..15), one hash
    aggregation keyed on the hex cell, empty cells omitted.

    Cell scheme (pinned, documented divergence): pointy-top hexagons of
    size ``60/2^res`` degrees on the equirectangular lon/lat plane,
    indexed by axial coordinates via the published cube-rounding
    algorithm (fractional axial ``q = (√3/3·lon − lat/3)/s``,
    ``r = (2lat/3)/s``; round cube coords, repair the axis with the
    largest rounding error so ``x+y+z = 0`` holds). ES's geohex_grid
    keys by Uber H3 cell ids — geodesic icosahedral hexes with an
    aperture-7 hierarchy — which have no closed-form SQL encoding; the
    planar variant keeps the hex-neighborhood semantics (every bucket
    has ≤ 6 equidistant neighbors, equal-area cells away from poles)
    with keys ``"res/q/r"``. Rounding is ``floor(x+0.5)`` written out
    explicitly so Spark and the DuckDB oracle agree on exact .5
    boundaries. All codegen arithmetic — no UDF.
    → (qid, key, n_docs)."""
    if not 0 <= int(resolution) <= 15:
        raise EngineError("geohex_grid resolution must be in 0..15")
    s = 60.0 / (1 << int(resolution))
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, key string, n_docs long"
        )
    px = F.col(lon_col).cast("double")
    py = F.col(lat_col).cast("double")
    stats = (
        store.doc_stats(spark)
        .select("doc_int", px.alias("_px"), py.alias("_py"))
        .withColumn(
            "_qf",
            (F.lit(0.5773502691896258) * F.col("_px")
             - F.col("_py") / 3.0) / F.lit(s),
        )
        .withColumn("_rf", (F.col("_py") * 2.0 / 3.0) / F.lit(s))
        .withColumn("_yf", -F.col("_qf") - F.col("_rf"))
        .withColumn("_rx", F.floor(F.col("_qf") + 0.5))
        .withColumn("_ry", F.floor(F.col("_yf") + 0.5))
        .withColumn("_rz", F.floor(F.col("_rf") + 0.5))
        .withColumn("_dx", F.abs(F.col("_rx") - F.col("_qf")))
        .withColumn("_dy", F.abs(F.col("_ry") - F.col("_yf")))
        .withColumn("_dz", F.abs(F.col("_rz") - F.col("_rf")))
        .withColumn(
            "_hq",
            F.when(
                (F.col("_dx") > F.col("_dy"))
                & (F.col("_dx") > F.col("_dz")),
                -F.col("_ry") - F.col("_rz"),
            ).otherwise(F.col("_rx")),
        )
        .withColumn(
            "_hr",
            F.when(
                (F.col("_dx") > F.col("_dy"))
                & (F.col("_dx") > F.col("_dz")),
                F.col("_rz"),
            )
            .when(F.col("_dy") > F.col("_dz"), F.col("_rz"))
            .otherwise(-F.col("_hq") - F.col("_ry")),
        )
        .select(
            "doc_int",
            F.concat_ws(
                "/",
                F.lit(int(resolution)),
                F.col("_hq").cast("long"),
                F.col("_hr").cast("long"),
            ).alias("key"),
        )
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid", "key")
        .agg(F.count("*").alias("n_docs"))
    )


def search_geo_bounds_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``geo_bounds`` metric agg: the bounding box of the match set's
    points — (top, bottom, left, right) = (max lat, min lat, min lon,
    max lon), ES's non-dateline-wrapping default. One hash aggregation
    over the match set joined to metadata-sized doc_stats."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, top double, bottom double, "
            "left double, right double",
        )
    stats = store.doc_stats(spark).select(
        "doc_int",
        F.col(lat_col).cast("double").alias("_lat"),
        F.col(lon_col).cast("double").alias("_lon"),
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(
            F.round(F.max("_lat"), 6).alias("top"),
            F.round(F.min("_lat"), 6).alias("bottom"),
            F.round(F.min("_lon"), 6).alias("left"),
            F.round(F.max("_lon"), 6).alias("right"),
        )
    )


def geo_polygon_expr(
    lat_sql: str, lon_sql: str, polygon: list[tuple[float, float]]
) -> str:
    """Even-odd ray-casting point-in-polygon test as ONE portable SQL
    boolean expression — identical text runs in Spark SQL and DuckDB
    (CASE/compare/multiply only, no dialect functions), so the oracle
    reproduces the match bit-for-bit.

    ``polygon``: [(lat, lon), ...] vertices (≥ 3, closing edge implied).
    The standard crossing-number algorithm: for each edge (i, j), count
    it when the horizontal ray from the point crosses it —
    ``(lat_i > Y) != (lat_j > Y)`` and the point is left of the
    intersection. The division-free form multiplies both sides by
    ``(lat_j − lat_i)`` with a sign flip per edge (vertices are
    literals, so the flip folds at build time), keeping the expression
    exact for any edge slope. Points exactly ON an edge are
    boundary-undefined (as in every even-odd implementation); callers
    pick vertices off the data lattice."""
    if len(polygon) < 3:
        raise EngineError("geo_polygon wants >= 3 vertices")
    x, y = f"({lon_sql})", f"({lat_sql})"
    crossings = []
    n = len(polygon)
    for i in range(n):
        yi, xi = (float(v) for v in polygon[i])
        yj, xj = (float(v) for v in polygon[(i + 1) % n])
        if yi == yj:
            continue  # horizontal edge: a horizontal ray never crosses it
        # X < xi + (Y - yi) * (xj - xi) / (yj - yi), division-free:
        # multiply by (yj - yi), flipping the comparison when negative
        lhs = f"({x} - ({xi})) * ({yj - yi})"
        rhs = f"({y} - ({yi})) * ({xj - xi})"
        op = "<" if (yj - yi) > 0 else ">"
        crossings.append(
            f"(CASE WHEN (({yi}) > {y}) != (({yj}) > {y}) "
            f"AND {lhs} {op} {rhs} THEN 1 ELSE 0 END)"
        )
    if not crossings:
        raise EngineError("geo_polygon is degenerate (all edges horizontal)")
    return f"(({' + '.join(crossings)}) % 2 = 1)"


def search_geo_polygon(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    polygon: list[tuple[float, float]],
    lat_col: str = "lat",
    lon_col: str = "lon",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``geo_polygon`` filter over the match set: docs whose point
    lies inside the vertex list — the ray-casting parity test from
    ``geo_polygon_expr`` as a single codegen predicate over
    doc_meta_cols, pure column arithmetic (no UDF, no geometry lib)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame([], "qid long, doc_id string")
    cond = geo_polygon_expr(
        f"CAST({lat_col} AS DOUBLE)", f"CAST({lon_col} AS DOUBLE)", polygon
    )
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id", F.expr(cond).alias("_in")
    )
    return (
        hits.join(stats, "doc_int")
        .filter(F.col("_in"))
        .select("qid", "doc_id")
    )


_GEO_SHAPE_RELATIONS = ("intersects", "within", "contains", "disjoint")


def search_geo_shape(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    envelope: tuple[float, float, float, float],
    relation: str = "intersects",
    bounds_cols: tuple[str, str, str, str] = (
        "min_lon", "min_lat", "max_lon", "max_lat",
    ),
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``geo_shape`` query, ENVELOPE subset: documents carry an
    indexed shape as its bounding envelope (four doc_meta_cols —
    min_lon/min_lat/max_lon/max_lat, the ES ``envelope`` shape type) and
    the query supplies an envelope plus one of ES's four spatial
    relations — ``intersects`` (default), ``within`` (doc shape wholly
    inside the query shape), ``contains`` (doc shape wholly contains the
    query shape), ``disjoint``. ES additionally indexes arbitrary
    polygons via BKD triangle trees; the engine pins the envelope
    subset (documented divergence — relations on envelopes are exact
    interval algebra, one codegen predicate, no geometry lib; point
    fields already have geo_polygon / geo_bbox / geo_distance).

    Plan: match set → metadata-sized doc_stats join → codegen interval
    comparisons. No dateline wrapping (ES default envelopes likewise
    assume min ≤ max). → (qid, doc_id)."""
    if relation not in _GEO_SHAPE_RELATIONS:
        raise EngineError(
            f"geo_shape: unknown relation {relation!r} "
            f"(one of {_GEO_SHAPE_RELATIONS})"
        )
    qxl, qyl, qxh, qyh = (float(v) for v in envelope)
    if qxl > qxh or qyl > qyh:
        raise EngineError("geo_shape: envelope must be (min_lon, "
                          "min_lat, max_lon, max_lat) with min <= max")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame([], "qid long, doc_id string")
    xl, yl, xh, yh = (F.col(c).cast("double") for c in bounds_cols)
    inter = (xl <= qxh) & (xh >= qxl) & (yl <= qyh) & (yh >= qyl)
    if relation == "intersects":
        cond = inter
    elif relation == "disjoint":
        cond = ~inter
    elif relation == "within":
        cond = (xl >= qxl) & (xh <= qxh) & (yl >= qyl) & (yh <= qyh)
    else:  # contains
        cond = (xl <= qxl) & (xh >= qxh) & (yl <= qyl) & (yh >= qyh)
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id", cond.alias("_rel")
    )
    return (
        hits.join(stats, "doc_int")
        .filter(F.col("_rel"))
        .select("qid", "doc_id")
    )


def search_geo_line(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    sort_col: str,
    size: int = 10,
    lat_col: str = "lat",
    lon_col: str = "lon",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``geo_line`` metric agg: the match set's points joined into a
    LineString ordered by ``sort_col`` (doc_id tiebreak), truncated to
    the first ``size`` points with ES's ``complete`` flag (false when
    points were dropped). The line renders as fixed-2-decimal "lon lat"
    pairs so the text is engine-independent.

    Plan: one window (row_number per qid over the sort) on the match
    set joined to metadata-sized doc_stats, then ONE aggregation whose
    collect_list keeps only the first ``size`` rows per qid — result
    size is bounded by qids × size, never by match-set size."""
    if size < 1:
        raise EngineError("geo_line size must be >= 1")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, line string, n_points long, complete boolean"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id",
        F.col(sort_col).cast("double").alias("_s"),
        F.format_string(
            "%.2f %.2f",
            F.col(lon_col).cast("double"),
            F.col(lat_col).cast("double"),
        ).alias("_pt"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("_s").asc(), F.col("doc_id").asc()
    )
    pts = hits.join(stats, "doc_int").withColumn(
        "_rn", F.row_number().over(w)
    )
    return (
        pts.groupBy("qid")
        .agg(
            F.count("*").alias("n_points"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.filter(
                            F.collect_list(
                                F.when(
                                    F.col("_rn") <= size,
                                    F.struct(F.col("_rn"), F.col("_pt")),
                                )
                            ),
                            lambda s: s.isNotNull(),
                        )
                    ),
                    lambda s: s["_pt"],
                ),
                ", ",
            ).alias("line"),
        )
        .select(
            "qid", "line",
            F.col("n_points").cast("long").alias("n_points"),
            (F.col("n_points") <= size).alias("complete"),
        )
    )


def search_change_point(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``change_point`` pipeline agg over a histogram of the match
    set, PINNED to a deterministic detector: the split that maximizes
    the absolute difference of mean bucket doc-counts between the left
    and right sides (earliest bucket wins ties). ES's detector is a
    statistical model emitting a typed verdict (step_change/spike/…);
    the pinned largest-mean-shift split keeps the contract — "where
    does the series break" — reproducible in ANSI SQL, the documented
    divergence. Emits the first bucket of the right side as the change
    point plus both side means and the shift size.

    Plan: parent buckets from the same plan as ``search_histogram``;
    the detector is window cumulative sums over bucket-cardinality rows
    (never doc rows) + one rank — a second hop that costs nothing at
    any corpus size."""
    base = search_histogram(
        spark, store, queries, interval, value_col, mode, field
    )
    w = Window.partitionBy("qid").orderBy(F.col("bucket").asc())
    whole = Window.partitionBy("qid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = (
        base.withColumn("_i", F.row_number().over(w))
        .withColumn(
            "_cum",
            F.sum("n_docs").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("_tot", F.sum("n_docs").over(whole))
        .withColumn("_n", F.count("*").over(whole))
        .withColumn("_cb", F.lead("bucket", 1).over(w))
    )
    # split AFTER bucket _i (1 <= _i < _n): left mean over the first _i
    # buckets, right mean over the rest; the change point is the first
    # right-side bucket
    splits = (
        cum.filter(F.col("_i") < F.col("_n"))
        .withColumn("_lm", F.col("_cum") / F.col("_i"))
        .withColumn(
            "_rm",
            (F.col("_tot") - F.col("_cum")) / (F.col("_n") - F.col("_i")),
        )
        .withColumn(
            "_delta", F.round(F.abs(F.col("_lm") - F.col("_rm")), 6)
        )
    )
    rw = Window.partitionBy("qid").orderBy(
        F.col("_delta").desc(), F.col("bucket").asc()
    )
    return (
        splits.withColumn("_rk", F.row_number().over(rw))
        .filter(F.col("_rk") == 1)
        .select(
            "qid",
            F.col("_cb").alias("change_bucket"),
            F.round("_lm", 6).alias("left_mean_r"),
            F.round("_rm", 6).alias("right_mean_r"),
            F.col("_delta").alias("delta_r"),
        )
    )


def search_geo_centroid_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``geo_centroid`` metric agg: arithmetic mean of the match
    set's lat/lon (ES centroids in planar space per doc, same mean).
    One hash aggregation; → (qid, n_docs, lat_r, lon_r)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, n_docs long, lat_r double, lon_r double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int",
        F.col(lat_col).cast("double").alias("_lat"),
        F.col(lon_col).cast("double").alias("_lon"),
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("_lat"), 6).alias("lat_r"),
            F.round(F.avg("_lon"), 6).alias("lon_r"),
        )
    )


def store_stats(spark: SparkSession, store: IndexStore) -> DataFrame:
    """ES ``_stats`` / ``_count`` analog: one row of store-level
    statistics — live doc count, average doc length, dictionary size,
    and total postings — answered from meta.json + ONE aggregation over
    term_stats (df sums to the (term, doc) pair count; the posting bytes
    are never read). Doubles as an end-to-end invariant check: gated
    against the same numbers recomputed from the raw corpus by the
    DuckDB oracle."""
    ts = store.term_stats(spark).agg(
        F.count("*").alias("n_terms"),
        F.sum("df").alias("n_postings"),
    )
    return ts.select(
        F.lit(int(store.meta["n_docs"])).cast("long").alias("n_docs"),
        F.round(F.lit(float(store.meta["avgdl"])), 6).alias("avgdl_r"),
        F.col("n_terms").cast("long").alias("n_terms"),
        F.col("n_postings").cast("long").alias("n_postings"),
    )


def scroll(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    page_size: int = 1000,
    mode: str = "or",
    field: str | None = None,
    max_pages: int | None = None,
):
    """ES ``scroll`` / PIT deep export: iterate EVERY hit of one query in
    stable (score desc, doc_id) order as successive pandas pages — a
    generator driving the ``search_after`` keyset under the hood, so each
    page costs one bounded query and no cursor state lives server-side
    (the keyset IS the cursor, the same property ES moved to with
    search_after + PIT). Page rows carry the global order; the loop ends
    on the first short page. ``max_pages`` bounds runaway exports.

    At 100 TB this is the export discipline: page N costs the same as
    page 1 (the keyset predicate prunes before the top-k window), and a
    failed export resumes from the last keyset instead of re-scanning."""
    if page_size < 1:
        raise EngineError("page_size must be >= 1")
    qpdf = pd.DataFrame({"qid": [0], "query": [str(query)]})
    after = None
    pages = 0
    while True:
        page = search(
            spark, store, qpdf, k=page_size, mode=mode, field=field,
            algo="exhaustive", search_after=after,
        ).toPandas().sort_values("rank")
        if page.empty:
            return
        yield page
        pages += 1
        if len(page) < page_size:
            return
        if max_pages is not None and pages >= max_pages:
            return
        last = page.iloc[-1]
        after = (float(last["score"]), str(last["doc_id"]))


def search_count(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``_count`` API: the match-set size per query, no hits
    retrieved and no scores computed — the cheapest form of the query
    (the tf/dl decode still happens for membership, but no top-k window,
    no presentation join). Queries with no indexable term report 0, like
    ES counts an unmatchable query. → (qid, n_docs)."""
    all_qids = sorted(int(q) for q in queries["qid"].unique())
    base = spark.createDataFrame(
        pd.DataFrame({"qid": all_qids})
    )
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return base.select(
            "qid", F.lit(0).cast("long").alias("n_docs")
        )
    counts = hits.groupBy("qid").agg(F.count("*").alias("_n"))
    return base.join(counts, "qid", "left").select(
        "qid", F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_docs")
    )


def search_filters_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    filters: dict[str, str],
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``filters`` aggregation: NAMED filter buckets over the match
    set — per (qid, bucket name), the count of query-matching docs that
    also match ALL the named filter's terms (filter context: AND,
    unscored). Every declared name appears for every qid with a
    non-empty match set, zero counts included (ES returns empty
    buckets). → (qid, fname, n_docs).

    ONE extra pass answers every bucket: the named filters pack into a
    second composite match-set job (AND mode), and the bucket counts are
    a join + aggregation between the two metadata-sized membership sets
    — posting reads stay two regardless of bucket count."""
    names = sorted(filters)
    if not names:
        raise EngineError("filters aggregation needs at least one bucket")
    empty = spark.createDataFrame(
        [], "qid long, fname string, n_docs long"
    )
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return empty
    fq = pd.DataFrame(
        {"qid": range(len(names)),
         "query": [str(filters[n]) for n in names]}
    )
    fsets = _match_set(spark, store, fq, "and", field)
    name_df = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"fidx": range(len(names)), "fname": names})
        )
    )
    base = hits.select("qid").distinct().crossJoin(name_df)
    if fsets is None:
        return base.select(
            "qid", "fname", F.lit(0).cast("long").alias("n_docs")
        )
    counts = (
        hits.join(
            fsets.withColumnRenamed("qid", "fidx"), "doc_int"
        )
        .groupBy("qid", "fidx")
        .agg(F.count("*").alias("_n"))
    )
    return base.join(counts, ["qid", "fidx"], "left").select(
        "qid", "fname",
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_docs"),
    )


def search_range_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    ranges: list[tuple[str, float | None, float | None]],
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``range`` aggregation over the match set: per (qid, bucket) doc
    counts for EXPLICIT ``(key, from, to)`` buckets — half-open
    ``from ≤ v < to`` like ES, ``None`` = unbounded end, and buckets may
    overlap (a doc counts in every bucket containing its value). Every
    declared bucket appears for every matching qid, zero counts included
    (ES returns empty buckets). Returns (qid, rkey, n_docs).

    The bucket table is query-sized and broadcast; the only corpus-sized
    work is the match set's metadata join — the same shape as
    :func:`search_histogram`."""
    if not ranges:
        raise EngineError("range aggregation needs at least one bucket")
    hits = _match_set(spark, store, queries, mode, field)
    empty_schema = "qid long, rkey string, n_docs long"
    if hits is None:
        return spark.createDataFrame([], empty_schema)
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(value_col).cast("double").alias("_v")
    )
    rdf = spark.createDataFrame(
        [(str(k), None if lo is None else float(lo),
          None if hi is None else float(hi))
         for k, lo, hi in ranges],
        "rkey string, lo double, hi double",
    )
    vals = hits.join(stats, "doc_int")
    counted = (
        vals.join(
            F.broadcast(rdf),
            (F.col("lo").isNull() | (F.col("_v") >= F.col("lo")))
            & (F.col("hi").isNull() | (F.col("_v") < F.col("hi"))),
        )
        .groupBy("qid", "rkey")
        .agg(F.count("*").alias("n_docs"))
    )
    # zero-count buckets: every (matching qid) × (declared bucket)
    shells = hits.select("qid").distinct().crossJoin(
        F.broadcast(rdf.select("rkey"))
    )
    return shells.join(counted, ["qid", "rkey"], "left").select(
        "qid", "rkey",
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
    )


def search_match_all(
    spark: SparkSession,
    store: IndexStore,
    qid: int = 0,
    k: int = 10,
    boost: float = 1.0,
) -> DataFrame:
    """ES ``match_all``: every live doc at the constant ``boost`` score,
    ranked by doc_id ascending — pure doc_stats metadata, no posting
    read."""
    hits = store.doc_stats(spark).select(
        F.lit(int(qid)).cast("long").alias("qid"),
        "doc_int",
        "doc_id",
        F.lit(float(boost)).alias("score"),
    )
    hits = _drop_dead(spark, store, hits)
    w = Window.partitionBy("qid").orderBy(F.col("doc_id").asc())
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def search_rank_feature(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    feature_col: str,
    k: int = 10,
    function: str = "saturation",
    pivot: float | None = None,
    exponent: float = 0.6,
    boost: float = 1.0,
    field: str | None = None,
) -> DataFrame:
    """ES ``rank_feature`` query combined with a text match (the standard
    "relevance + static signal" shape — pagerank, freshness, stars): the
    OR-BM25 score plus a bounded contribution from a numeric doc column,

    - ``saturation``: boost · v / (v + pivot)  (pivot defaults to the
      feature's mean like ES's approximate default),
    - ``log``:        boost · ln(1 + v)  (scaling_factor folded into v
      by the caller),
    - ``sigmoid``:    boost · v^exp / (v^exp + pivot^exp).

    The feature joins from metadata-sized doc_stats AFTER aggregation and
    BEFORE the cut, like every scoring wrapper here. Negative feature
    values are clamped to 0 (ES requires positive features)."""
    if function not in ("saturation", "log", "sigmoid"):
        raise EngineError(f"unknown rank_feature function: {function}")
    agg = _scored_or_match(spark, store, queries, field)
    if agg is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    v = F.greatest(F.col(feature_col).cast("double"), F.lit(0.0))
    if pivot is None and function in ("saturation", "sigmoid"):
        row = (
            store.doc_stats(spark)
            .agg(F.avg(F.col(feature_col).cast("double")))
            .first()
        )
        pivot = float(row[0] or 1.0)
    if function == "saturation":
        contrib = v / (v + F.lit(float(pivot)))
    elif function == "log":
        contrib = F.log1p(v)
    else:
        ve = F.pow(v, F.lit(float(exponent)))
        contrib = ve / (ve + F.lit(float(pivot) ** float(exponent)))
    stats = store.doc_stats(spark).select(
        "doc_int", (F.lit(float(boost)) * contrib).alias("_rf")
    )
    agg = (
        agg.join(stats, "doc_int")
        .withColumn("score", F.col("score") + F.col("_rf"))
        .drop("_rf")
    )
    return _present(spark, store, _cut_topk(agg, k), k)


def search_function_score_decay(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    origin: float,
    scale: float,
    k: int = 10,
    decay_fn: str = "gauss",
    offset: float = 0.0,
    decay: float = 0.5,
    value_col: str = "dl",
    boost_mode: str = "multiply",
    field: str | None = None,
) -> DataFrame:
    """ES ``function_score`` with a DECAY function over a numeric doc
    field: the OR-BM25 score combines with ``decay_fn(dist)`` where
    ``dist = max(0, |v − origin| − offset)`` and the function reaches
    ``decay`` exactly at ``dist = scale`` (ES parameterization):

    - ``gauss``:  exp(−dist² / 2σ²), σ² = −scale² / (2 ln decay)
    - ``exp``:    exp(dist · ln(decay) / scale)
    - ``linear``: max(0, (s − dist) / s), s = scale / (1 − decay)

    Factor joins from metadata-sized doc_stats AFTER aggregation, BEFORE
    the top-k cut — identical plan shape to field_value_factor."""
    if decay_fn not in ("gauss", "exp", "linear"):
        raise EngineError(f"unknown decay function: {decay_fn}")
    if boost_mode not in ("multiply", "sum"):
        raise EngineError(f"unknown boost_mode: {boost_mode}")
    if not 0.0 < decay < 1.0:
        raise EngineError("decay must be in (0, 1)")
    if scale <= 0:
        raise EngineError("scale must be positive")
    agg = _scored_or_match(spark, store, queries, field)
    if agg is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    import math

    v = F.col(value_col).cast("double")
    dist = F.greatest(
        F.abs(v - F.lit(float(origin))) - F.lit(float(offset)), F.lit(0.0)
    )
    if decay_fn == "gauss":
        sigma2 = -(scale**2) / (2.0 * math.log(decay))
        factor = F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
    elif decay_fn == "exp":
        lam = math.log(decay) / scale
        factor = F.exp(dist * F.lit(lam))
    else:
        s = scale / (1.0 - decay)
        factor = F.greatest(
            (F.lit(s) - dist) / F.lit(s), F.lit(0.0)
        )
    stats = store.doc_stats(spark).select(
        "doc_int", factor.alias("_factor")
    )
    agg = agg.join(stats, "doc_int")
    combined = (
        F.col("score") * F.col("_factor")
        if boost_mode == "multiply"
        else F.col("score") + F.col("_factor")
    )
    agg = agg.withColumn("score", combined).drop("_factor")
    return _present(spark, store, _cut_topk(agg, k), k)


def _match_set(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    mode: str,
    field: str | None,
) -> DataFrame | None:
    """(qid, doc_int) match membership for an analyzed OR/AND query —
    shared by the unscored aggregation paths. None when nothing can
    match; an unknown ``mode`` raises ``ValueError`` like search()."""
    _check_mode(mode)
    prefix, avgdl = _field_of(store, field)
    qt, need = _weighted_terms(spark, store, _query_terms(queries, prefix))
    if qt.empty:
        return None
    return _bm25_hits(spark, store, qt, avgdl, mode, need).select(
        "qid", "doc_int"
    )


def search_boosting(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    negative_boost: float = 0.5,
    field: str | None = None,
) -> DataFrame:
    """ES ``boosting`` query: candidates are the ``positive`` OR-match;
    docs that ALSO match the ``negative`` query keep their rank position
    but with their score multiplied by ``negative_boost`` (demotion, not
    exclusion — ES semantics exactly).

    ``queries``: pandas (qid, positive, negative). Both halves ride ONE
    fused pipeline on the low bit of a composite qid — one term-stats
    read, one pruned posting read, one scoring pass; the demotion is a
    conditional multiply in the final per-(qid, doc) aggregation."""
    prefix, avgdl = _field_of(store, field)
    halves = pd.DataFrame(
        [(int(qid) * 2 + idx, str(q or ""))
         for qid, pos, neg in zip(
             queries["qid"], queries["positive"], queries["negative"]
         )
         for idx, q in ((0, pos), (1, neg))],
        columns=["qid", "query"],
    )
    qt, _ = _weighted_terms(spark, store, _query_terms(halves, prefix))
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    joined = _matched_blocks(spark, store, qt)
    cand = _score_exhaustive(joined, avgdl)
    half = F.col("qid").bitwiseAND(F.lit(1))
    agg = (
        cand.select(
            F.shiftright("qid", 1).alias("qid"),
            half.alias("half"),
            "doc_int",
            "score",
        )
        .groupBy("qid", "doc_int")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("score"))).alias("pos"),
            F.max(F.when(F.col("half") == 1, 1)).alias("neg"),
        )
        .filter(F.col("pos").isNotNull())
        .select(
            "qid",
            "doc_int",
            F.when(
                F.col("neg").isNotNull(),
                F.col("pos") * F.lit(float(negative_boost)),
            ).otherwise(F.col("pos")).alias("score"),
        )
    )
    agg = _drop_dead(spark, store, agg)
    return _present(spark, store, _cut_topk(agg, k), k)


_QS_PHRASE_STRIDE = 64  # composite phrase qid = qid * 64 + phrase_idx


def parse_query_string(q: str) -> dict:
    """ES ``simple_query_string`` subset: ``+word`` must, ``-word`` must_not,
    ``"multi word"`` required phrase, bare words optional (should). Words
    are analyzed with the pinned tokenizer AFTER clause assignment (a
    camelCase word contributes all its subtokens to its clause). Negated
    phrases are not supported (raises)."""
    import re

    phrases: list[str] = []

    def _grab(m: "re.Match") -> str:
        if m.group(1) == "-":
            raise EngineError("negated phrases are not supported")
        phrases.append(m.group(2))
        return " "

    rest = re.sub(r'([+-]?)"([^"]*)"', _grab, str(q))
    must: list[str] = []
    should: list[str] = []
    must_not: list[str] = []
    for w in rest.split():
        sign = ""
        if w[0] in "+-":
            sign, w = w[0], w[1:]
        if not w:
            continue
        toks = list(analysis.tokenize_series(pd.Series([w]))[0])
        {"+": must, "-": must_not, "": should}[sign].extend(toks)
    phrases = [p for p in phrases if p.strip()]
    return {
        "must": must, "should": should, "must_not": must_not,
        "phrases": phrases,
    }


def search_query_string(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """ES ``simple_query_string``: one string per query mixing required
    terms (``+w``), excluded terms (``-w``), required phrases (``"a b"``)
    and optional terms. A doc matches when it has ALL must terms, ALL
    phrases, NO must_not term, and (when there is no must term and no
    phrase) at least one should term. Score = BM25 of must terms + matched
    should terms + each phrase's AND score.

    Plan shape: ONE fused clause pipeline (the search_bool composite-qid
    trick: must/should/must_not ride the low bits through a single pruned
    posting read + scoring pass) full-outer-joined with ONE phrase kernel
    pass in which all phrases of all queries pack into composite qids —
    two posting reads total regardless of query or clause count, and the
    combine is a broadcast-joined filter, no extra shuffle beyond the two
    aggregations.
    """
    if _QS_PHRASE_STRIDE < 2:  # pragma: no cover - constant sanity
        raise EngineError("bad phrase stride")
    prefix, avgdl = _field_of(store, field)

    parsed: dict[int, dict] = {}
    for qid, q in zip(queries["qid"], queries["query"]):
        parsed[int(qid)] = parse_query_string(q)
    for qid, p in parsed.items():
        if len(p["phrases"]) >= _QS_PHRASE_STRIDE:
            raise EngineError(
                f"too many phrases in one query (qid={qid}): "
                f"{len(p['phrases'])} >= {_QS_PHRASE_STRIDE}"
            )

    # --- clause side (must=0 / should=1 / must_not=2 on the low bits) ---
    rows = []
    for qid, p in parsed.items():
        for idx, toks in ((0, p["must"]), (1, p["should"]),
                          (2, p["must_not"])):
            for t, c in sorted(Counter(prefix + t for t in toks).items()):
                rows.append((qid * 4 + idx, t, int(c)))
    tq = pd.DataFrame(rows, columns=["qid", "term", "qtf"])
    need_rows = {
        qid: (
            len(set(p["must"])),
            len(p["phrases"]),
            1 if (p["must"] or p["phrases"] or not p["should"]) else 0,
        )
        for qid, p in parsed.items()
    }

    bool_agg = None
    tq, _ = _weighted_terms(spark, store, tq)
    if not tq.empty:
        joined = _matched_blocks(spark, store, tq)
        cand = _score_exhaustive(joined, avgdl)
        clause = F.col("qid").bitwiseAND(F.lit(3))
        bool_agg = (
            cand.select(
                F.shiftright("qid", 2).alias("qid"),
                clause.alias("clause"),
                "doc_int",
                "score",
            )
            .groupBy("qid", "doc_int")
            .agg(
                F.sum(
                    F.when(F.col("clause") <= 1, F.col("score"))
                ).alias("b_score"),
                F.count(F.when(F.col("clause") == 0, 1)).alias("nt_must"),
                F.count(F.when(F.col("clause") == 1, 1)).alias(
                    "nt_should"
                ),
                F.max(F.when(F.col("clause") == 2, 1)).alias("mnot"),
            )
        )

    # --- phrase side: every (qid, phrase) packs into a composite qid ---
    ph_rows = [
        (qid * _QS_PHRASE_STRIDE + j, ph)
        for qid, p in parsed.items()
        for j, ph in enumerate(p["phrases"])
    ]
    phrase_agg = None
    if ph_rows:
        ps = _phrase_scores(
            spark, store,
            pd.DataFrame(ph_rows, columns=["qid", "query"]),
            field,
        )
        if ps is not None:
            phrase_agg = (
                ps.select(
                    F.floor(F.col("qid") / _QS_PHRASE_STRIDE)
                    .cast("long")
                    .alias("qid"),
                    "doc_int",
                    "score",
                )
                .groupBy("qid", "doc_int")
                .agg(
                    F.sum("score").alias("p_score"),
                    F.count("*").alias("ph_cnt"),
                )
            )

    if bool_agg is None and phrase_agg is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    if bool_agg is None:
        full = phrase_agg.withColumns(
            {
                "b_score": F.lit(None).cast("double"),
                "nt_must": F.lit(None).cast("long"),
                "nt_should": F.lit(None).cast("long"),
                "mnot": F.lit(None).cast("int"),
            }
        )
    elif phrase_agg is None:
        full = bool_agg.withColumns(
            {
                "p_score": F.lit(None).cast("double"),
                "ph_cnt": F.lit(None).cast("long"),
            }
        )
    else:
        full = bool_agg.join(phrase_agg, ["qid", "doc_int"], "full_outer")

    need = spark.createDataFrame(
        pd.DataFrame(
            {
                "qid": list(need_rows),
                "nm": [v[0] for v in need_rows.values()],
                "np": [v[1] for v in need_rows.values()],
                "no_should_gate": [v[2] for v in need_rows.values()],
            }
        )
    )
    full = full.join(F.broadcast(need), "qid")
    gated = full.filter(
        F.col("mnot").isNull()
        & (
            (F.col("nm") == 0)
            | (F.coalesce(F.col("nt_must"), F.lit(0)) == F.col("nm"))
        )
        & (
            (F.col("np") == 0)
            | (F.coalesce(F.col("ph_cnt"), F.lit(0)) == F.col("np"))
        )
        & (
            (F.col("no_should_gate") == 1)
            | (F.coalesce(F.col("nt_should"), F.lit(0)) >= 1)
        )
    ).select(
        "qid",
        "doc_int",
        (
            F.coalesce(F.col("b_score"), F.lit(0.0))
            + F.coalesce(F.col("p_score"), F.lit(0.0))
        ).alias("score"),
    )
    gated = _drop_dead(spark, store, gated)
    return _present(spark, store, _cut_topk(gated, k), k)


def search_span_first(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    end: int,
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """Lucene/ES ``span_first``: docs where the (unanalyzed, exact) term
    occurs within the FIRST ``end`` token positions — title-ish/header
    matching without separate fields. Scored as the term's BM25.

    ``queries``: pandas (qid, term). Needs ``positions=True``; the check
    is a vectorized first-occurrence scan of the decoded per-(term, seg)
    position payloads — per-posting minimum position < ``end``."""
    if not store.meta.get("positions"):
        raise EngineError(
            "span_first needs a store built with positions=True"
        )
    if end <= 0:
        raise EngineError("span_first end must be positive")
    prefix, avgdl = _field_of(store, field)
    qt, _ = _weighted_terms(spark, store, _exact_terms(queries, prefix))
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    w_by = {
        (int(q), t): float(v)
        for q, t, v in zip(qt["qid"], qt["term"], qt["w"])
    }
    joined = _matched_blocks(spark, store, qt)

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(key[0])
        by_term = _decode_positional_terms(pdf)
        outs = []
        for term, (ids, tfs, dls, flat, starts) in by_term.items():
            if ids.size == 0:
                continue
            # per-posting minimum position: positions are ascending per
            # doc, so the first element of each doc's slice is its min
            first_pos = flat[starts]
            hit = first_pos < end
            if not hit.any():
                continue
            sel = np.nonzero(hit)[0]
            score = w_by[(qid, term)] * bm25.tf_norm(
                tfs[sel], dls[sel], avgdl
            )
            outs.append(
                pd.DataFrame(
                    {"qid": qid, "doc_int": ids[sel], "score": score}
                )
            )
        if not outs:
            return _empty_scores()
        return pd.concat(outs, ignore_index=True)

    scored = (
        joined.select(*_POS_COLS)
        .groupBy("qid", "seg")
        .applyInPandas(run, schema=_SCORES_SCHEMA)
    )
    # multiple query terms per qid OR-sum (parity with search_terms)
    agg = scored.groupBy("qid", "doc_int").agg(
        F.sum("score").alias("score")
    )
    agg = _drop_dead(spark, store, agg)
    return _present(spark, store, _cut_topk(agg, k), k)


def search_pinned(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    pinned: dict[int, list[str]],
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """ES ``pinned`` query: the listed doc_ids rank FIRST, in the given
    order, above every organic match of the inner (OR BM25) query;
    organic results follow by score. A pinned id that is missing or dead
    is skipped; a pinned doc that also matches organically appears once,
    pinned (ES dedupes the same way). Returns (qid, rank, doc_id,
    pinned, score_r) — score_r is the organic BM25 (6 dp) or null for
    docs pinned without an organic match (ES substitutes a synthetic
    score there; null keeps the column honest).

    Plan: the organic aggregate is the usual pre-cut (qid, doc_int,
    score); pins are a broadcast (qid, doc_id, pin_rank) table resolved
    against LIVE doc metadata; ranking is one window over
    (pinned-first, pin order | score desc, doc_id)."""
    organic = _scored_or_match(spark, store, queries, field)
    pin_rows = [
        (int(q), str(d), i)
        for q, ids_ in pinned.items()
        for i, d in enumerate(ids_)
    ]
    if organic is None and not pin_rows:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id string, pinned int, "
            "score_r double"
        )
    meta = store.doc_stats(spark).select("doc_int", "doc_id")
    if organic is not None:
        org = organic.join(meta, "doc_int").select(
            "qid", "doc_id", F.round("score", 6).alias("score_r")
        )
    else:
        org = spark.createDataFrame(
            [], "qid long, doc_id string, score_r double"
        )
    if pin_rows:
        pins = spark.createDataFrame(
            pd.DataFrame(pin_rows, columns=["qid", "doc_id", "_pin"])
        )
        live = _drop_dead(spark, store, meta)
        pins = pins.join(live.select("doc_id"), "doc_id", "left_semi")
    else:
        pins = spark.createDataFrame(
            [], "qid long, doc_id string, _pin long"
        )
    # (no broadcast hint: full-outer joins cannot broadcast; the pin side
    # is query-sized so the shuffle it induces is negligible)
    merged = org.join(pins, ["qid", "doc_id"], "full").select(
        "qid", "doc_id",
        F.when(F.col("_pin").isNotNull(), 0).otherwise(1).alias("_tier"),
        F.coalesce(F.col("_pin"), F.lit(0)).alias("_pin_ord"),
        "score_r",
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("_tier").asc(), F.col("_pin_ord").asc(),
        F.col("score_r").desc_nulls_last(), F.col("doc_id").asc(),
    )
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid", "rank", "doc_id",
            (F.lit(1) - F.col("_tier")).cast("int").alias("pinned"),
            "score_r",
        )
    )


def search_terms_lookup(
    spark: SparkSession,
    store: IndexStore,
    corpus: DataFrame,
    queries: pd.DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """ES ``terms`` query with TERMS LOOKUP: the term list comes from a
    FIELD OF ANOTHER DOCUMENT (``queries``: pandas (qid, lookup_id)) —
    the "more docs like the one the user is viewing, by exact overlap"
    idiom. The lookup fetches only the named docs from the source table
    (query-sized), analyzes them with the pinned tokenizer, and runs the
    distinct token set as a constant-score terms filter (ES terms
    queries are filter context); the looked-up doc itself is excluded.
    → (qid, rank, doc_id, score)."""
    ids = sorted({str(i) for i in queries["lookup_id"]})
    toks_expr = analysis.spark_tokens_expr(text_col)
    looked = (
        corpus.filter(F.col(id_col).cast("string").isin(ids))
        .select(
            F.col(id_col).cast("string").alias("_lid"),
            F.expr(f"array_distinct({toks_expr})").alias("_toks"),
        )
        .toPandas()
    )
    tok_by_id = dict(zip(looked["_lid"], looked["_toks"]))
    rows = []
    for qid, lid in zip(queries["qid"], queries["lookup_id"]):
        for t in sorted(tok_by_id.get(str(lid), [])):
            rows.append((int(qid), t))
    if not rows:
        return spark.createDataFrame([], RESULT_SCHEMA)
    res = search_terms(
        spark, store,
        pd.DataFrame(rows, columns=["qid", "term"]),
        k=k + len(ids), field=field, constant_score=1.0,
    )
    # exclude the lookup docs themselves, then re-rank the survivors
    excl = spark.createDataFrame(
        pd.DataFrame(
            [(int(q), str(l)) for q, l in
             zip(queries["qid"], queries["lookup_id"])],
            columns=["qid", "doc_id"],
        )
    )
    res = res.join(F.broadcast(excl), ["qid", "doc_id"], "left_anti")
    w = Window.partitionBy("qid").orderBy(F.col("doc_id").asc())
    return (
        res.drop("rank")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def search_terms(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    field: str | None = None,
    constant_score: float | None = None,
) -> DataFrame:
    """ES ``term`` / ``terms`` query: EXACT dictionary terms (no analysis —
    the caller's strings are matched verbatim against the index, lowercase
    like the dictionary), OR-scored BM25 with qtf = 1 per distinct term.

    ``queries``: pandas (qid, term); repeat qid for a multi-value ``terms``
    query. ``constant_score`` wraps the match in ES ``constant_score``
    semantics: every matching doc scores exactly that boost (rank ties
    break on doc_id, as everywhere).
    """
    prefix, avgdl = _field_of(store, field)
    qt, _ = _weighted_terms(spark, store, _exact_terms(queries, prefix))
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    agg = _bm25_hits(spark, store, qt, avgdl)
    if constant_score is not None:
        # uniform scores → every doc ties; rank on doc_id directly instead
        # of letting _cut_topk keep the entire tied set
        stats = store.doc_stats(spark).select("doc_int", "doc_id")
        named = agg.join(stats, "doc_int").withColumn(
            "score", F.lit(float(constant_score))
        )
        w = Window.partitionBy("qid").orderBy(F.col("doc_id").asc())
        return (
            named.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "doc_id", "score")
        )
    return _present(spark, store, _cut_topk(agg, k), k)


def search_exists(
    spark: SparkSession,
    store: IndexStore,
    field: str,
    qid: int = 0,
    k: int = 10,
    boost: float = 1.0,
) -> DataFrame:
    """ES ``exists`` query on a multi-field store: docs whose ``field`` has
    at least one token. Pure METADATA — answered from the doc-stat markers'
    per-field length array (``field_dls``), no posting read at all; scored
    ES-style as a constant (filter context), ranked by doc_id."""
    flds = store.meta.get("fields")
    if not flds:
        raise EngineError("exists needs a multi-field store")
    if field not in flds:
        raise EngineError(f"unknown field {field!r}; store fields: {flds}")
    i = flds.index(field)
    hits = (
        store.doc_stats(spark)
        .filter(F.col("field_dls")[i] > 0)
        .select(
            F.lit(int(qid)).cast("long").alias("qid"),
            "doc_int",
            "doc_id",
            F.lit(float(boost)).alias("score"),
        )
    )
    hits = _drop_dead(spark, store, hits)
    # every hit scores the same constant → rank straight on doc_id here
    # (doc_id is already on the marker row); routing the full matching set
    # through _cut_topk would keep ALL score-ties and broadcast them
    w = Window.partitionBy("qid").orderBy(F.col("doc_id").asc())
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def _range_cond(
    col: str,
    gte=None,
    gt=None,
    lte=None,
    lt=None,
):
    """ES ``range`` bounds as one Spark predicate over a doc_stats column
    (NULL never matches, like ES). At least one bound is required."""
    if gte is None and gt is None and lte is None and lt is None:
        raise EngineError("range needs at least one of gte/gt/lte/lt")
    cond = F.col(col).isNotNull()
    if gte is not None:
        cond = cond & (F.col(col) >= F.lit(gte))
    if gt is not None:
        cond = cond & (F.col(col) > F.lit(gt))
    if lte is not None:
        cond = cond & (F.col(col) <= F.lit(lte))
    if lt is not None:
        cond = cond & (F.col(col) < F.lit(lt))
    return cond


def search_range(
    spark: SparkSession,
    store: IndexStore,
    col: str,
    gte=None,
    gt=None,
    lte=None,
    lt=None,
    qid: int = 0,
    k: int = 10,
    boost: float = 1.0,
) -> DataFrame:
    """ES ``range`` query over a doc metadata column (``dl``, ``version``,
    or any per-doc field the build stored on the marker rows — the
    numeric/date fields of the documents the reference ships whole to ES,
    lib/handler.js:100, which users then filter with ``range``). Filter
    context: every matching doc scores the constant ``boost`` (ES
    constant_score/filter semantics — range contributes no relevance),
    ranked by doc_id ascending.

    Pure METADATA — one doc_stats scan with the bounds pushed into the
    parquet read (min/max row-group pruning applies), no posting read.
    Bounds: gte/gt/lte/lt, any non-None subset, AND-combined."""
    hits = (
        store.doc_stats(spark)
        .filter(_range_cond(col, gte, gt, lte, lt))
        .select(
            F.lit(int(qid)).cast("long").alias("qid"),
            "doc_int",
            "doc_id",
            F.lit(float(boost)).alias("score"),
        )
    )
    hits = _drop_dead(spark, store, hits)
    # constant scores → every hit ties; rank straight on doc_id (same
    # reasoning as search_exists: routing through _cut_topk would keep
    # the whole tied set)
    w = Window.partitionBy("qid").orderBy(F.col("doc_id").asc())
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def search_ids(
    spark: SparkSession,
    store: IndexStore,
    ids: list[str],
    qid: int = 0,
    k: int = 10,
    boost: float = 1.0,
) -> DataFrame:
    """ES ``ids`` query: fetch the docs whose ``_id`` is in the given list
    (the reference's doc-ID resolution writes exactly these ids,
    lib/handler.js:68-79). Filter context — constant ``boost`` score,
    ranked by doc_id ascending; unknown ids simply don't match.

    One metadata doc_stats scan with the id list pushed down as an IN
    filter (broadcast-sized by construction: an ids query carries at most
    a few thousand literals)."""
    wanted = [str(i) for i in ids]
    if not wanted:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id string, score double"
        )
    hits = (
        store.doc_stats(spark)
        .filter(F.col("doc_id").isin(wanted))
        .select(
            F.lit(int(qid)).cast("long").alias("qid"),
            "doc_int",
            "doc_id",
            F.lit(float(boost)).alias("score"),
        )
    )
    hits = _drop_dead(spark, store, hits)
    w = Window.partitionBy("qid").orderBy(F.col("doc_id").asc())
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def search_function_score(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    factor_col: str = "dl",
    modifier: str = "log1p",
    factor_weight: float = 1.0,
    boost_mode: str = "multiply",
    field: str | None = None,
) -> DataFrame:
    """ES ``function_score`` with a ``field_value_factor`` function: rescore
    the OR BM25 match by a per-document factor from a doc_stats column —
    ``factor = modifier(factor_weight × col)`` with modifier ∈ {none, log1p,
    sqrt}; ``boost_mode`` ∈ {multiply, sum} combines it with the query score.

    The factor joins from the metadata-sized doc_stats AFTER the candidate
    aggregation and BEFORE the top-k cut (the rescore changes the ranking,
    so cutting first would be wrong)."""
    if modifier not in ("none", "log1p", "sqrt"):
        raise EngineError(f"unknown modifier: {modifier}")
    if boost_mode not in ("multiply", "sum"):
        raise EngineError(f"unknown boost_mode: {boost_mode}")
    agg = _scored_or_match(spark, store, queries, field)
    if agg is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    raw = F.lit(float(factor_weight)) * F.col(factor_col).cast("double")
    factor = {
        "none": raw,
        "log1p": F.log1p(raw),
        "sqrt": F.sqrt(raw),
    }[modifier]
    stats = store.doc_stats(spark).select(
        "doc_int", factor.alias("_factor")
    )
    agg = agg.join(stats, "doc_int")
    combined = (
        F.col("score") * F.col("_factor")
        if boost_mode == "multiply"
        else F.col("score") + F.col("_factor")
    )
    agg = agg.withColumn("score", combined).drop("_factor")
    return _present(spark, store, _cut_topk(agg, k), k)


_SCRIPT_FNS = frozenset(
    {"log", "log1p", "log2", "ln", "sqrt", "exp", "pow", "power", "abs",
     "greatest", "least", "floor", "ceil", "round", "sigmoid", "sin",
     "cos", "double", "if", "case", "when", "then", "else", "end", "and",
     "or", "not"}
)


def search_distance_feature(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    origin: float,
    pivot: float,
    boost: float = 1.0,
    k: int = 10,
    value_col: str = "dl",
    field: str | None = None,
) -> DataFrame:
    """ES ``distance_feature``: ADD a proximity bonus to the query score —
    ``boost · pivot / (pivot + |v − origin|)`` from a numeric/date doc
    column (epoch-cast dates work directly), reaching boost/2 exactly at
    ``|v − origin| = pivot``. Unlike a decay function_score it always
    ADDS (never multiplies) and is Lucene-optimized in ES for the
    recency-boost idiom; here it is one metadata join + codegen'd
    expression after the OR-BM25 aggregate, before the cut."""
    if pivot <= 0:
        raise EngineError("pivot must be positive")
    agg = _scored_or_match(spark, store, queries, field)
    if agg is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    v = F.col(value_col).cast("double")
    bonus = (
        F.lit(float(boost)) * F.lit(float(pivot))
        / (F.lit(float(pivot)) + F.abs(v - F.lit(float(origin))))
    )
    stats = store.doc_stats(spark).select(
        "doc_int", bonus.alias("_bonus")
    )
    agg = (
        agg.join(stats, "doc_int")
        .withColumn("score", F.col("score") + F.col("_bonus"))
        .drop("_bonus")
    )
    return _present(spark, store, _cut_topk(agg, k), k)


def search_script_score(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    script: str,
    k: int = 10,
    doc_cols: tuple[str, ...] = ("dl",),
    field: str | None = None,
) -> DataFrame:
    """ES ``script_score``: replace the query score with a user EXPRESSION
    over ``_score`` and per-document fields — the generic scripted-scoring
    hook field_value_factor/decay/rank_feature cannot express (custom
    combinations, conditionals).

    The script is a WHITELISTED Spark SQL expression, not a per-row
    program: every identifier must be ``_score``, a column named in
    ``doc_cols`` (joined from the metadata-sized doc_stats), or a
    whitelisted math/conditional function — anything else raises before
    planning. The expression compiles into whole-stage codegen, so the
    rescore costs one projection over the match aggregate (the engine's
    no-per-row-Python rule holds; ES evaluates Painless per doc — this is
    strictly cheaper). Like ES, a script_score must be non-negative;
    negative results raise at validation time only if statically constant,
    otherwise they are clamped to 0 (ES errors per-doc; a distributed
    per-doc error channel would cost more than the clamp).

    Example: ``script="_score * log1p(dl) / (1.0 + exists_boost)"``."""
    import re as _re

    stripped = _re.sub(
        r"\b\d+(\.\d+)?([eE][+-]?\d+)?", " ", script
    )
    idents = set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", stripped))
    allowed = {"_score", *doc_cols, *_SCRIPT_FNS}
    bad = sorted(i for i in idents if i.lower() not in allowed and i not in allowed)
    if bad:
        raise EngineError(
            f"script_score references {bad} — allowed: _score, doc columns "
            f"{sorted(doc_cols)}, and functions {sorted(_SCRIPT_FNS)}"
        )
    agg = _scored_or_match(spark, store, queries, field)
    if agg is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    stats = store.doc_stats(spark).select(
        "doc_int", *[F.col(c).cast("double").alias(c) for c in doc_cols]
    )
    agg = (
        agg.withColumnRenamed("score", "_score")
        .join(stats, "doc_int")
        .withColumn(
            "score",
            F.greatest(F.expr(script).cast("double"), F.lit(0.0)),
        )
        .select("qid", "doc_int", "score")
    )
    return _present(spark, store, _cut_topk(agg, k), k)


_DISMAX_CLAUSE_STRIDE = 1_000_000  # composite qid = qid * stride + clause


def search_dis_max(
    spark: SparkSession,
    store: IndexStore,
    clauses: pd.DataFrame,
    k: int = 10,
    tie_breaker: float = 0.0,
    field: str | None = None,
) -> DataFrame:
    """ES ``dis_max``: each clause is an OR-match BM25 query; a doc's score
    is its best clause score plus ``tie_breaker`` × the sum of its other
    matching clauses' scores (ES semantics exactly).

    ``clauses``: pandas (qid, clause, query) — ``clause`` a small int id.
    Implementation: clauses are packed into composite qids
    (``qid * stride + clause``) so ONE pruned posting read + ONE exhaustive
    scoring pass serves every clause of every query; the dis_max combine is
    a single groupBy((qid, doc)) with max/sum aggregates — no extra scan or
    shuffle per clause.
    """
    prefix, avgdl = _field_of(store, field)
    for clause in clauses["clause"]:
        if not (0 <= int(clause) < _DISMAX_CLAUSE_STRIDE):
            raise EngineError(f"clause id out of range: {clause}")
    comp = pd.DataFrame({
        "qid": [int(q) * _DISMAX_CLAUSE_STRIDE + int(c)
                for q, c in zip(clauses["qid"], clauses["clause"])],
        "query": [str(q) for q in clauses["query"]],
    })
    # OR semantics: unindexed terms drop out
    qt, _ = _weighted_terms(spark, store, _query_terms(comp, prefix))
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    joined = _matched_blocks(spark, store, qt)
    cand = _score_exhaustive(joined, avgdl)
    per_clause = cand.groupBy("qid", "doc_int").agg(
        F.sum("score").alias("score")
    )
    combined = (
        per_clause.withColumn(
            "_q",
            F.floor(F.col("qid") / _DISMAX_CLAUSE_STRIDE).cast("long")
        )
        .groupBy(F.col("_q").alias("qid"), F.col("doc_int"))
        .agg(
            (
                F.max("score")
                + F.lit(float(tie_breaker))
                * (F.sum("score") - F.max("score"))
            ).alias("score")
        )
    )
    combined = _drop_dead(spark, store, combined)
    return _present(spark, store, _cut_topk(combined, k), k)


def search_phrase_prefix(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    max_expansions: int | None = 50,
    field: str | None = None,
) -> DataFrame:
    """ES ``match_phrase_prefix``: the query's last analyzed token is a
    PREFIX — a doc matches when it contains the fixed tokens consecutively,
    immediately followed by any dictionary term completing the prefix.

    The prefix expands against term_stats (metadata-sized scan, capped
    JVM-side term-ascending at ``max_expansions``, ES default 50 — same
    machinery as ``search_prefix``). Scoring: for every matching expansion
    ``e`` the doc scores as the phrase-AND BM25 of the fixed-term multiset
    plus the qtf=1 BM25 of ``e``; multiple matching expansions take the MAX
    (dis_max over expansions, ES's multi-term rewrite spirit). Verification
    reuses the vectorized position-chain kernel: fixed offsets 0..n-2 chain
    as in ``search_phrase``; each expansion is checked at offset n-1 with a
    membership-filtered key intersection — no per-document Python loop.
    """
    if not store.meta.get("positions"):
        raise EngineError(
            "phrase-prefix search needs a store built with positions=True"
        )
    n_docs = float(store.meta["n_docs"])
    fprefix, avgdl = _field_of(store, field)

    fixed_by_qid: dict[int, list[str]] = {}
    pfx_rows = []
    for qid, q in zip(queries["qid"], queries["query"]):
        toks = [
            fprefix + t
            for t in analysis.tokenize_series(pd.Series([str(q)]))[0]
        ]
        if not toks:
            continue
        fixed_by_qid[int(qid)] = list(toks[:-1])
        pfx_rows.append((int(qid), toks[-1]))
    if not pfx_rows:
        return spark.createDataFrame([], RESULT_SCHEMA)

    pats = pd.DataFrame(pfx_rows, columns=["qid", "prefix"]).drop_duplicates()
    exp = _expand_startswith(spark, store, pats, max_expansions)
    exp_by_qid = (
        exp.groupby("qid")["term"].apply(lambda s: sorted(set(s))).to_dict()
        if not exp.empty
        else {}
    )

    rows = [
        (qid, t, int(c))
        for qid, fixed in fixed_by_qid.items()
        for t, c in sorted(Counter(fixed).items())
    ]
    fx, need = _weighted_terms(
        spark, store, pd.DataFrame(rows, columns=["qid", "term", "qtf"])
    )
    fx = _all_terms_live(fx, need)
    # a qid dies when a fixed term is unindexed (phrase AND semantics) or
    # when its prefix expands to nothing
    dead = set(need) - set(fx["qid"])
    dead |= {q for q in fixed_by_qid if q not in exp_by_qid}
    fx = fx[~fx["qid"].isin(dead)].rename(columns={"w": "w_f"})
    exp = exp[~exp["qid"].isin(dead)] if not exp.empty else exp
    if exp.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)

    fx = fx.assign(w_e=0.0)
    exp = exp.assign(
        w_f=0.0,
        w_e=bm25.query_weight(n_docs, exp["df"].to_numpy(dtype="float64")),
    )
    has_bucket = "bucket" in exp.columns and (
        fx.empty or "bucket" in fx.columns
    )
    cols = ["qid", "term", "w_f", "w_e"] + (["bucket"] if has_bucket else [])
    both = pd.concat(
        [f[cols] for f in (fx, exp) if not f.empty], ignore_index=True
    )
    agg = {"w_f": ("w_f", "sum"), "w_e": ("w_e", "sum")}
    if has_bucket:
        agg["bucket"] = ("bucket", "first")
    qt = both.groupby(["qid", "term"], as_index=False).agg(**agg)
    qt["w"] = qt["w_f"] + qt["w_e"]

    wf = {
        (int(q), t): float(v)
        for q, t, v in zip(qt["qid"], qt["term"], qt["w_f"])
    }
    we = {
        (int(q), t): float(v)
        for q, t, v in zip(qt["qid"], qt["term"], qt["w_e"])
    }

    joined = _matched_blocks(spark, store, qt)

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(key[0])
        fixed = fixed_by_qid[qid]
        empty = _empty_scores()
        by_term = _decode_positional_terms(pdf)
        if any(t not in by_term for t in fixed):
            return empty
        exps = [e for e in exp_by_qid.get(qid, []) if e in by_term]
        if not exps:
            return empty

        # candidates: ALL fixed terms present AND >= 1 expansion present
        cand = None
        for t in dict.fromkeys(fixed):
            ids = by_term[t][0]
            cand = ids if cand is None else np.intersect1d(cand, ids)
            if cand.size == 0:
                return empty
        eu = np.unique(np.concatenate([by_term[e][0] for e in exps]))
        cand = eu if cand is None else np.intersect1d(cand, eu)
        if cand.size == 0:
            return empty

        maxpos = 1
        for _ids, _tfs, _dls, flat, _starts in by_term.values():
            if flat.size:
                maxpos = max(maxpos, int(flat.max()) + 2)
        stride = maxpos + len(fixed) + 1
        off_last = len(fixed)
        chunk = max(1, (2**62) // stride)

        doc_l, score_l = [], []
        for c0 in range(0, cand.size, chunk):
            sub = cand[c0: c0 + chunk]
            valid = None
            broke = False
            for off, tok in enumerate(fixed):
                key2 = _adjusted_pos_keys(by_term[tok], sub, off, stride)
                valid = (
                    key2
                    if valid is None
                    else np.intersect1d(valid, key2, assume_unique=True)
                )
                if valid.size == 0:
                    broke = True
                    break
            if broke:
                continue
            hits = []
            for e in exps:
                ke = _adjusted_pos_keys(
                    by_term[e], sub, off_last, stride, check_membership=True
                )
                if valid is not None:
                    ke = np.intersect1d(valid, ke, assume_unique=True)
                if ke.size:
                    hits.append((e, sub[np.unique(ke // stride)]))
            if not hits:
                continue
            all_docs = np.unique(np.concatenate([d for _, d in hits]))
            base = np.zeros(all_docs.size, dtype=np.float64)
            for t in dict.fromkeys(fixed):
                ids, tfs, dls, _f, _s = by_term[t]
                i = np.searchsorted(ids, all_docs)
                base += wf[(qid, t)] * bm25.tf_norm(tfs[i], dls[i], avgdl)
            best = np.full(all_docs.size, -np.inf, dtype=np.float64)
            for e, docs_e in hits:
                ids, tfs, dls, _f, _s = by_term[e]
                i = np.searchsorted(ids, docs_e)
                se = we[(qid, e)] * bm25.tf_norm(tfs[i], dls[i], avgdl)
                j = np.searchsorted(all_docs, docs_e)
                np.maximum.at(best, j, se)
            doc_l.append(all_docs)
            score_l.append(base + best)
        if not doc_l:
            return empty
        docs = np.concatenate(doc_l)
        return pd.DataFrame(
            {"qid": pd.Series(np.full(docs.size, qid), dtype="int64"),
             "doc_int": pd.Series(docs, dtype="int64"),
             "score": pd.Series(np.concatenate(score_l), dtype="float64")}
        )

    scored = (
        joined.select(*_POS_COLS)
        .groupBy("qid", "seg")
        .applyInPandas(run, schema=_SCORES_SCHEMA)
    )
    scored = _drop_dead(spark, store, scored)
    return _present(spark, store, _cut_topk(scored, k), k)


def _term_buckets(spark: SparkSession, terms: list[str], num_buckets: int):
    pdf = spark.createDataFrame(pd.DataFrame({"term": terms})).select(
        F.pmod(F.abs(F.xxhash64("term")), F.lit(num_buckets)).alias("b")
    )
    return [r["b"] for r in pdf.distinct().collect()]


def _cut_topk(agg: DataFrame, k: int) -> DataFrame:
    """rank() (not row_number) keeps score-ties at the k boundary so the
    final doc_id tie-break sees every tied candidate."""
    w = Window.partitionBy("qid").orderBy(F.col("score").desc())
    return (
        agg.withColumn("_r", F.rank().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r", "nt")
    )


def _score_exhaustive(joined: DataFrame, avgdl: float) -> DataFrame:
    """Decode every matched block → (qid, doc_int, score) rows. Dead docs
    are NOT filtered here — callers anti-join the aggregate against the dead
    list (distributed; exact for additive scoring).

    When ``joined`` carries a per-term ``avgdl`` column (multi-field
    queries: each term's field has its own average length) it overrides the
    scalar — the length norm is field-local, matching per-field ES stats.
    Either way the score is ``w * bm25.tf_norm`` (which takes a scalar or
    per-posting ``avgdl``)."""
    per_term_avgdl = "avgdl" in joined.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # batch-level decode: codec.decode_blocks over the whole Arrow
        # batch, then one tf_norm over every posting in block row order
        for pdf in batches:
            if not len(pdf):
                continue
            counts = pdf["n_docs"].to_numpy(np.int64)
            ids, tfs, dls = codec.decode_blocks(pdf)
            w = np.repeat(pdf["w"].to_numpy(np.float64), counts)
            ad = (
                np.repeat(pdf["avgdl"].to_numpy(np.float64), counts)
                if per_term_avgdl
                else avgdl
            )
            norm = bm25.tf_norm(tfs, dls, ad)
            yield pd.DataFrame(
                {"qid": np.repeat(pdf["qid"].to_numpy(np.int64), counts),
                 "doc_int": ids,
                 "score": w * norm}
            )

    cols = ["qid", "w", "n_docs", "doc_first", "doc_bytes", "tf_bytes",
            "dl_bytes"] + (["avgdl"] if per_term_avgdl else [])
    return joined.select(*cols).mapInPandas(run, schema=_SCORES_SCHEMA)


_WAND_COLS = ["qid", "seg", "term", "w", "n_docs", "doc_first", "doc_last",
              "max_tf", "min_dl", "doc_bytes", "tf_bytes", "dl_bytes"]


def _score_wand(
    joined: DataFrame,
    avgdl: float,
    k: int,
    constraints: DataFrame | None = None,
    has_allow: bool = False,
    mode: str = "or",
    msm: int | None = None,
    need_by_qid: dict | None = None,
    cursor: float | None = None,
) -> DataFrame:
    """Block-max WAND, per (qid, seg) group (disjoint doc ranges → exact).

    Document-at-a-time over the segment's term posting lists with a k-sized
    min-heap; a block is decoded only when the sum of the *remaining* terms'
    block upper bounds can beat the heap threshold. Each round decodes all
    of its selected blocks in ONE ``codec.decode_blocks`` call.

    Output: (qid, doc_int, score) with each doc's FINAL score — doc_ints
    are unique store-wide (audited by plans/build._finalize_store) and all
    of a doc's postings sit in one segment, so a doc_int lives in exactly
    one (qid, seg) group and callers need no per-doc aggregate. A group
    emits its top k plus score ties at the k boundary; callers still cut
    per qid (``_cut_topk``) because the row count grows with the segments.

    ``constraints`` (qid, seg, doc_int, kind) rows — from
    ``_segment_constraints`` — are cogrouped with the block groups so dead
    and out-of-index docs are excluded INSIDE the scorer (they must not burn
    heap slots; a post-hoc semi-join would not be exact because the
    unrestricted per-segment top-k can evict allowed docs). ``has_allow``
    says an index filter is active: a group with no 'allow' rows then
    matches nothing (vs no filter at all).

    Extensions beyond plain OR top-k (VERDICT r4 task 2 — at 100 TB, deep
    paging / msm / AND are exactly where exhaustive scoring hurts):

    - ``mode='and'`` (``need_by_qid``: qid → total analyzed query terms):
      classic mandatory-term intersection — seed candidates from the
      segment's sparsest term, then intersect against each remaining
      term's candidate-overlapping blocks only; a segment missing any
      query term yields nothing. No tau needed; strictly less decoding
      than exhaustive.
    - ``msm`` (OR mode): per-candidate distinct-matched-term counts ride
      the score arrays; the heap threshold tau is taken over candidates
      that have ALREADY matched >= msm terms (their partials only grow
      and they stay qualified, so tau stays a valid lower bound on the
      final kth qualifying score — tau over not-yet-qualified docs could
      prune a qualifying doc). New docs stop entering once the remaining
      term count cannot reach msm.
    - ``cursor`` (search_after score s0): tau is taken only over
      candidates CERTIFIED below the cursor (partial + remaining upper
      bound < s0 — their final score cannot cross it, so they surely
      qualify for the page). Candidates whose partial exceeds s0 are
      dropped (final >= partial > s0 → before the cursor); exact ==s0
      boundary rows are all kept for the downstream doc_id tie-break.
    """

    empty = _empty_scores()

    def score_group(
        qid: int,
        pdf: pd.DataFrame,
        allow: np.ndarray | None,
        dead: np.ndarray | None,
    ) -> pd.DataFrame:
        # Per term: block columns as numpy arrays in doc order + per-block
        # upper bounds; term-level ub. A term's blocks in one segment hold
        # disjoint doc ranges, so the doc_first order is unique.
        pdf = pdf.sort_values(["term", "doc_first"], ignore_index=True)
        cols = {
            c: pdf[c].to_numpy()
            for c in _WAND_COLS if c not in ("qid", "seg", "term")
        }
        terms = pdf["term"].to_numpy(object)
        cuts = np.flatnonzero(terms[1:] != terms[:-1]) + 1
        per_term = []
        for lo, hi in zip([0, *cuts], [*cuts, len(terms)]):
            tdf = {c: a[lo:hi] for c, a in cols.items()}
            ub = tdf["w"] * bm25.tf_norm(tdf["max_tf"], tdf["min_dl"], avgdl)
            per_term.append((float(ub.max()), tdf, ub))
        # MaxScore ordering: biggest-potential terms first (essential set).
        per_term.sort(key=lambda t: -t[0])
        suffix = np.zeros(len(per_term) + 1)
        for i in range(len(per_term) - 1, -1, -1):
            suffix[i] = suffix[i + 1] + per_term[i][0]

        cand_ids = np.zeros(0, dtype=np.int64)     # sorted candidate docs
        cand_scores = np.zeros(0, dtype=np.float64)
        cand_nt = np.zeros(0, dtype=np.int64)       # distinct matched terms
        tau = float("-inf")                         # kth-best partial so far

        def decode_rows(tdf: dict, sel: np.ndarray):
            # one codec.decode_blocks call for every selected block
            blk = {c: a[sel] for c, a in tdf.items()}
            ids, tfs, dls = codec.decode_blocks(blk)
            w = np.repeat(blk["w"], blk["n_docs"])
            mask = None
            if allow is not None:
                mask = np.isin(ids, allow)
            if dead is not None:
                m2 = ~np.isin(ids, dead)
                mask = m2 if mask is None else (mask & m2)
            if mask is not None:
                ids, tfs, dls, w = ids[mask], tfs[mask], dls[mask], w[mask]
            return ids, w * bm25.tf_norm(tfs, dls, avgdl)

        def final_cut(ids: np.ndarray, scores: np.ndarray) -> pd.DataFrame:
            """Top-k with ties; under a cursor, top-k among strictly-below
            rows PLUS every ==cursor boundary row (the downstream doc_id
            tie-break may discard boundary rows, which must not expose a
            hole — boundary rows are at most the previous page's tie
            group, so the extra rows are page-sized, not corpus-sized)."""
            if not ids.size:
                return empty
            if cursor is not None:
                below = scores < cursor
                b_ids, b_sc = ids[below], scores[below]
                if len(b_ids) > k:
                    kth = float(np.partition(b_sc, -k)[-k])
                    keep = b_sc >= kth
                    b_ids, b_sc = b_ids[keep], b_sc[keep]
                edge = scores == cursor
                ids = np.concatenate([b_ids, ids[edge]])
                scores = np.concatenate([b_sc, scores[edge]])
            elif len(ids) > k:
                kth = float(np.partition(scores, -k)[-k])
                keep = scores >= kth
                ids, scores = ids[keep], scores[keep]
            if not ids.size:
                return empty
            return pd.DataFrame(
                {"qid": qid, "doc_int": ids, "score": scores}
            )

        if mode == "and":
            # mandatory-term intersection: every analyzed query term must
            # match. A term absent from this segment (or from the whole
            # index: need_by_qid counts pre-dropna terms) → empty.
            need = need_by_qid.get(qid, len(per_term))
            if len(per_term) < need:
                return empty
            # seed from the sparsest term (fewest blocks) — candidates
            # only shrink from there
            by_rarity = sorted(per_term, key=lambda t: len(t[2]))
            ids0, sc0 = decode_rows(
                by_rarity[0][1], np.ones(len(by_rarity[0][2]), dtype=bool)
            )
            order0 = np.argsort(ids0, kind="stable")
            cand_ids, cand_scores = ids0[order0], sc0[order0]
            for _ub, tdf, _bub in by_rarity[1:]:
                if not cand_ids.size:
                    return empty
                lo = np.searchsorted(
                    cand_ids, tdf["doc_first"], side="left"
                )
                hi = np.searchsorted(
                    cand_ids, tdf["doc_last"], side="right"
                )
                ids, sc = decode_rows(tdf, hi > lo)
                order = np.argsort(ids, kind="stable")
                ids, sc = ids[order], sc[order]
                pos = np.searchsorted(ids, cand_ids)
                if ids.size:
                    ok = (pos < len(ids)) & (
                        ids[np.minimum(pos, len(ids) - 1)] == cand_ids
                    )
                else:
                    ok = np.zeros(len(cand_ids), dtype=bool)
                cand_ids = cand_ids[ok]
                cand_scores = cand_scores[ok] + sc[pos[ok]]
            return final_cut(cand_ids, cand_scores)

        track_nt = msm is not None
        n_terms = len(per_term)

        def refresh_tau() -> float:
            """kth best among candidates GUARANTEED to qualify at the end
            (msm already reached; final score certain to stay below the
            cursor) — scores only grow, so these partials lower-bound the
            final kth qualifying score."""
            q = np.ones(len(cand_ids), dtype=bool)
            if track_nt:
                q &= cand_nt >= msm
            if cursor is not None:
                q &= cand_scores + rem_ub < cursor
            qs = cand_scores[q]
            if len(qs) < k:
                return float("-inf")
            return float(np.partition(qs, -k)[-k])

        rem_ub = suffix[0]
        for i, (_term_ub, tdf, block_ub) in enumerate(per_term):
            rem_ub = suffix[i + 1]
            # new docs first seen here match at most the remaining terms —
            # below msm they can never qualify, so stop admitting them
            can_enter = (not track_nt) or (n_terms - i >= msm)
            essential = (suffix[i] >= tau or len(cand_ids) < k) and can_enter
            if essential:
                # decode all blocks; block-level skip only for blocks that
                # cannot beat tau AND contain no current candidate (their
                # docs can neither enter nor affect the final top-k).
                sel = np.ones(len(block_ub), dtype=bool)
                if np.isfinite(tau) and len(cand_ids):
                    cannot_enter = block_ub + suffix[i + 1] < tau
                    lo = np.searchsorted(
                        cand_ids, tdf["doc_first"], side="left"
                    )
                    hi = np.searchsorted(
                        cand_ids, tdf["doc_last"], side="right"
                    )
                    has_cand = hi > lo
                    sel = ~(cannot_enter & ~has_cand)
                ids, sc = decode_rows(tdf, sel)
                if ids.size == 0 and cand_ids.size == 0:
                    continue
                # merge into candidate arrays (sorted union)
                all_ids = np.concatenate([cand_ids, ids])
                all_sc = np.concatenate([cand_scores, sc])
                order = np.argsort(all_ids, kind="stable")
                all_ids, all_sc = all_ids[order], all_sc[order]
                uniq, start = np.unique(all_ids, return_index=True)
                summed = np.add.reduceat(all_sc, start)
                if track_nt:
                    all_nt = np.concatenate(
                        [cand_nt, np.ones(len(ids), dtype=np.int64)]
                    )[order]
                    cand_nt = np.add.reduceat(all_nt, start)
                cand_ids, cand_scores = uniq, summed
            else:
                # non-essential (or msm-closed): only existing candidates
                # can still change — decode only blocks overlapping the
                # candidate set, add their contributions (exact scores).
                lo = np.searchsorted(
                    cand_ids, tdf["doc_first"], side="left"
                )
                hi = np.searchsorted(
                    cand_ids, tdf["doc_last"], side="right"
                )
                sel = hi > lo
                ids, sc = decode_rows(tdf, sel)
                pos = np.searchsorted(cand_ids, ids)
                ok = (pos < len(cand_ids)) & (cand_ids[np.minimum(pos, len(cand_ids) - 1)] == ids)
                np.add.at(cand_scores, pos[ok], sc[ok])
                if track_nt:
                    np.add.at(cand_nt, pos[ok], 1)
            if cursor is not None and len(cand_ids):
                # partial already past the cursor → final is too: drop
                # (exact ==cursor boundary rows stay for the tie-break)
                live = cand_scores <= cursor
                if not live.all():
                    cand_ids = cand_ids[live]
                    cand_scores = cand_scores[live]
                    if track_nt:
                        cand_nt = cand_nt[live]
            if len(cand_ids) >= k:
                tau = refresh_tau()

        if not len(cand_ids):
            return empty
        if track_nt:
            keepq = cand_nt >= msm
            cand_ids, cand_scores = cand_ids[keepq], cand_scores[keepq]
        return final_cut(cand_ids, cand_scores)

    if constraints is None:

        def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            return score_group(int(key[0]), pdf, None, None)

        return (
            joined.select(*_WAND_COLS)
            .groupBy("qid", "seg")
            .applyInPandas(run, schema=_SCORES_SCHEMA)
        )

    def run_cons(
        key: tuple, left: pd.DataFrame, right: pd.DataFrame
    ) -> pd.DataFrame:
        if left.empty:
            return empty
        allow = None
        if has_allow:
            allow = np.sort(
                right.loc[right["kind"] == "allow", "doc_int"]
                .to_numpy(np.int64)
            )
            if not allow.size:
                return empty  # index filter active, nothing allowed here
        dd = right.loc[right["kind"] == "dead", "doc_int"].to_numpy(np.int64)
        dead = np.sort(dd) if dd.size else None
        return score_group(int(key[0]), left, allow, dead)

    return (
        joined.select(*_WAND_COLS)
        .groupBy("qid", "seg")
        .cogroup(constraints.groupBy("qid", "seg"))
        .applyInPandas(run_cons, schema=_SCORES_SCHEMA)
    )


# --------------------------------------------------------------- hybrid
# ES 8.8+ retriever API: fuse a lexical (BM25) ranking with a vector
# (kNN) ranking.  The reference pipeline's whole purpose is making the
# shipped documents searchable (lib/handler.js:100); hybrid retrieval is
# how that search surface looks today when the docs also carry
# embeddings (dense_vector fields on the same index, as built by
# build_index(doc_meta_cols=...)).


def _ranked_bm25(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    window: int,
    field: str | None,
) -> DataFrame:
    """(qid, doc_id, brank) — BM25 OR ranking cut at ``window``, ranked
    over the 6-dp-rounded score with doc_id tie-break so the ordering is
    bit-deterministic (the discipline every entry oracle uses)."""
    scored = _scored_or_match(spark, store, queries, field)
    if scored is None:
        return spark.createDataFrame([], "qid long, doc_id string, brank int")
    stats = store.doc_stats(spark).select("doc_int", "doc_id")
    w = Window.partitionBy("qid").orderBy(
        F.round("score", 6).desc(), F.col("doc_id").asc()
    )
    return (
        scored.join(stats, "doc_int")
        .withColumn("brank", F.row_number().over(w))
        .filter(F.col("brank") <= int(window))
        .select("qid", "doc_id", "brank")
    )


def _ranked_knn(
    spark: SparkSession,
    store: IndexStore,
    query_vecs: pd.DataFrame,
    window: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, doc_id, krank) — corpus-wide cosine ranking cut at
    ``window``.  Query vectors broadcast; the cosine is ONE codegen
    aggregate expression over the doc-marker vector column (no Python),
    ranked over the rounded value with doc_id tie-break."""
    from ..operators.ann import COS_EXPR, _norm_col

    # each doc's norm computed ONCE before the |queries|-way cross join
    # (bit-identical to inlining — see operators/ann._norm_col); the query
    # norm is a literal per broadcast row
    import math

    stats = store.doc_stats(spark).select(
        "doc_id", F.col(vec_col).cast("array<double>").alias("_dvec")
    ).filter(F.col("_dvec").isNotNull()).withColumn(
        "_dn", _norm_col("_dvec")
    )
    qrows = []
    for qid, v in zip(query_vecs["qid"], query_vecs["vec"]):
        vec = [float(x) for x in v]
        acc = 0.0
        for x in vec:
            acc += x * x
        qrows.append((int(qid), vec, math.sqrt(acc)))
    qv = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(qrows, columns=["qid", "_qvec", "_qn"])
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("_cos").desc(), F.col("doc_id").asc()
    )
    return (
        stats.join(qv)
        .withColumn(
            "_cos",
            F.round(
                F.expr(COS_EXPR.format(a="_qvec", b="_dvec"))
                / (F.col("_qn") * F.col("_dn")),
                6,
            ),
        )
        .withColumn("krank", F.row_number().over(w))
        .filter(F.col("krank") <= int(window))
        .select("qid", "doc_id", "krank")
    )


def search_rrf(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    query_vecs: pd.DataFrame,
    k: int = 10,
    window: int = 50,
    rank_constant: int = 60,
    vec_col: str = "embedding",
    field: str | None = None,
) -> DataFrame:
    """ES reciprocal-rank-fusion retriever: BM25 top-``window`` and
    cosine-kNN top-``window`` rankings fused by
    ``sum(1 / (rank_constant + rank))`` over the rankings a doc appears
    in, then the fused top-``k``.

    Plan shape: both legs are rank windows over metadata-sized per-query
    aggregates (the BM25 leg reads only the query terms' postings; the
    kNN leg is a broadcast-vector codegen scan of the doc markers), the
    fusion is ONE full-outer join on (qid, doc_id) — nothing here scales
    with corpus size except the marker scan, which is the same scan ES's
    exact-kNN does.  At 100 TB you swap the kNN leg for the IVF/PQ paths
    in operators/ann (same output contract) without touching the fusion.
    """
    if k < 1 or window < 1 or rank_constant < 0:
        raise EngineError("rrf wants k, window >= 1 and rank_constant >= 0")
    lex = _ranked_bm25(spark, store, queries, window, field)
    vec = _ranked_knn(spark, store, query_vecs, window, vec_col)
    fused = lex.join(vec, ["qid", "doc_id"], "full_outer").withColumn(
        "rrf_r",
        F.round(
            F.coalesce(1.0 / (F.lit(rank_constant) + F.col("brank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rank_constant) + F.col("krank")), F.lit(0.0)),
            6,
        ),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("rrf_r").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("qid", "rank", "doc_id", "rrf_r")
    )


def search_hybrid_linear(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    query_vecs: pd.DataFrame,
    k: int = 10,
    window: int = 50,
    alpha: float = 0.5,
    vec_col: str = "embedding",
    field: str | None = None,
) -> DataFrame:
    """ES linear retriever with min-max normalization: each leg's scores
    are rescaled to [0, 1] within its per-query top-``window`` (a
    degenerate window where max == min maps to 1.0), a doc absent from a
    leg contributes 0, and the blend is
    ``alpha * bm25_norm + (1 - alpha) * cos_norm``.

    Same two legs and single full-outer fusion as search_rrf — only the
    combiner differs (score-based instead of rank-based), so the 100 TB
    story is identical."""
    if k < 1 or window < 1:
        raise EngineError("hybrid wants k and window >= 1")
    if not 0.0 <= alpha <= 1.0:
        raise EngineError("alpha must be in [0, 1]")
    scored = _scored_or_match(spark, store, queries, field)
    stats = store.doc_stats(spark).select("doc_int", "doc_id")
    if scored is None:
        lex = spark.createDataFrame([], "qid long, doc_id string, bnorm double")
    else:
        wb = Window.partitionBy("qid").orderBy(
            F.round("score", 6).desc(), F.col("doc_id").asc()
        )
        wq = Window.partitionBy("qid")
        lex = (
            scored.join(stats, "doc_int")
            .withColumn("score_r", F.round("score", 6))
            .withColumn("_r", F.row_number().over(wb))
            .filter(F.col("_r") <= int(window))
            .withColumn("_mx", F.max("score_r").over(wq))
            .withColumn("_mn", F.min("score_r").over(wq))
            .withColumn(
                "bnorm",
                F.when(
                    F.col("_mx") > F.col("_mn"),
                    (F.col("score_r") - F.col("_mn"))
                    / (F.col("_mx") - F.col("_mn")),
                ).otherwise(F.lit(1.0)),
            )
            .select("qid", "doc_id", "bnorm")
        )
    from ..operators.ann import cosine_expr

    dvec = store.doc_stats(spark).select(
        "doc_id", F.col(vec_col).cast("array<double>").alias("_dvec")
    ).filter(F.col("_dvec").isNotNull())
    qv = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                {"qid": query_vecs["qid"],
                 "_qvec": [list(map(float, v)) for v in query_vecs["vec"]]}
            )
        )
    )
    wk = Window.partitionBy("qid").orderBy(
        F.col("_cos").desc(), F.col("doc_id").asc()
    )
    wq = Window.partitionBy("qid")
    vec = (
        dvec.join(qv)
        .withColumn("_cos", F.round(F.expr(cosine_expr("_qvec", "_dvec")), 6))
        .withColumn("_r", F.row_number().over(wk))
        .filter(F.col("_r") <= int(window))
        .withColumn("_mx", F.max("_cos").over(wq))
        .withColumn("_mn", F.min("_cos").over(wq))
        .withColumn(
            "knorm",
            F.when(
                F.col("_mx") > F.col("_mn"),
                (F.col("_cos") - F.col("_mn")) / (F.col("_mx") - F.col("_mn")),
            ).otherwise(F.lit(1.0)),
        )
        .select("qid", "doc_id", "knorm")
    )
    fused = lex.join(vec, ["qid", "doc_id"], "full_outer").withColumn(
        "blend_r",
        F.round(
            F.lit(float(alpha)) * F.coalesce("bnorm", F.lit(0.0))
            + F.lit(1.0 - float(alpha)) * F.coalesce("knorm", F.lit(0.0)),
            6,
        ),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("blend_r").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("qid", "rank", "doc_id", "blend_r")
    )


# -------------------------------------------------------------- rank_eval
# ES _rank_eval API: score a ranking against graded relevance judgments.


def rank_eval(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    ratings: DataFrame,
    k: int = 10,
    relevant_threshold: int = 1,
    field: str | None = None,
) -> DataFrame:
    """ES ``_rank_eval``: run the BM25 OR ranking for each query and
    grade its top-``k`` against external judgments.

    ``ratings``: DataFrame (qid, doc_id, rating) with integer graded
    relevance — docs absent from it rate 0.  Emits one row per (qid,
    metric) for ES's four ranking metrics:

    - ``precision_at_k``: fraction of the top-k with rating >=
      ``relevant_threshold`` (ES precision.relevant_rating_threshold).
    - ``recall_at_k``: top-k relevant over ALL relevant for the query.
    - ``mrr``: 1/rank of the first relevant hit (0 when none).
    - ``ndcg_at_k``: DCG with graded gains (2^rating - 1, log2(rank+1)
      discount) over the ideal DCG from the ratings themselves.

    Judgments are metric-sized (qrels, not corpus), so they broadcast;
    the ranking is the same windowed aggregate as search() — nothing
    new materializes at corpus scale."""
    if k < 1:
        raise EngineError("rank_eval wants k >= 1")
    ranked = _ranked_bm25(spark, store, queries, k, field).withColumnRenamed(
        "brank", "rank"
    )
    r = F.broadcast(
        ratings.select(
            F.col("qid").cast("long").alias("qid"),
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("rating").cast("long").alias("rating"),
        )
    )
    hits = ranked.join(r, ["qid", "doc_id"], "left").withColumn(
        "rating", F.coalesce("rating", F.lit(0))
    )
    rel = F.col("rating") >= int(relevant_threshold)
    gain = (F.pow(F.lit(2.0), F.col("rating")) - 1.0) / F.log2(
        F.col("rank").cast("double") + 1.0
    )
    per_q = hits.groupBy("qid").agg(
        (F.sum(rel.cast("double")) / float(k)).alias("precision_at_k"),
        F.coalesce(
            F.max(F.when(rel, 1.0 / F.col("rank"))), F.lit(0.0)
        ).alias("mrr"),
        F.sum(gain).alias("_dcg"),
        F.sum(rel.cast("long")).alias("_nrel_topk"),
    )
    # denominators from the judgments alone (query-independent of the
    # ranking): total relevant count and the ideal DCG of the best
    # possible ordering of the judged docs
    wi = Window.partitionBy("qid").orderBy(
        F.col("rating").desc(), F.col("doc_id").asc()
    )
    ideal = (
        ratings.select(
            F.col("qid").cast("long").alias("qid"),
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("rating").cast("long").alias("rating"),
        )
        .withColumn("_ir", F.row_number().over(wi))
        .groupBy("qid")
        .agg(
            F.sum(
                F.when(
                    F.col("_ir") <= int(k),
                    (F.pow(F.lit(2.0), F.col("rating")) - 1.0)
                    / F.log2(F.col("_ir").cast("double") + 1.0),
                ).otherwise(F.lit(0.0))
            ).alias("_idcg"),
            F.sum(
                (F.col("rating") >= int(relevant_threshold)).cast("long")
            ).alias("_nrel"),
        )
    )
    j = per_q.join(F.broadcast(ideal), "qid", "full_outer").fillna(0)
    out = j.select(
        "qid",
        F.round("precision_at_k", 6).alias("precision_at_k"),
        F.round(
            F.when(F.col("_nrel") > 0, F.col("_nrel_topk") / F.col("_nrel"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("recall_at_k"),
        F.round("mrr", 6).alias("mrr"),
        F.round(
            F.when(F.col("_idcg") > 0, F.col("_dcg") / F.col("_idcg"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("ndcg_at_k"),
    )
    long = out.selectExpr(
        "qid",
        "stack(4, 'precision_at_k', precision_at_k, 'recall_at_k', "
        "recall_at_k, 'mrr', mrr, 'ndcg_at_k', ndcg_at_k) AS (metric, value_r)",
    )
    return long.select("qid", "metric", F.round("value_r", 6).alias("value_r"))


# ------------------------------------------- round-4 metric aggs II
# ES median_absolute_deviation / boxplot / t_test / matrix_stats — the
# remaining numeric aggregations over doc fields the reference ships
# onto the index (lib/handler.js:100). All follow the stats-agg plan:
# pruned posting read -> metadata join -> hash aggregation(s).


def search_median_absolute_deviation_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``median_absolute_deviation``: median(|v - median(v)|) per
    query. ES approximates with TDigest; we define the EXACT
    interpolated median (documented divergence — deterministic and
    oracle-replicable, and at 100 TB the second pass is a metadata-sized
    re-aggregation, not a corpus scan: the match-set values join a
    per-qid scalar)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, n_docs long, mad_r double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(value_col).cast("double").alias("_v")
    )
    joined = hits.join(stats, "doc_int")
    med = joined.groupBy("qid").agg(
        F.expr("percentile(_v, 0.5)").alias("_med")
    )
    return (
        joined.join(F.broadcast(med), "qid")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.expr("percentile(abs(_v - _med), 0.5)"), 6
            ).alias("mad_r"),
        )
    )


def search_boxplot_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``boxplot``: min / q1 / q2 / q3 / max of a doc field over the
    match set, exact interpolated quantiles (ES uses TDigest — same
    documented divergence as MAD). ONE hash aggregation."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, n_docs long, min_r double, q1_r double, "
            "q2_r double, q3_r double, max_r double",
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(value_col).cast("double").alias("_v")
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.min("_v"), 6).alias("min_r"),
            F.round(F.expr("percentile(_v, 0.25)"), 6).alias("q1_r"),
            F.round(F.expr("percentile(_v, 0.5)"), 6).alias("q2_r"),
            F.round(F.expr("percentile(_v, 0.75)"), 6).alias("q3_r"),
            F.round(F.max("_v"), 6).alias("max_r"),
        )
    )


def search_t_test_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``t_test`` (unpaired heteroscedastic — Welch's, the ES default
    for two filters): t = (m_a - m_b) / sqrt(s2_a/n_a + s2_b/n_b) with
    SAMPLE variances, between the match-set docs whose ``group_col``
    equals ``group_a`` vs ``group_b``. Null when either side has < 2
    docs or both variances are zero. ONE conditional aggregation."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, n_a long, n_b long, t_r double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int",
        F.col(value_col).cast("double").alias("_v"),
        F.col(group_col).cast("string").alias("_g"),
    )
    in_a = F.col("_g") == group_a
    in_b = F.col("_g") == group_b
    agg = (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(
            F.sum(in_a.cast("long")).alias("n_a"),
            F.sum(in_b.cast("long")).alias("n_b"),
            F.avg(F.when(in_a, F.col("_v"))).alias("_ma"),
            F.avg(F.when(in_b, F.col("_v"))).alias("_mb"),
            F.var_samp(F.when(in_a, F.col("_v"))).alias("_va"),
            F.var_samp(F.when(in_b, F.col("_v"))).alias("_vb"),
        )
    )
    denom = F.sqrt(
        F.col("_va") / F.col("n_a") + F.col("_vb") / F.col("n_b")
    )
    t = F.when(
        (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (denom > 0),
        (F.col("_ma") - F.col("_mb")) / denom,
    )
    return agg.select(
        "qid", "n_a", "n_b", F.round(t, 6).alias("t_r")
    )


def search_matrix_stats_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    fields: tuple[str, ...],
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``matrix_stats``: the covariance and correlation matrices over
    a set of numeric doc fields, one long-format row per ordered field
    pair. SAMPLE covariance (ES's definition); the diagonal carries the
    field variance and correlation 1. ONE hash aggregation computes
    every cell, then a stack to long format — no per-pair pass."""
    if len(fields) < 2:
        raise EngineError("matrix_stats wants >= 2 fields")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, field_x string, field_y string, n_docs long, "
            "covar_r double, corr_r double",
        )
    stats = store.doc_stats(spark).select(
        "doc_int",
        *[F.col(f).cast("double").alias(f"_v_{f}") for f in fields],
    )
    cells = []
    for x in fields:
        for y in fields:
            cells.append(
                F.round(
                    F.covar_samp(f"_v_{x}", f"_v_{y}"), 6
                ).alias(f"_cov_{x}_{y}")
            )
            # Pearson via try_divide: ANSI-mode corr() raises on a
            # zero-variance column; ES (and DuckDB) return null there
            cells.append(
                F.round(
                    F.expr(
                        f"try_divide(covar_samp(_v_{x}, _v_{y}), "
                        f"stddev_samp(_v_{x}) * stddev_samp(_v_{y}))"
                    ),
                    6,
                ).alias(f"_cor_{x}_{y}")
            )
    agg = (
        hits.join(stats, "doc_int")
        .groupBy("qid")
        .agg(F.count("*").alias("n_docs"), *cells)
    )
    pairs = ", ".join(
        f"'{x}', '{y}', _cov_{x}_{y}, _cor_{x}_{y}"
        for x in fields
        for y in fields
    )
    n = len(fields) * len(fields)
    return agg.selectExpr(
        "qid",
        "n_docs",
        f"stack({n}, {pairs}) AS (field_x, field_y, covar_r, corr_r)",
    ).select("qid", "field_x", "field_y", "n_docs", "covar_r", "corr_r")


_AUTO_DH_INTERVALS = (
    "minute", "hour", "day", "week", "month", "quarter", "year"
)


def auto_date_histogram(
    df: DataFrame,
    ts_col: str,
    target_buckets: int,
    group_cols: tuple[str, ...] = (),
) -> tuple[str, DataFrame]:
    """ES ``auto_date_histogram``: pick the FINEST calendar interval
    (minute → year) whose distinct-bucket count stays within
    ``target_buckets``, then bucket on it. Returns (chosen_interval,
    aggregated frame with ``bucket``/``interval``/``n`` columns).

    The interval choice is ONE aggregation computing every candidate's
    distinct-bucket count simultaneously (7 countDistincts over the
    pruned ts column — no per-candidate pass); only the 7-number result
    reaches the driver."""
    counts = df.agg(
        *[
            F.countDistinct(F.date_trunc(u, F.col(ts_col))).alias(u)
            for u in _AUTO_DH_INTERVALS
        ]
    ).first()
    chosen = _AUTO_DH_INTERVALS[-1]
    for u in _AUTO_DH_INTERVALS:
        if int(counts[u] or 0) <= int(target_buckets):
            chosen = u
            break
    out = (
        df.groupBy(
            F.date_trunc(chosen, F.col(ts_col)).alias("bucket"),
            *[F.col(c) for c in group_cols],
        )
        .agg(F.count("*").alias("n"))
        .withColumn("interval", F.lit(chosen))
    )
    return chosen, out


# --------------------------------------------- terms_set / runtime / etc.


def search_terms_set(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    msm_expr: str,
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """ES ``terms_set``: OR over the analyzed query terms, but each doc
    sets its OWN minimum_should_match — ``msm_expr`` is a SQL expression
    over the doc-marker columns (ES minimum_should_match_field /
    _script), clamped to >= 1. Score = summed BM25 of matched terms.

    Plan: the ordinary OR aggregate already counts distinct matched
    terms (nt); the per-doc gate is one metadata join + filter — no
    extra posting pass."""
    if k < 1:
        raise EngineError("terms_set k must be >= 1")
    prefix, avgdl = _field_of(store, field)
    qt, _ = _weighted_terms(spark, store, _query_terms(queries, prefix))
    if qt.empty:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id string, nt long, score_r double"
        )
    agg = _bm25_hits(spark, store, qt, avgdl)
    stats = store.doc_stats(spark).withColumn(
        "_required", F.greatest(F.lit(1), F.expr(msm_expr).cast("long"))
    ).select("doc_int", "doc_id", "_required")
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        agg.join(stats, "doc_int")
        .filter(F.col("nt") >= F.col("_required"))
        .withColumn("score_r", F.round("score", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("qid", "rank", "doc_id", F.col("nt").cast("long").alias("nt"),
                "score_r")
    )


def search_runtime_terms_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    runtime_exprs: dict[str, str],
    group_field: str,
    avg_field: str | None = None,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES runtime fields: ``runtime_exprs`` (name -> SQL expression over
    the doc-marker columns) define query-time derived fields — here
    bucketed (terms agg on ``group_field``) with an optional avg of
    another runtime field, ES's emit-a-field-then-aggregate pattern
    without touching the index.

    Runtime fields evaluate as Column expressions inside the metadata
    join's projection (whole-stage codegen, no per-row Python, nothing
    materialized store-side) — exactly the scale story ES runtime
    fields promise (compute at query time, index nothing)."""
    hits = _match_set(spark, store, queries, mode, field)
    out_schema = (
        "qid long, group string, n_docs long"
        + (", avg_r double" if avg_field else "")
    )
    if hits is None:
        return spark.createDataFrame([], out_schema)
    stats = store.doc_stats(spark)
    for name, expr in sorted(runtime_exprs.items()):
        stats = stats.withColumn(name, F.expr(expr))
    stats = stats.select(
        "doc_int", F.col(group_field).cast("string").alias("group"),
        *([F.col(avg_field).cast("double").alias("_av")] if avg_field else []),
    )
    aggs = [F.count("*").alias("n_docs")]
    if avg_field:
        aggs.append(F.round(F.avg("_av"), 6).alias("avg_r"))
    return hits.join(stats, "doc_int").groupBy("qid", "group").agg(*aggs)


def search_collapse_inner_hits(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    collapse_col: str,
    k: int = 10,
    inner_size: int = 3,
    field: str | None = None,
) -> DataFrame:
    """ES ``collapse`` with ``inner_hits``: groups rank by their best
    doc (as search_collapse), and each surviving group also returns its
    top ``inner_size`` docs. Three window functions over the scored
    aggregate — the inner hits come from the SAME pass that ranked the
    groups, no per-group re-query (which is exactly what ES's
    inner_hits does NOT give you: it re-runs a sub-search per group)."""
    if k < 1 or inner_size < 1:
        raise EngineError("collapse wants k and inner_size >= 1")
    scored = _scored_or_match(spark, store, queries, field)
    if scored is None:
        return spark.createDataFrame(
            [], "qid long, group_rank int, group string, inner_rank int, "
                "doc_id string, score_r double",
        )
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id",
        F.col(collapse_col).cast("string").alias("group"),
    )
    named = scored.join(stats, "doc_int").withColumn(
        "score_r", F.round("score", 6)
    )
    w_in = Window.partitionBy("qid", "group").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    w_grp = Window.partitionBy("qid", "group")
    inner = (
        named.withColumn("inner_rank", F.row_number().over(w_in))
        .filter(F.col("inner_rank") <= int(inner_size))
        .withColumn("_gscore", F.max("score_r").over(w_grp))
        .withColumn(
            "_gdoc",
            F.min(
                F.when(F.col("inner_rank") == 1, F.col("doc_id"))
            ).over(w_grp),
        )
    )
    w_out = Window.partitionBy("qid").orderBy(
        F.col("_gscore").desc(), F.col("_gdoc").asc()
    )
    return (
        inner.withColumn("group_rank", F.dense_rank().over(w_out))
        .filter(F.col("group_rank") <= int(k))
        .select("qid", "group_rank", "group", "inner_rank", "doc_id",
                "score_r")
    )


def search_intervals(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    max_gaps: int = 0,
    ordered: bool = True,
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """ES ``intervals`` query, ``match`` rule with ``max_gaps`` /
    ``ordered``: the analyzed terms must appear within a window wasting
    at most ``max_gaps`` positions. For n terms that window is
    ``n - 1 + max_gaps`` — algebraically the span_near slop budget, so
    the query delegates to the same vectorized positional kernel
    (ordered -> in-order chain, unordered -> window sweep). Scoring:
    summed BM25 of the interval terms."""
    if max_gaps < 0:
        raise EngineError("intervals max_gaps must be >= 0")
    return search_span_near(
        spark, store, queries, slop=int(max_gaps), in_order=ordered,
        k=k, field=field,
    )


def msearch(
    spark: SparkSession,
    store: IndexStore,
    requests: list[dict],
    k: int = 10,
) -> DataFrame:
    """ES ``_msearch``: heterogeneous searches in one call, results
    tagged by request slot. Each request: ``{"slot": int, "kind":
    "match" | "match_and" | "phrase", "query": str}``. Rankings use the
    rounded-score doc_id-tie-broken discipline so pages are
    bit-deterministic. Returns (slot, rank, doc_id, score_r).

    The slots run as independent jobs over the SAME store handle (shared
    metadata, shared posting layout); a driver loop over a handful of
    requests, each itself fully distributed — the classic ES msearch
    shape."""
    outs = []
    w = Window.partitionBy("slot").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    for req in requests:
        kind = req.get("kind", "match")
        qpdf = pd.DataFrame([(0, req["query"])], columns=["qid", "query"])
        if kind == "match":
            res = search(spark, store, qpdf, k=max(50, k), algo="exhaustive")
        elif kind == "match_and":
            res = search(
                spark, store, qpdf, k=max(50, k), mode="and",
                algo="exhaustive",
            )
        elif kind == "phrase":
            res = search_phrase(spark, store, qpdf, k=max(50, k))
        else:
            raise EngineError(f"msearch: unknown kind {kind!r}")
        outs.append(
            res.select(
                F.lit(int(req["slot"])).cast("long").alias("slot"),
                "doc_id",
                F.round("score", 6).alias("score_r"),
            )
        )
    if not outs:
        return spark.createDataFrame(
            [], "slot long, rank int, doc_id string, score_r double"
        )
    union = outs[0]
    for o in outs[1:]:
        union = union.unionByName(o)
    return (
        union.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("slot", "rank", "doc_id", "score_r")
    )


def scroll_sliced(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    slice_id: int,
    max_slices: int,
    page_size: int = 1000,
    mode: str = "or",
    field: str | None = None,
    max_pages: int | None = None,
):
    """ES sliced scroll: partition one query's full export into
    ``max_slices`` disjoint id-hash slices so independent workers drain
    them in parallel — slice membership is the engine's portable md5
    uniform (operators/sampling.hash_uniform), so slices are
    deterministic, disjoint, and complete by construction.

    Each page is one bounded job: the slice predicate and the keyset
    cursor both apply BEFORE the rank window (filter-then-rank), so page
    N of slice S costs the same as page 1 — the 100 TB export discipline
    of plans/search.scroll, times parallel slices."""
    from ..operators.sampling import hash_uniform

    if page_size < 1:
        raise EngineError("page_size must be >= 1")
    if not 0 <= int(slice_id) < int(max_slices):
        raise EngineError("need 0 <= slice_id < max_slices")
    qpdf = pd.DataFrame({"qid": [0], "query": [str(query)]})
    scored = _scored_or_match(spark, store, qpdf, field)
    if scored is None:
        return
    stats = store.doc_stats(spark).select("doc_int", "doc_id")
    base = (
        scored.join(stats, "doc_int")
        .withColumn("score_r", F.round("score", 6))
        .filter(
            F.floor(hash_uniform("doc_id") * int(max_slices))
            == int(slice_id)
        )
        .select("qid", "doc_id", "score_r")
    )
    after = None
    pages = 0
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    while True:
        page_df = base
        if after is not None:
            s0, d0 = after
            page_df = page_df.filter(
                (F.col("score_r") < float(s0))
                | ((F.col("score_r") == float(s0))
                   & (F.col("doc_id") > str(d0)))
            )
        page = (
            page_df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(page_size))
            .toPandas()
            .sort_values("rank")
        )
        if page.empty:
            return
        yield page
        pages += 1
        if len(page) < page_size:
            return
        if max_pages is not None and pages >= max_pages:
            return
        last = page.iloc[-1]
        after = (float(last["score_r"]), str(last["doc_id"]))


def search_children_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    group_col: str,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``children`` aggregation WITH its ``parent`` reverse: for the
    query's matching PARENT docs (a join-field store, reference
    lib/handler.js:76-78 parent routing), step down into their CHILD
    docs and bucket those by a child metadata field — per (qid, bucket)
    ``n_children`` counts child docs (the children agg's doc_count) and
    ``n_parents`` counts distinct owning parents (what a ``parent``
    reverse-step recovers, mirroring reverse_nested for join fields).

    Plan: one pruned posting read for the parent match set; the child
    side is the SAME store's metadata-sized doc_stats (the join field
    lives on one index in ES too) filtered to rows carrying a parent
    ref, hash-joined on parent id and fed to ONE aggregation. Child
    postings are never read. → (qid, group, n_children, n_parents)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, group string, n_children long, n_parents long"
        )
    stats = store.doc_stats(spark)
    pids = hits.join(
        stats.select("doc_int", "doc_id"), "doc_int"
    ).select("qid", F.col("doc_id").alias("_parent"))
    kids = _drop_dead(
        spark,
        store,
        stats.select(
            "doc_int",
            F.col("parent").alias("_parent"),
            F.col(group_col).cast("string").alias("group"),
        ),
    ).drop("doc_int")
    return (
        pids.join(kids, "_parent")
        .groupBy("qid", "group")
        .agg(
            F.count("*").alias("n_children"),
            F.count_distinct("_parent").alias("n_parents"),
        )
    )


def search_random_sampler(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    probability: float,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``random_sampler`` aggregation: run the sub-aggregation over a
    uniform random subset of the match set at rate ``probability`` and
    scale counts back up by 1/p. Randomness is the engine's standard
    deterministic uniform — u = first 8 md5 hex digits of doc_id / 2^32
    (same construction as operators/sampling.py), so reruns and the
    oracle see the identical sample; ES seeds a hash the same way.
    Returns per qid: sampled doc count, the sampled mean of a numeric
    doc field, and the 1/p-scaled total estimate. The filter is a
    map-side predicate on metadata-sized rows — no extra shuffle.
    → (qid, n_sampled, avg_value_r, est_total)."""
    if not (0.0 < probability <= 1.0):
        raise EngineError("random_sampler probability must be in (0, 1]")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, n_sampled long, avg_value_r double, "
                "est_total double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id", F.col(value_col).cast("double").alias("_v")
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id")), 1, 8), 16, 10)
        .cast("long") / F.lit(4294967296.0)
    )
    return (
        hits.join(stats, "doc_int")
        .filter(u < F.lit(float(probability)))
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.avg("_v"), 6).alias("avg_value_r"),
            F.round(
                F.count("*") / F.lit(float(probability)), 6
            ).alias("est_total"),
        )
    )


def search_parent_id(
    spark: SparkSession,
    store: IndexStore,
    parents: pd.DataFrame,
    k: int = 10,
) -> DataFrame:
    """ES ``parent_id`` query: fetch the child docs whose join-field
    parent is EXACTLY the given id — constant score 1.0, doc_id rank
    (the engine's standard unscored presentation). ``parents``: pandas
    (qid, parent). The query frame broadcasts; the only job is a
    metadata-sized doc_stats scan filtered on the parent column —
    no posting read at all. → (qid, rank, doc_id, score_r)."""
    qdf = F.broadcast(spark.createDataFrame(parents[["qid", "parent"]]))
    kids = _drop_dead(
        spark,
        store,
        store.doc_stats(spark).select(
            "doc_int", "doc_id", F.col("parent").alias("_pref")
        ),
    )
    w = Window.partitionBy("qid").orderBy(F.col("doc_id").asc())
    return (
        qdf.join(kids, qdf["parent"] == kids["_pref"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            "qid", "rank", "doc_id",
            F.lit(1.0).cast("double").alias("score_r"),
        )
    )


def search_percentile_ranks_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    values: tuple[float, ...],
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``percentile_ranks`` aggregation — the inverse of
    ``percentiles``: for each probe value, the percentage of matched
    docs whose field is <= that value. Exact CDF (100 * count(v <= x) /
    count(*)); ES approximates with t-digest and interpolates within
    centroids — divergence documented, the exact answer is the one a
    100-TB job should standardize on. One aggregation over the match
    set joined to metadata-sized doc_stats; every probe value is a
    conditional count in the SAME pass (no per-value job).
    → (qid, value, rank_r)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, value double, rank_r double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(value_col).cast("double").alias("_v")
    )
    j = hits.join(stats, "doc_int")
    aggs = [
        F.round(
            100.0
            * F.sum(
                F.when(F.col("_v") <= float(v), 1).otherwise(0)
            )
            / F.count("*"),
            6,
        ).alias(f"_r{i}")
        for i, v in enumerate(values)
    ]
    wide = j.groupBy("qid").agg(*aggs)
    pairs = F.array(*[
        F.struct(
            F.lit(float(v)).alias("value"),
            F.col(f"_r{i}").alias("rank_r"),
        )
        for i, v in enumerate(values)
    ])
    return wide.select(
        "qid", F.explode(pairs).alias("_z")
    ).select("qid", F.col("_z.value").alias("value"),
             F.col("_z.rank_r").alias("rank_r"))


def search_date_range_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    ranges: list[tuple[str, str | None, str | None]],
    value_col: str = "ts",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``date_range`` aggregation: named, possibly-overlapping,
    possibly-unbounded [from, to) buckets over a date doc field —
    unlike a histogram the buckets are explicit and a doc lands in
    EVERY range containing it, so each range is an independent
    conditional count. ``ranges``: (key, from_iso | None, to_iso |
    None), from inclusive / to exclusive, exactly ES's convention.
    All ranges compute in ONE aggregation pass over the match set
    joined to metadata-sized doc_stats (no per-range job, no posting
    re-read). Empty ranges surface with n_docs = 0, as ES keeps keyed
    buckets. → (qid, rkey, n_docs)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame([], "qid long, rkey string, n_docs long")
    stats = store.doc_stats(spark).select(
        "doc_int", F.col(value_col).cast("timestamp").alias("_v")
    )
    j = hits.join(stats, "doc_int")
    aggs = []
    for i, (key, lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("_v") >= F.to_timestamp(F.lit(lo)))
        if hi is not None:
            cond = cond & (F.col("_v") < F.to_timestamp(F.lit(hi)))
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long")
            .alias(f"_n{i}")
        )
    wide = j.groupBy("qid").agg(*aggs)
    buckets = F.array(*[
        F.struct(
            F.lit(key).alias("rkey"), F.col(f"_n{i}").alias("n_docs")
        )
        for i, (key, _, _) in enumerate(ranges)
    ])
    return wide.select("qid", F.explode(buckets).alias("_z")).select(
        "qid", F.col("_z.rkey").alias("rkey"), F.col("_z.n_docs").alias("n_docs")
    )


def search_script_fields(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    scripts: dict[str, str],
    k: int = 10,
    doc_cols: tuple[str, ...] = ("dl",),
    field: str | None = None,
) -> DataFrame:
    """ES ``script_fields``: every top-k hit carries extra DERIVED fields
    computed from user expressions over ``_score`` and per-document
    fields (ES evaluates Painless per hit; the reference ships whole
    docs to the engine, lib/handler.js:100, and users derive display /
    feature fields at query time).

    Same contract as search_script_score: each script is a WHITELISTED
    Spark SQL expression — identifiers must be ``_score``, a ``doc_cols``
    column, or a whitelisted function, validated before planning — that
    compiles into whole-stage codegen, so all scripts together cost one
    projection over the k-sized hit set joined to metadata-sized
    doc_stats (no per-row Python, no posting re-read). Unlike
    script_score the base ranking is untouched: derived fields decorate
    hits, 6-dp rounded. → (qid, rank, doc_id, score_r, <script names>)."""
    import re as _re

    reserved = {"qid", "rank", "doc_id", "score_r", "_score", *doc_cols}
    for name, script in scripts.items():
        if name in reserved:
            raise EngineError(
                f"script field name {name!r} collides with a result or "
                "doc column"
            )
        stripped = _re.sub(r"\b\d+(\.\d+)?([eE][+-]?\d+)?", " ", script)
        idents = set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", stripped))
        allowed = {"_score", *doc_cols, *_SCRIPT_FNS}
        bad = sorted(
            i for i in idents if i.lower() not in allowed and i not in allowed
        )
        if bad:
            raise EngineError(
                f"script field {name!r} references {bad} — allowed: "
                f"_score, doc columns {sorted(doc_cols)}, and functions "
                f"{sorted(_SCRIPT_FNS)}"
            )
    res = search(spark, store, queries, k=k, field=field).withColumnRenamed(
        "score", "_score"
    )
    stats = store.doc_stats(spark).select(
        "doc_id", *[F.col(c).cast("double").alias(c) for c in doc_cols]
    )
    out = res.join(stats, "doc_id")
    for name, script in scripts.items():
        out = out.withColumn(
            name, F.round(F.expr(script).cast("double"), 6)
        )
    # presentation rank over the ROUNDED score (ties broken on doc_id) —
    # the engine-wide determinism discipline, so 6-dp equal scores rank
    # identically everywhere
    w = Window.partitionBy("qid").orderBy(
        F.round("_score", 6).desc(), F.col("doc_id").asc()
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .select(
            "qid", "rank", "doc_id",
            F.round("_score", 6).alias("score_r"),
            *scripts.keys(),
        )
    )


def search_span_multi(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    max_expansions: int | None = 50,
    field: str | None = None,
) -> DataFrame:
    """Lucene ``span_multi``: a multi-term sub-query (prefix) nested
    inside a span clause — "find 'mer*' immediately before 'window'".
    ``queries``: pandas (qid, query) where EXACTLY ONE token carries a
    trailing ``*`` marking the prefix slot; the rest are exact span
    terms.

    Plan = Lucene's own rewrite (SpanMultiTermQueryWrapper →
    SpanOrQuery): ONE broadcast dictionary scan expands every query's
    prefix against term_stats (JVM-capped, term-ascending,
    ``max_expansions`` — never an uncapped collect), each expansion
    instantiates the exact span with the prefix slot substituted, and
    all instantiated spans ride the span_or composite-qid pipeline
    (qid × stride + clause) through ONE positional verification pass —
    two posting reads total regardless of expansion count. A doc scores
    the SUM of its matching instantiated spans' phrase scores, exactly
    search_span_or's discipline. → standard (qid, rank, doc_id, score)."""
    fp, _ = _field_of(store, field)
    pats, parts = [], {}
    for qid, q in zip(queries["qid"], queries["query"]):
        raw = str(q).split()
        stars = [i for i, t in enumerate(raw) if t.endswith("*")]
        if len(stars) != 1:
            raise EngineError(
                "span_multi needs exactly one '*'-marked token per query"
            )
        toks = analysis.tokenize_series(
            pd.Series([" ".join(t.rstrip("*") for t in raw)])
        )[0]
        if len(toks) != len(raw):
            raise EngineError(
                "span_multi tokens must analyze one-to-one (no "
                "multi-token or dropped words in the span)"
            )
        pfx = toks[stars[0]]
        if not pfx:
            raise EngineError(
                "empty span_multi prefix would expand to the entire "
                "dictionary"
            )
        pats.append((int(qid), fp + pfx))
        parts[int(qid)] = (toks, stars[0])
    exp = _expand_startswith(
        spark, store,
        pd.DataFrame(pats, columns=["qid", "prefix"]).drop_duplicates(),
        max_expansions,
    )
    if exp.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    rows = []
    for qid, g in exp.groupby("qid"):
        toks, slot = parts[int(qid)]
        for i, term in enumerate(sorted(g["term"])):
            inst = list(toks)
            inst[slot] = term[len(fp):]
            rows.append((int(qid), i, " ".join(inst)))
    if max(i for _, i, _ in rows) >= _DISMAX_CLAUSE_STRIDE:
        raise EngineError("too many span_multi expansions per qid")
    comp = pd.DataFrame(
        {
            "qid": [q * _DISMAX_CLAUSE_STRIDE + i for q, i, _ in rows],
            "query": [s for _, _, s in rows],
        }
    )
    scored = _phrase_scores(spark, store, comp, field)
    if scored is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    agg = (
        scored.withColumn(
            "qid",
            F.floor(F.col("qid") / _DISMAX_CLAUSE_STRIDE).cast("long"),
        )
        .groupBy("qid", "doc_int")
        .agg(F.sum("score").alias("score"))
    )
    agg = _drop_dead(spark, store, agg)
    return _present(spark, store, _cut_topk(agg, k), k)


def search_script_query(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    predicate: str,
    k: int = 10,
    doc_cols: tuple[str, ...] = ("dl",),
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``script`` query (filter context): keep only the matched docs
    for which a user PREDICATE over per-document fields is true —
    "match 'spark merge' where dl % 2 = 0". Filter context exactly:
    constant score 1.0, doc_id rank (the engine's unscored
    presentation), like ES wrapping the script in a bool filter.

    The predicate follows the script_score contract: a WHITELISTED
    Spark SQL boolean expression over ``doc_cols`` (no ``_score`` —
    filter context has none), validated before planning, compiled into
    whole-stage codegen over the match set joined to metadata-sized
    doc_stats. ES evaluates Painless per doc; this is one codegen'd
    filter. → (qid, rank, doc_id, score_r)."""
    import re as _re

    stripped = _re.sub(r"\b\d+(\.\d+)?([eE][+-]?\d+)?", " ", predicate)
    idents = set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", stripped))
    allowed = {*doc_cols, *_SCRIPT_FNS}
    bad = sorted(
        i for i in idents if i.lower() not in allowed and i not in allowed
    )
    if bad:
        raise EngineError(
            f"script query references {bad} — allowed: doc columns "
            f"{sorted(doc_cols)} and functions {sorted(_SCRIPT_FNS)}"
        )
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id",
        *[F.col(c).cast("double").alias(c) for c in doc_cols],
    )
    w = Window.partitionBy("qid").orderBy(F.col("doc_id").asc())
    return (
        hits.join(stats, "doc_int")
        .filter(F.expr(predicate).cast("boolean"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("qid", "rank", "doc_id",
                F.lit(1.0).cast("double").alias("score"))
    )


def search_matched_queries(
    spark: SparkSession,
    store: IndexStore,
    clauses: pd.DataFrame,
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """ES named queries / ``matched_queries``: a bool of NAMED should
    clauses where every hit reports WHICH clauses matched it —
    the relevance-debugging surface ES exposes via ``_name``.
    ``clauses``: pandas (qid, name, clause) — each clause an OR match;
    a doc's score is the summed BM25 of every matched clause's terms
    (bool should semantics) and its ``matched`` column lists the names
    of the clauses with ≥1 matching term, sorted and comma-joined
    (deterministic presentation).

    One fused pipeline: clauses pack into composite qids (qid × stride
    + clause — the dis_max discipline), ride ONE term-stats read and
    ONE pruned posting read; the decompose re-aggregation computes the
    score sum and collects the matched names in the SAME groupBy. →
    (qid, rank, doc_id, score, matched)."""
    cl = clauses.copy()
    names = {}
    rows = []
    for qid, g in cl.groupby("qid"):
        for i, (_, r) in enumerate(g.iterrows()):
            if i >= _DISMAX_CLAUSE_STRIDE:
                raise EngineError("too many named clauses per qid")
            names[(int(qid), i)] = str(r["name"])
            rows.append(
                (int(qid) * _DISMAX_CLAUSE_STRIDE + i, str(r["clause"]))
            )
    comp = pd.DataFrame(rows, columns=["qid", "query"])
    prefix, avgdl = _field_of(store, field)
    qt, _ = _weighted_terms(spark, store, _query_terms(comp, prefix))
    if qt.empty:
        return spark.createDataFrame(
            [], RESULT_SCHEMA + ", matched string"
        )
    joined = _matched_blocks(spark, store, qt)
    cand = _score_exhaustive(joined, avgdl)
    name_rows = [
        (q * _DISMAX_CLAUSE_STRIDE + i, nm)
        for (q, i), nm in names.items()
    ]
    ndf = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(name_rows, columns=["qid", "_name"])
        )
    )
    per_clause = (
        cand.groupBy("qid", "doc_int")
        .agg(F.sum("score").alias("score"))
        .join(ndf, "qid")
        .withColumn(
            "qid",
            F.floor(F.col("qid") / _DISMAX_CLAUSE_STRIDE).cast("long"),
        )
    )
    agg = (
        per_clause.groupBy("qid", "doc_int")
        .agg(
            F.sum("score").alias("score"),
            F.array_join(F.array_sort(F.collect_set("_name")), ",")
            .alias("matched"),
        )
    )
    agg = _drop_dead(spark, store, agg)
    cut = _cut_topk(agg.select("qid", "doc_int", "score", "matched"), k)
    ids = store.doc_stats(spark).select("doc_int", "doc_id")
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        cut.join(ids, "doc_int")
        .withColumn("rank", F.row_number().over(w))
        .select("qid", "rank", "doc_id", "score", "matched")
    )


def multi_match_phrase(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    fields: dict[str, float] | list[str],
    k: int = 10,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """ES ``multi_match`` with ``type: phrase``: run the query as a
    PHRASE against every listed field and combine per doc with
    best_fields (max + tie_breaker × rest — the dis_max ES builds for
    this type). Fields may carry boosts like :func:`multi_match`.

    One positional verification pass per field (terms are
    field-qualified, so each pass prunes to that field's postings —
    the total posting volume across passes equals ONE pass over the
    union, the per-field split only adds a bounded number of job
    submissions, never a re-read of another field's blocks); the
    combine is a single full-outer aggregation like multi_match."""
    if isinstance(fields, dict):
        fmap = {str(f): float(b) for f, b in fields.items()}
    else:
        fmap = {str(f): 1.0 for f in fields}
    if not fmap:
        raise EngineError("multi_match_phrase needs at least one field")
    per_field = []
    for f, boost in sorted(fmap.items()):
        scored = _phrase_scores(spark, store, queries, f)
        if scored is None:
            continue
        per_field.append(
            scored.withColumn("score", F.col("score") * F.lit(boost))
        )
    if not per_field:
        return spark.createDataFrame([], RESULT_SCHEMA)
    u = per_field[0]
    for p in per_field[1:]:
        u = u.unionByName(p)
    agg = (
        u.groupBy("qid", "doc_int")
        .agg(
            (
                F.max("score")
                + F.lit(float(tie_breaker))
                * (F.sum("score") - F.max("score"))
            ).alias("score")
        )
    )
    agg = _drop_dead(spark, store, agg)
    return _present(spark, store, _cut_topk(agg, k), k)


def search_min_score(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    min_score: float,
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """ES ``min_score``: drop hits whose relevance falls below an
    absolute floor BEFORE the top-k cut — the "only good matches"
    search shape. The floor compares against the 6-dp-rounded score
    (the engine's presentation precision, so the boundary is
    deterministic across dialects and replicable by the oracle; ES
    compares the raw float). One OR-BM25 aggregate, a codegen'd filter,
    then the standard cut/present — the filter prunes candidates before
    the rank window, not after. → (qid, rank, doc_id, score)."""
    agg = _scored_or_match(spark, store, queries, field)
    if agg is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    agg = agg.filter(
        F.round(F.col("score"), 6) >= F.lit(float(min_score))
    )
    return _present(spark, store, _cut_topk(agg, k), k)


def suggest_completions_ctx(
    spark: SparkSession,
    store: IndexStore,
    prefixes: pd.DataFrame,
    context_col: str,
    k: int = 5,
    max_expansions: int | None = 200,
    field: str | None = None,
) -> DataFrame:
    """ES ``completion`` suggester WITH contexts: complete each prefix
    but rank by popularity WITHIN the query's context category —
    ``prefixes``: pandas (qid, prefix, context); a suggestion counts
    only the docs whose ``context_col`` equals the row's context (ES
    category contexts filter suggestions the same way). Suggestions
    with zero in-context docs drop out.

    Plan: one metadata-sized dictionary scan expands every prefix
    (JVM-capped, term-ascending — the multi-term discipline); each
    expansion rides a composite qid through ONE pruned posting read;
    the in-context df is a count over the decoded doc sets joined to
    the metadata-sized doc_stats context column — postings outside the
    expansion set are never read. → (qid, rank, suggestion, df_ctx)."""
    fp, _ = _field_of(store, field)
    pr = prefixes.copy()
    pr["prefix"] = pr["prefix"].astype(str).str.lower()
    if (pr["prefix"].str.len() == 0).any():
        raise EngineError("empty completion prefix")
    if pr["qid"].duplicated().any():
        raise EngineError(
            "one (prefix, context) per qid (ranks are per input)"
        )
    ctx_by_qid = {
        int(q): str(c) for q, c in zip(pr["qid"], pr["context"])
    }
    pr["prefix"] = fp + pr["prefix"]
    exp = _expand_startswith(
        spark, store, pr[["qid", "prefix"]], max_expansions
    )
    if exp.empty:
        return spark.createDataFrame(
            [], "qid long, rank int, suggestion string, df_ctx long"
        )
    rows, names = [], {}
    for qid, g in exp.groupby("qid"):
        for i, r in enumerate(g.sort_values("term").itertuples()):
            if i >= _DISMAX_CLAUSE_STRIDE:
                raise EngineError("too many completion expansions")
            comp_qid = int(qid) * _DISMAX_CLAUSE_STRIDE + i
            names[comp_qid] = (int(qid), r.term)
            row = {"qid": comp_qid, "term": r.term, "df": r.df,
                   "qtf": 1, "w": 1.0}
            if "bucket" in exp.columns:
                row["bucket"] = r.bucket
            rows.append(row)
    qt = pd.DataFrame(rows)
    joined = _matched_blocks(spark, store, qt)
    cand = _score_exhaustive(joined, 1.0)
    cand = _drop_dead(spark, store, cand)
    ctx = store.doc_stats(spark).select(
        "doc_int", F.col(context_col).cast("string").alias("_ctx")
    )
    want = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                [(cq, ctx_by_qid[q]) for cq, (q, _) in names.items()],
                columns=["qid", "_want"],
            )
        )
    )
    name_df = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                [
                    (cq, q, t[len(fp):] if fp else t)
                    for cq, (q, t) in names.items()
                ],
                columns=["qid", "_q", "suggestion"],
            )
        )
    )
    counted = (
        cand.join(ctx, "doc_int")
        .join(want, "qid")
        .filter(F.col("_ctx") == F.col("_want"))
        .groupBy("qid")
        .agg(F.count_distinct("doc_int").alias("df_ctx"))
        .join(name_df, "qid")
    )
    w = Window.partitionBy("_q").orderBy(
        F.col("df_ctx").desc(), F.col("suggestion").asc()
    )
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            F.col("_q").alias("qid"), "rank", "suggestion", "df_ctx"
        )
    )


def search_has_child_inner_hits(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    inner_size: int = 3,
    field: str | None = None,
) -> DataFrame:
    """ES ``has_child`` WITH ``inner_hits``: parents ranked by their
    best-matching child (score_mode max), each parent row EXPLODED with
    its top-``inner_size`` matching children — the "show me the thread
    and its best replies" shape ES serves with one request. One
    scored-match pass over the child query; the parent fold (max) and
    both rank windows (children within parent, parents within query)
    run on the same k-bounded aggregate — no second posting read.
    Ranks use 6-dp-rounded scores with doc_id tiebreaks (presentation
    discipline). → (qid, rank, doc_id, score_r, child_rank,
    child_doc_id, child_score_r); doc_id is the parent."""
    matched = _scored_or_match(spark, store, queries, field)
    if matched is None:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id string, score_r double, "
                "child_rank int, child_doc_id string, "
                "child_score_r double"
        )
    kids = matched.join(
        store.doc_stats(spark)
        .filter(F.col("parent").isNotNull())
        .select("doc_int", "doc_id", "parent"),
        "doc_int",
    ).select(
        "qid", F.col("parent").alias("_parent"),
        F.col("doc_id").alias("child_doc_id"),
        F.round("score", 6).alias("child_score_r"),
    )
    # the parent must itself be a live doc in the store
    pstats = store.doc_stats(spark).select(
        F.col("doc_id").alias("_parent"), "doc_int"
    )
    kids = _drop_dead(spark, store, kids.join(pstats, "_parent"))
    w_child = Window.partitionBy("qid", "_parent").orderBy(
        F.col("child_score_r").desc(), F.col("child_doc_id").asc()
    )
    w_parent = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("_parent").asc()
    )
    return (
        kids.withColumn("child_rank", F.row_number().over(w_child))
        .withColumn(
            "score_r",
            F.max("child_score_r").over(
                Window.partitionBy("qid", "_parent")
            ),
        )
        .filter(F.col("child_rank") <= int(inner_size))
        .withColumn("rank", F.dense_rank().over(w_parent))
        .filter(F.col("rank") <= int(k))
        .select(
            "qid", "rank", F.col("_parent").alias("doc_id"), "score_r",
            "child_rank", "child_doc_id", "child_score_r",
        )
    )


def search_moving_percentiles(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    window: int,
    pct: float = 0.5,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``moving_percentiles`` pipeline agg: a sliding percentile of
    the histogram's bucket doc counts over the ``window`` buckets
    BEFORE each bucket (shift=0, current bucket excluded — the
    moving_fn frame discipline; the first bucket gets null). Exact
    interpolated percentile (ES feeds a t-digest through the window;
    the exact answer is the standardizable one — same divergence note
    as percentiles). One window expression over bucket-cardinality
    rows, nothing corpus-sized. → histogram columns + moving_pct_r."""
    if window < 1:
        raise EngineError("moving_percentiles window must be >= 1")
    if not 0.0 <= pct <= 1.0:
        raise EngineError("pct must be in [0, 1]")
    base = search_histogram(
        spark, store, queries, interval, value_col, mode, field
    )
    w = (
        Window.partitionBy("qid")
        .orderBy(F.col("bucket").asc())
        .rowsBetween(-int(window), -1)
    )
    return base.withColumn(
        "moving_pct_r",
        F.round(
            F.expr(
                f"percentile(CAST(n_docs AS DOUBLE), {float(pct)!r})"
            ).over(w),
            6,
        ),
    )


def search_bucket_correlation(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``bucket_correlation`` (x-pack): Pearson correlation between
    the query match set's per-bucket doc counts and the WHOLE corpus's
    counts over the same bucket axis — "does this query's activity
    follow the background distribution?". The background histogram is
    an indicator-function count over metadata-sized doc_stats (no
    second posting read); buckets align on the shared axis with
    match-set zeros filled in (ES passes an explicit indicator vector;
    the background axis is the natural one here). Sample correlation
    (corr), 6-dp. → (qid, n_buckets, corr_r)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, n_buckets long, corr_r double"
        )
    stats = store.doc_stats(spark).select(
        "doc_int",
        (F.floor(F.col(value_col).cast("double") / F.lit(float(interval)))
         * F.lit(float(interval))).alias("bucket"),
    )
    bg = _drop_dead(spark, store, stats).groupBy("bucket").agg(
        F.count("*").alias("bg_n")
    )
    fg = (
        hits.join(stats, "doc_int")
        .groupBy("qid", "bucket")
        .agg(F.count("*").alias("fg_n"))
    )
    qids = fg.select("qid").distinct()
    axis = qids.crossJoin(F.broadcast(bg))
    joined = axis.join(fg, ["qid", "bucket"], "left").fillna(
        0, subset=["fg_n"]
    )
    return (
        joined.groupBy("qid")
        .agg(
            F.count("*").alias("n_buckets"),
            F.round(
                F.corr(
                    F.col("fg_n").cast("double"),
                    F.col("bg_n").cast("double"),
                ),
                6,
            ).alias("corr_r"),
        )
    )


def search_composite_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    group_col: str,
    interval: float,
    value_col: str = "dl",
    size: int | None = None,
    after: tuple[str, float] | None = None,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``composite`` aggregation with TWO sources — a ``terms``
    source on a doc field and a ``histogram`` source on a numeric
    field: buckets are the observed (group, bucket) PAIRS, ordered by
    the composite key ascending, paged with an ``after`` cursor that
    resumes STRICTLY AFTER the given (group, bucket) pair (tuple
    keyset order — the same cursor discipline as the single-source
    composite in search_terms_agg). One match-set pass, one
    metadata join, ONE hash aggregation; the after filter prunes
    before the shuffle. → (qid, group, bucket, n_docs)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, group string, bucket double, n_docs long"
        )
    stats = store.doc_stats(spark).select(
        "doc_int",
        F.col(group_col).cast("string").alias("group"),
        (F.floor(F.col(value_col).cast("double") / F.lit(float(interval)))
         * F.lit(float(interval))).alias("bucket"),
    )
    j = hits.join(stats, "doc_int")
    if after is not None:
        g0, b0 = str(after[0]), float(after[1])
        j = j.filter(
            (F.col("group") > F.lit(g0))
            | ((F.col("group") == F.lit(g0))
               & (F.col("bucket") > F.lit(b0)))
        )
    out = j.groupBy("qid", "group", "bucket").agg(
        F.count("*").alias("n_docs")
    )
    if size is not None:
        if size < 1:
            raise EngineError("composite agg size must be >= 1")
        w = Window.partitionBy("qid").orderBy(
            F.col("group").asc(), F.col("bucket").asc()
        )
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(size))
            .drop("_rn")
        )
    return out


def search_extended_stats_bucket(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    interval: float,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
    sigma: float = 2.0,
) -> DataFrame:
    """ES SIBLING pipeline aggregation ``extended_stats_bucket``: the
    extended statistics (sum of squares, POPULATION variance / std dev,
    ±sigma std-deviation bounds — ES defaults) computed over a
    histogram's per-bucket doc counts. Like :func:`search_stats_bucket`,
    the second hop aggregates bucket-cardinality rows, so its cost is
    the histogram's; variance comes from ONE hash aggregation via
    ``var_pop`` (no second pass over buckets)."""
    base = search_histogram(
        spark, store, queries, interval, value_col, mode, field
    )
    s = float(sigma)
    return base.groupBy("qid").agg(
        F.count("*").alias("n_buckets"),
        F.min("n_docs").cast("long").alias("min_bucket"),
        F.max("n_docs").cast("long").alias("max_bucket"),
        F.round(F.avg("n_docs"), 6).alias("avg_bucket_r"),
        F.sum("n_docs").cast("long").alias("sum_bucket"),
        F.sum(F.col("n_docs") * F.col("n_docs"))
        .cast("long").alias("sum_sq_bucket"),
        F.round(F.var_pop("n_docs"), 6).alias("variance_r"),
        F.round(F.stddev_pop("n_docs"), 6).alias("std_dev_r"),
        F.round(F.avg("n_docs") + s * F.stddev_pop("n_docs"), 6)
        .alias("std_upper_r"),
        F.round(F.avg("n_docs") - s * F.stddev_pop("n_docs"), 6)
        .alias("std_lower_r"),
    )


def search_variable_width_histogram(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    n_buckets: int,
    value_col: str = "dl",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``variable_width_histogram``: cluster a numeric doc field of
    the match set into at most ``n_buckets`` variable-width buckets,
    reporting each bucket's min / max / centroid (avg) and doc count.

    Pinned deterministic semantics (documented divergence): ES clusters
    with an order-sensitive one-pass nearest-centroid heuristic whose
    buckets depend on shard iteration order — unreproducible across
    engines BY DESIGN. We pin the equal-frequency variant instead:
    ``ntile(n_buckets)`` over the match set ordered by (value, doc_id),
    which is deterministic, dialect-portable (DuckDB ntile), and keeps
    ES's contract that buckets are value-contiguous, at most n_buckets,
    and jointly cover the match set. Plan: one pruned posting read, one
    metadata join, one per-qid window (ntile) + ONE hash aggregation —
    the window sorts per qid, which is query-result-sized, not
    corpus-sized."""
    if n_buckets < 1:
        raise EngineError("variable_width_histogram needs n_buckets >= 1")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, bucket int, n_docs long, min_v double, "
            "max_v double, avg_v_r double",
        )
    stats = store.doc_stats(spark).select(
        "doc_int", "doc_id", F.col(value_col).cast("double").alias("_v")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("_v").asc(), F.col("doc_id").asc()
    )
    return (
        hits.join(stats, "doc_int")
        .withColumn("bucket", F.ntile(int(n_buckets)).over(w))
        .groupBy("qid", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("_v").alias("min_v"),
            F.max("_v").alias("max_v"),
            F.round(F.avg("_v"), 6).alias("avg_v_r"),
        )
    )


def search_categorize_text(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    max_tokens: int = 4,
    size: int = 5,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``categorize_text`` aggregation: group the match set's
    documents into log-pattern categories and return the top ``size``
    categories per query by doc count.

    Category key (pinned deterministic variant of ES's ML-tokenized
    drain-tree): the first ``max_tokens`` analyzer tokens that contain
    NO digit (ES likewise drops numeric tokens as variable parts of a
    log pattern), joined with single spaces. Docs whose digit-free
    token list is empty fall into the '' category. Plan: the match set
    (one pruned posting read) joins doc_id metadata then the corpus —
    only matched docs are retokenized, with pure built-in array
    expressions (filter / slice / array_join, all codegen); one hash
    aggregation + a per-qid top-``size`` window on category counts.
    Returns (qid, rank, category, n_docs, example_doc_id)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, rank int, category string, n_docs long, "
            "example_doc_id string",
        )
    toks = analysis.spark_tokens_expr(text_col)
    cat = (
        f"array_join(slice(filter({toks}, "
        f"t -> NOT t rlike '[0-9]'), 1, {int(max_tokens)}), ' ')"
    )
    docs = corpus.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.expr(cat).alias("category"),
    )
    ids = store.doc_stats(spark).select("doc_int", "doc_id")
    counts = (
        hits.join(ids, "doc_int")
        .join(docs, "doc_id")
        .groupBy("qid", "category")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("example_doc_id"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("n_docs").desc(), F.col("category").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(size))
        .select("qid", "rank", "category", "n_docs", "example_doc_id")
    )


def search_sparse_vector(
    spark: SparkSession,
    store: IndexStore,
    query_vectors: pd.DataFrame,
    k: int,
    field: str | None = None,
) -> DataFrame:
    """ES ``sparse_vector`` / ``text_expansion`` query (ELSER-style
    learned sparse retrieval): the query arrives as a sparse term→weight
    vector — the output of a sparse encoder, already in index vocabulary
    space, so NO analyzer runs — and each document's sparse vector is
    derived from the index itself with the saturated impact
    ``w_d(t) = ln(1 + tf(t, d))`` (the same shape Lucene's FeatureField
    stores for learned-sparse fields). Score = Σ over overlapping terms
    of ``q_w(t) · ln(1 + tf)``; docs sharing no term with the query
    vector don't score, exactly like ES.

    ``query_vectors``: pd.DataFrame (qid, term, w) — one row per nonzero
    query dimension.

    Plan: same skeleton as the BM25 exhaustive path — the weight table is
    broadcast into a bucket-pruned posting-block read (only the blocks of
    the query's nonzero terms are ever decoded), the dot product
    accumulates in ONE hash aggregation, dead docs anti-join off, top-k
    cuts with rank(). No length norm ⇒ no avgdl dependence ⇒ the score
    is a pure posting-local product, trivially shard-invariant.
    → (qid, doc_id, score)."""
    if k < 1:
        raise EngineError("sparse_vector needs k >= 1")
    qt = query_vectors.copy()
    if not {"qid", "term", "w"}.issubset(qt.columns):
        raise EngineError("query_vectors needs (qid, term, w) columns")
    prefix, _ = _field_of(store, field)
    if prefix:
        qt["term"] = prefix + qt["term"]
    qt, _ = _term_table(spark, store, qt)
    if qt.empty:
        return spark.createDataFrame(
            [], "qid long, doc_id string, score double"
        )
    joined = _matched_blocks(spark, store, qt)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # batch-level decode (guide §4.2) — same shape as
        # _score_exhaustive; dl payloads never cross the boundary (the
        # sparse dot product has no length norm)
        for pdf in batches:
            if not len(pdf):
                continue
            counts = pdf["n_docs"].to_numpy(np.int64)
            ids, tfs, _ = codec.decode_blocks(pdf)
            yield pd.DataFrame(
                {"qid": np.repeat(pdf["qid"].to_numpy(np.int64), counts),
                 "doc_int": ids,
                 "score": np.repeat(pdf["w"].to_numpy(np.float64), counts)
                 * np.log1p(tfs)}
            )

    cand = joined.select(
        "qid", "w", "n_docs", "doc_first", "doc_bytes", "tf_bytes"
    ).mapInPandas(run, schema=_SCORES_SCHEMA)
    agg = cand.groupBy("qid", "doc_int").agg(
        F.sum("score").alias("score"), F.count("*").alias("nt")
    )
    agg = _drop_dead(spark, store, agg)
    ids = store.doc_stats(spark).select("doc_int", "doc_id")
    return _cut_topk(agg, k).join(ids, "doc_int").select(
        "qid", "doc_id", "score"
    )


def _ip4_to_int(s: str) -> int:
    parts = [int(p) for p in s.split(".")]
    if len(parts) != 4 or any(not 0 <= p <= 255 for p in parts):
        raise EngineError(f"bad IPv4 literal: {s!r}")
    return (parts[0] << 24) | (parts[1] << 16) | (parts[2] << 8) | parts[3]


def _ip_to_hex(s: str) -> str:
    """Any IPv4/IPv6 literal → its 32-hex-digit IPv6 address, IPv4
    mapped into ``::ffff:a.b.c.d`` (the ES ip type's internal form), so
    ONE lexicographic compare orders the whole dual-stack space.
    Driver-side only (range bounds / prefixes — query-sized)."""
    import ipaddress

    try:
        a = ipaddress.ip_address(s)
    except ValueError as e:
        raise EngineError(f"bad IP literal: {s!r}") from e
    if a.version == 4:
        return format(0xFFFF00000000 | int(a), "032x")
    return format(int(a), "032x")


def ip_norm_sql(col_sql: str) -> str:
    """Portable Spark-SQL expression normalizing an IP doc column —
    dotted-quad IPv4 or colon-hex IPv6 (``::`` compression supported) —
    to the 32-hex-digit form of :func:`_ip_to_hex`. Pure codegen
    (split / transform / lpad / conv), no UDF, so the scan path stays
    JVM-side at corpus scale. Mixed v4-in-v6 literals
    (``::ffff:1.2.3.4``) are out of scope (write the hex groups)."""
    s = f"lower(trim({col_sql}))"
    oct_ = [f"split({s}, '\\\\.')[{i}]" for i in range(4)]
    v4 = (
        "concat('00000000000000000000ffff', "
        + ", ".join(f"lpad(lower(conv({o}, 10, 16)), 2, '0')" for o in oct_)
        + ")"
    )
    lg = f"filter(split(substring_index({s}, '::', 1), ':'), x -> x != '')"
    rg = f"filter(split(substring_index({s}, '::', -1), ':'), x -> x != '')"
    expanded = (
        f"concat({lg}, array_repeat('0', 8 - size({lg}) - size({rg})), {rg})"
    )
    groups = (
        f"CASE WHEN {s} LIKE '%::%' THEN {expanded} "
        f"ELSE split({s}, ':') END"
    )
    return (
        f"CASE WHEN {s} NOT LIKE '%:%' THEN {v4} "
        f"ELSE array_join(transform({groups}, g -> lpad(g, 4, '0')), '') "
        f"END"
    )


def search_ip_range_agg(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    ranges: list[tuple[str, str | None, str | None]],
    value_col: str = "ip",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``ip_range`` aggregation, dual-stack: bucket the match set by
    an IPv4/IPv6 doc field against [from, to) ranges — ``from``
    inclusive, ``to`` exclusive, either side open when None, overlapping
    ranges allowed (a doc counts in every range containing it), empty
    buckets kept at zero — all exactly ES's contract.

    ``ranges``: [(key, from_ip|None, to_ip|None)] with dotted-quad or
    colon-hex literals (mixable — the ES ip type maps IPv4 into
    ``::ffff:0:0/96``, so v4 ranges never capture native-v6 docs and
    vice versa). Doc values and bounds both normalize to 32-hex-digit
    IPv6 (:func:`ip_norm_sql` — codegen, no UDF), and one lexicographic
    string compare orders the whole space; the range table is tiny and
    broadcast, so the bucket join adds no shuffle beyond the single
    hash aggregation every agg in this family pays. → (qid, range_key,
    n_docs) with a zero row per (qid, range) that matched nothing."""
    if not ranges:
        raise EngineError("ip_range needs at least one range")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, range_key string, n_docs long"
        )
    bounds = pd.DataFrame(
        [
            {
                "range_key": key,
                "lo": "" if lo is None else _ip_to_hex(lo),
                "hi": "g" if hi is None else _ip_to_hex(hi),
            }
            for key, lo, hi in ranges
        ]
    )
    rng = F.broadcast(spark.createDataFrame(bounds))
    stats = store.doc_stats(spark).select(
        "doc_int", F.expr(ip_norm_sql(f"`{value_col}`")).alias("_ip")
    )
    counted = (
        hits.join(stats, "doc_int")
        .join(
            rng,
            (F.col("_ip") >= F.col("lo")) & (F.col("_ip") < F.col("hi")),
        )
        .groupBy("qid", "range_key")
        .agg(F.count("*").alias("n_docs"))
    )
    qids = spark.createDataFrame(
        pd.DataFrame({"qid": sorted(set(queries["qid"].astype(int)))})
    )
    base = qids.crossJoin(rng.select("range_key"))
    return (
        base.join(counted, ["qid", "range_key"], "left")
        .select(
            "qid",
            "range_key",
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long")
            .alias("n_docs"),
        )
    )


def search_ip_prefix(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    prefix_length: int,
    value_col: str = "ip",
    mode: str = "or",
    field: str | None = None,
    min_doc_count: int = 1,
    is_ipv6: bool = False,
) -> DataFrame:
    """ES ``ip_prefix`` aggregation, dual-stack: bucket the match set by
    the network prefix of an IP doc field at ``prefix_length`` bits;
    empty buckets omitted, ``min_doc_count`` filters small buckets —
    ES's contract for the keyed-off default, including its ``is_ipv6``
    parameter: v4 mode (default) buckets dotted-quad values at 1..32
    bits with dotted-quad network keys; v6 mode buckets colon-hex
    values at 1..128 bits, keyed by the network address rendered as all
    8 groups with per-group leading zeros stripped (ES compresses the
    longest zero run to ``::`` — documented divergence; group values
    are identical).

    Same plan as the whole grid-agg family: match set → one metadata
    join → ONE hash aggregation on the bucket key; the mask is
    non-negative integer/nibble arithmetic (floor-div/mult + hex conv
    — portable SQL), fully codegen, no UDF. → (qid, prefix, n_docs)."""
    if min_doc_count < 0:
        raise EngineError("ip_prefix: min_doc_count must be >= 0")
    if is_ipv6:
        if not 1 <= int(prefix_length) <= 128:
            raise EngineError(
                "ip_prefix: ipv6 prefix_length must be in 1..128"
            )
    elif not 1 <= int(prefix_length) <= 32:
        raise EngineError("ip_prefix: prefix_length must be in 1..32")
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, prefix string, n_docs long"
        )
    if is_ipv6:
        plen = int(prefix_length)
        full, rem = plen // 4, plen % 4
        hx = ip_norm_sql(f"`{value_col}`")
        parts = [f"substring({hx}, 1, {full})"]
        if rem:
            m = 1 << (4 - rem)
            nib = f"CAST(conv(substring({hx}, {full + 1}, 1), 16, 10) AS INT)"
            parts.append(
                f"lower(conv(CAST(floor({nib} / {m}) * {m} AS STRING), "
                f"10, 16))"
            )
        pad = 32 - full - (1 if rem else 0)
        if pad:
            parts.append(f"repeat('0', {pad})")
        net_hex = "concat(" + ", ".join(parts) + ")"
        grp = ", ".join(
            f"lower(conv(substring({net_hex}, {1 + 4 * i}, 4), 16, 16))"
            for i in range(8)
        )
        prefix = F.expr(f"concat_ws(':', {grp})")
    else:
        shift = 1 << (32 - int(prefix_length))
        o = F.split(F.col(value_col).cast("string"), r"\.")
        ip_int = (
            o.getItem(0).cast("long") * 16777216
            + o.getItem(1).cast("long") * 65536
            + o.getItem(2).cast("long") * 256
            + o.getItem(3).cast("long")
        )
        net = F.floor(ip_int / shift) * shift
        prefix = F.concat_ws(
            ".",
            F.floor(net / 16777216).cast("long") % 256,
            F.floor(net / 65536).cast("long") % 256,
            F.floor(net / 256).cast("long") % 256,
            net.cast("long") % 256,
        )
    stats = store.doc_stats(spark).select(
        "doc_int", prefix.alias("prefix")
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid", "prefix")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= int(min_doc_count))
    )


def search_frequent_item_sets(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    min_support: int,
    size: int = 10,
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``frequent_item_sets`` aggregation, size-2 itemsets: the top
    co-occurring TERM PAIRS of the match set's documents with support ≥
    ``min_support`` (support = number of matched docs containing both
    terms). ES mines arbitrary-size sets over keyword fields with an
    Eclat-style miner; the engine pins the pair case over the indexed
    terms — the overwhelmingly common use — and documents the
    divergence.

    Apriori prune + index-native items: a pair can reach support s only
    if BOTH items have corpus df ≥ s, so the candidate item set is the
    ``term_stats`` rows with df ≥ min_support — kept as a DISTRIBUTED
    frame and semi-joined into the posting scan (never materialized on
    the driver: at 100 TB with a proportionally low min_support the
    frequent-term dictionary is millions of rows — VERDICT r4 finding
    2). The (doc, item) relation comes from the INDEX's own posting
    blocks for those terms — no corpus text is touched. The pair
    self-join is per-(qid, doc); its width is bounded by the
    frequent-item count per doc, which min_support controls.
    → (qid, rank, item1, item2, support)."""
    if min_support < 1:
        raise EngineError("frequent_item_sets needs min_support >= 1")
    if size < 1:
        raise EngineError("frequent_item_sets needs size >= 1")
    prefix, _ = _field_of(store, field)
    ts = store.term_stats(spark).filter(F.col("df") >= int(min_support))
    if prefix:
        ts = ts.filter(F.col("term").startswith(prefix))
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [],
            "qid long, rank int, item1 string, item2 string, "
            "support long",
        )
    blocks = store.postings(spark).join(
        ts.select("term"), "term", "left_semi"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # batch-level decode: codec.decode_blocks over the whole Arrow
        # batch's doc_bytes only (tf/dl payloads never cross
        # the Python boundary). Identical ids per block.
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {"term": np.repeat(
                    pdf["term"].to_numpy(object),
                    pdf["n_docs"].to_numpy(np.int64),
                ),
                 "doc_int": codec.decode_blocks(pdf)[0]}
            )

    items = blocks.select(
        "term", "n_docs", "doc_first", "doc_bytes"
    ).mapInPandas(run, schema="term string, doc_int long")
    if prefix:
        items = items.select(
            F.expr(f"substring(term, {len(prefix) + 1})").alias("term"),
            "doc_int",
        )
    # materialize once: both self-join sides otherwise re-run the whole
    # posting-block decode + hits join (no exchange reuse across the
    # differently-keyed sides). Narrow (qid, doc_int, term) rows.
    qdocs = (
        hits.join(items, "doc_int")
        .select("qid", "doc_int", "term")
        .localCheckpoint(eager=True)
    )
    a = qdocs.alias("a")
    b = qdocs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.qid") == F.col("b.qid"))
            & (F.col("a.doc_int") == F.col("b.doc_int"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.qid").alias("qid"),
            F.col("a.term").alias("item1"),
            F.col("b.term").alias("item2"),
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= int(min_support))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("support").desc(), F.col("item1").asc(), F.col("item2").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(size))
        .select("qid", "rank", "item1", "item2", "support")
    )


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_exprs(
    lat_sql: str, lon_sql: str, precision: int
) -> tuple[str, str, str, str]:
    """TRUE base32 geohash of (lat, lon) as four staged, portable SQL
    expressions — identical text runs in Spark SQL and DuckDB
    (floor/pow/substr arithmetic only, no dialect bit operators), so
    the DuckDB oracle reproduces bucket keys bit-for-bit.

    Returns (lat_q, lon_q, cell, b32): quantizers over the raw point,
    ``cell`` over columns ``_latq``/``_lonq``, ``b32`` over ``_cell`` —
    stage them through projections (Spark) or nested SELECTs (SQL).

    Algorithm (the public geohash spec): quantize lon to ceil(5P/2)
    bits and lat to floor(5P/2) bits, interleave MSB-first starting
    with lon, base32-encode 5 bits per character. Validated against
    the spec's published vectors ((42.605, -5.603) → 'ezs42',
    (57.64911, 10.40744) → 'u4pruyd'). Each stage is a flat sum of
    ≤ 5·P terms — wholly inside codegen, no UDF."""
    if not 1 <= precision <= 9:
        raise EngineError("geohash precision must be in [1, 9]")
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    lat_q = (
        f"least(CAST(floor((({lat_sql}) + 90.0) / 180.0 "
        f"* {1 << lat_bits}.0) AS BIGINT), {(1 << lat_bits) - 1})"
    )
    lon_q = (
        f"least(CAST(floor((({lon_sql}) + 180.0) / 360.0 "
        f"* {1 << lon_bits}.0) AS BIGINT), {(1 << lon_bits) - 1})"
    )
    terms = []
    for i in range(total):
        src, sb, sbits = (
            ("_lonq", i // 2, lon_bits)
            if i % 2 == 0
            else ("_latq", i // 2, lat_bits)
        )
        shift = sbits - 1 - sb
        weight = 1 << (total - 1 - i)
        terms.append(
            f"(CAST(floor({src} / {1 << shift}.0) AS BIGINT) % 2) "
            f"* {weight}"
        )
    cell = " + ".join(terms)
    chars = []
    for j in range(precision):
        shift = 5 * (precision - 1 - j)
        chars.append(
            f"substr('{_GEOHASH_B32}', "
            f"CAST((CAST(floor(_cell / {1 << shift}.0) AS BIGINT) % 32) "
            f"+ 1 AS INTEGER), 1)"
        )
    b32 = " || ".join(chars)
    return lat_q, lon_q, cell, b32


def search_geohash_grid(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    precision: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    mode: str = "or",
    field: str | None = None,
) -> DataFrame:
    """ES ``geohash_grid`` aggregation: bucket the match set by the TRUE
    base32 geohash cell of each doc's point at the given precision
    (1-9), counting docs per cell; empty cells omitted, exactly ES.
    Same plan as every grid agg here: match set → metadata join → ONE
    hash aggregation on the cell key; the geohash itself is a flat
    codegen expression (see :func:`geohash_exprs`)."""
    hits = _match_set(spark, store, queries, mode, field)
    if hits is None:
        return spark.createDataFrame(
            [], "qid long, geohash string, n_docs long"
        )
    lat_q, lon_q, cell, b32 = geohash_exprs(
        f"CAST({lat_col} AS DOUBLE)", f"CAST({lon_col} AS DOUBLE)",
        precision,
    )
    stats = (
        store.doc_stats(spark)
        .select(
            "doc_int",
            F.expr(lat_q).alias("_latq"),
            F.expr(lon_q).alias("_lonq"),
        )
        .select("doc_int", F.expr(cell).alias("_cell"))
        .select("doc_int", F.expr(b32).alias("geohash"))
    )
    return (
        hits.join(stats, "doc_int")
        .groupBy("qid", "geohash")
        .agg(F.count("*").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# Lucene query_string (full boolean syntax: AND / OR / NOT, parentheses,
# field-qualified clauses and field-scoped groups)
# --------------------------------------------------------------------------
# The reference makes every shipped document searchable through ES
# (lib/handler.js:100); ES's `query_string` query is the full-Lucene-syntax
# sibling of `simple_query_string` (search_query_string above). Supported
# subset: uppercase AND/OR/NOT (and &&/||/!), parentheses, `field:word`
# leaves, `field:(...)` scoped groups, quoted phrases (`"a b"`,
# `field:"a b"`), `^n` boosts on words/phrases/groups, implicit
# adjacency = OR (ES default_operator=OR). Unsupported syntax raises
# loudly instead of silently degrading: phrase slop (use
# search_phrase(slop=...)), wildcards/fuzzy/ranges (dedicated queries
# exist for each), and `+`/`-` prefixes (use AND / AND NOT).
#
# Match AND score follow Lucene's BooleanQuery exactly (coord-free, as in
# Lucene >= 7 where BM25 replaced TF-IDF): a leaf word analyzes into one
# or more tokens (camelCase/snake_case splitting) combined with the
# default operator (OR) — matched if ANY token present, scoring every
# present token; a phrase leaf matches iff the analyzed tokens occur
# consecutively in its field and scores the phrase's AND score (the
# summed BM25 of its terms, the search_phrase contract); a boost
# multiplies its subtree's score and never changes matching; an AND node
# matches iff all children match and scores the sum of child scores
# (nothing when unmatched); an OR node matches if any child matches and
# scores the sum of MATCHED children; NOT matches the complement and
# never scores. Queries whose tree matches a document
# containing NONE of its terms (pure-negative, e.g. `NOT x` or
# `a OR NOT b`) are rejected at parse time: they are ES match_all
# rewrites, and answering them from the index alone would require a
# corpus scan (the same documented restriction simple_query_string makes
# for negated phrases).
#
# Plan shape: the compiler numbers each distinct (field, token) atom of a
# query with a bit index and emits ONE portable SQL match predicate and
# ONE portable score expression over per-atom score columns s0..s{n-1}
# (CASE/COALESCE/IS NOT NULL/AND/OR/NOT only — Spark SQL and DuckDB run
# the SAME generated strings verbatim, the geo_polygon discipline). The
# data path is the engine's standard single fused pass: one targeted
# term_stats read, one pruned posting-block read serving every (query,
# atom) pair via composite qids, one per-(qid, doc) aggregation pivoting
# atom scores into the s_i columns, then the generated expressions gate
# and score entirely inside whole-stage codegen.

_LQS_STRIDE = 64          # composite qid stride: qid * 64 + atom bit
_LQS_MAX_ATOMS = 60       # per-query atom cap (bit-addressable, sane)

_LQS_WORD_FORBIDDEN = set("\"'~*?[]{}\\+")


def _lqs_boost(q: str, i: int, out: list) -> int:
    """Consume an optional ``^<number>`` boost suffix at ``q[i]``."""
    if i < len(q) and q[i] == "^":
        j = i + 1
        while j < len(q) and not q[j].isspace() and q[j] not in '()"':
            j += 1
        raw = q[i + 1:j]
        try:
            val = float(raw)
        except ValueError:
            raise EngineError(f"query_string: bad boost {raw!r}")
        if val < 0:
            raise EngineError(f"query_string: negative boost {raw!r}")
        out.append(("BOOST", None, repr(val)))
        return j
    return i


def _lucene_lex(q: str) -> list[tuple[str, str | None, str | None]]:
    """Lex a Lucene query string → [(kind, field, text)] tokens.

    kinds: ``(`` ``)`` ``AND`` ``OR`` ``NOT`` ``WORD`` ``PHRASE`` (field
    may be None on either), ``SCOPE`` (a ``field:`` immediately before a
    group) and ``BOOST`` (a ``^n`` suffix, emitted right after the token
    it boosts). Forbidden Lucene syntax (wildcards, fuzzy, phrase slop,
    ranges, +/-) raises :class:`EngineError` naming the dedicated query
    to use instead."""
    out: list[tuple[str, str | None, str | None]] = []
    q = str(q)
    i, n = 0, len(q)

    def grab_phrase(idx: int, field: str | None) -> int:
        j = q.find('"', idx + 1)
        if j < 0:
            raise EngineError("query_string: unterminated phrase quote")
        out.append(("PHRASE", field, q[idx + 1:j]))
        j += 1
        if j < n and q[j] == "~":
            raise EngineError(
                "query_string: phrase slop is not supported — "
                "use search_phrase(slop=...)"
            )
        return _lqs_boost(q, j, out)

    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
            continue
        if c == "(":
            out.append((c, None, None))
            i += 1
            continue
        if c == ")":
            out.append((c, None, None))
            i = _lqs_boost(q, i + 1, out)
            continue
        if c == '"':
            i = grab_phrase(i, None)
            continue
        j = i
        while j < n and not q[j].isspace() and q[j] not in '()"':
            j += 1
        w = q[i:j]
        i = j
        if w in ("AND", "&&"):
            out.append(("AND", None, None))
            continue
        if w in ("OR", "||"):
            out.append(("OR", None, None))
            continue
        if w in ("NOT", "!"):
            out.append(("NOT", None, None))
            continue
        if w.startswith("!"):
            out.append(("NOT", None, None))
            w = w[1:]
        if w.startswith(("+", "-")):
            raise EngineError(
                f"query_string: {w[0]!r} prefixes are not supported — "
                "write AND / AND NOT (or use simple_query_string)"
            )
        boost_raw: str | None = None
        if "^" in w:
            w, _, boost_raw = w.partition("^")
            try:
                bval = float(boost_raw)
            except ValueError:
                raise EngineError(f"query_string: bad boost {boost_raw!r}")
            if bval < 0:
                raise EngineError(
                    f"query_string: negative boost {boost_raw!r}"
                )
            boost_raw = repr(bval)
        bad = sorted(set(w) & _LQS_WORD_FORBIDDEN)
        if bad:
            raise EngineError(
                f"query_string: unsupported Lucene syntax {bad} in {w!r} — "
                "wildcards: search_wildcard; fuzzy: search_fuzzy; "
                "ranges: search_range"
            )
        field: str | None = None
        if ":" in w:
            field, _, w = w.partition(":")
            if not field or not all(
                ch.isalnum() or ch in "._" for ch in field
            ):
                raise EngineError(f"query_string: bad field name {field!r}")
        if not w:
            if field is not None and boost_raw is None and i < n:
                if q[i] == "(":
                    out.append(("SCOPE", field, None))
                    continue
                if q[i] == '"':
                    i = grab_phrase(i, field)
                    continue
            raise EngineError("query_string: empty clause")
        out.append(("WORD", field, w))
        if boost_raw is not None:
            out.append(("BOOST", None, boost_raw))
    return out


def parse_lucene_query(q: str, default_operator: str = "OR") -> tuple:
    """Parse full-Lucene boolean syntax → AST.

    Nodes: ``("or", [children])``, ``("and", [children])``,
    ``("not", child)``, ``("leaf", field_or_None, word)``,
    ``("phrase", field_or_None, text)`` and ``("boost", factor, child)``.
    Precedence NOT > AND > OR; adjacent clauses without an operator
    combine with ``default_operator`` (ES parameter of the same name,
    default OR) at that operator's precedence level; ``field:(...)``
    scopes the default field of every leaf inside the group; ``^n``
    boosts the word, phrase, or parenthesized group it follows."""
    if default_operator not in ("OR", "AND"):
        raise EngineError(
            f"query_string: bad default_operator {default_operator!r}"
        )
    adjacency_is_and = default_operator == "AND"
    toks = _lucene_lex(q)
    pos = [0]

    def peek() -> str | None:
        return toks[pos[0]][0] if pos[0] < len(toks) else None

    def take() -> tuple:
        t = toks[pos[0]]
        pos[0] += 1
        return t

    def with_boost(node: tuple) -> tuple:
        while peek() == "BOOST":
            _, _, raw = take()
            node = ("boost", float(raw), node)
        return node

    def parse_or(scope: str | None) -> tuple:
        nodes = [parse_and(scope)]
        while True:
            p = peek()
            if p == "OR":
                take()
                nodes.append(parse_and(scope))
            elif not adjacency_is_and and p in (
                "WORD", "PHRASE", "NOT", "(", "SCOPE"
            ):
                nodes.append(parse_and(scope))  # implicit OR
            else:
                break
        return nodes[0] if len(nodes) == 1 else ("or", nodes)

    def parse_and(scope: str | None) -> tuple:
        nodes = [parse_unary(scope)]
        while True:
            p = peek()
            if p == "AND":
                take()
                nodes.append(parse_unary(scope))
            elif adjacency_is_and and p in (
                "WORD", "PHRASE", "NOT", "(", "SCOPE"
            ):
                nodes.append(parse_unary(scope))  # implicit AND
            else:
                break
        return nodes[0] if len(nodes) == 1 else ("and", nodes)

    def parse_unary(scope: str | None) -> tuple:
        p = peek()
        if p is None:
            raise EngineError("query_string: unexpected end of query")
        if p == "NOT":
            take()
            return ("not", parse_unary(scope))
        if p == "SCOPE":
            _, fld, _ = take()
            if peek() != "(":
                raise EngineError("query_string: field:( needs a group")
            return parse_unary(fld)
        if p == "(":
            take()
            node = parse_or(scope)
            if peek() != ")":
                raise EngineError("query_string: unbalanced parentheses")
            take()
            return with_boost(node)
        if p == "WORD":
            _, fld, w = take()
            return with_boost(
                ("leaf", fld if fld is not None else scope, w)
            )
        if p == "PHRASE":
            _, fld, text = take()
            return with_boost(
                ("phrase", fld if fld is not None else scope, text)
            )
        raise EngineError(f"query_string: unexpected {p!r}")

    tree = parse_or(None)
    if pos[0] != len(toks):
        raise EngineError("query_string: unbalanced parentheses")
    return tree


def _lucene_matches_empty(node: tuple) -> bool:
    """Would this tree match a document containing NONE of its terms?"""
    kind = node[0]
    if kind in ("leaf", "phrase"):
        return False
    if kind == "not":
        return not _lucene_matches_empty(node[1])
    if kind == "boost":
        return _lucene_matches_empty(node[2])
    sub = [_lucene_matches_empty(c) for c in node[1]]
    return all(sub) if kind == "and" else any(sub)


def lucene_query_plan(
    queries: list[tuple[int, str]],
    default_operator: str = "OR",
    minimum_should_match: int | None = None,
    fields: dict[str, float] | list[str] | None = None,
) -> tuple[pd.DataFrame, str, str, int]:
    """Compile parsed Lucene queries → (atoms, match_sql, score_sql, nbits).

    ``atoms`` is a pandas frame (qid, bit, kind, field, text) — kind is
    ``"term"`` or ``"phrase"``, field None means the store's default
    field, text is the analyzer token (term) or the raw phrase.
    ``match_sql`` / ``score_sql`` are ONE portable SQL boolean predicate /
    DOUBLE expression each (CASE over qid) referencing columns ``qid``
    and ``s0..s{nbits-1}`` where ``s_i`` is the BM25 score of query atom
    ``i`` for the doc (a phrase atom's score is its AND score, present
    only when the phrase occurs; NULL = absent). Spark and the DuckDB
    oracle evaluate these strings verbatim — the boolean semantics exist
    in exactly one place.

    ``default_operator`` (ES parameter): how operator-less adjacency AND
    a multi-token word leaf combine — ``"OR"`` (ES default) or
    ``"AND"``. ``minimum_should_match`` (ES parameter): when a query's
    top-level node is an OR (a bool of should clauses after the Lucene
    rewrite), require at least that many children to match; scoring is
    unchanged (every matched child still scores). Queries whose top
    level is not an OR ignore it, exactly ES.

    ``fields`` (ES parameter): run UNQUALIFIED clauses against several
    fields with optional ``^boost`` weights (``{"text": 1.0,
    "source": 2.5}`` or a plain list). Each unqualified token/phrase
    expands to one atom per field; it matches when ANY field matches
    and scores the per-field maximum of boost × BM25 — ES's
    ``type: best_fields`` dis_max (tie_breaker 0, the default).
    ``field:``-qualified clauses ignore ``fields``, exactly ES."""
    if minimum_should_match is not None and minimum_should_match < 1:
        raise EngineError("query_string: minimum_should_match must be >= 1")
    if isinstance(fields, dict):
        targets_default = [(str(f), float(b)) for f, b in
                           sorted(fields.items())]
    elif fields is not None:
        targets_default = [(str(f), 1.0) for f in sorted(fields)]
    else:
        targets_default = [(None, 1.0)]
    if not targets_default:
        raise EngineError("query_string: fields must not be empty")
    qid_list = [qid for qid, _ in queries]
    if len(set(qid_list)) != len(qid_list):
        raise EngineError(
            "query_string: duplicate qids in queries — each qid must be "
            "unique (colliding (qid, bit) atom rows would silently merge "
            "both parse trees' scores)"
        )
    atoms_rows: list[tuple[int, int, str, str | None, str]] = []
    m_cases: list[str] = []
    s_cases: list[str] = []
    nbits = 0
    for qid, q in queries:
        tree = parse_lucene_query(q, default_operator)
        if _lucene_matches_empty(tree):
            raise EngineError(
                f"query_string (qid={qid}): pure-negative query would "
                "match documents containing none of its terms (ES "
                "match_all rewrite) — unsupported"
            )
        bits: dict[tuple, int] = {}

        def new_bit(key: tuple, row: tuple) -> int:
            if key not in bits:
                if len(bits) >= _LQS_MAX_ATOMS:
                    raise EngineError(
                        f"query_string: more than {_LQS_MAX_ATOMS} "
                        "distinct atoms in one query"
                    )
                bits[key] = len(bits)
                atoms_rows.append((qid, bits[key]) + row)
            return bits[key]

        def comb_and(subs: list[tuple[str, str]]) -> tuple[str, str]:
            m = "(" + " AND ".join(cm for cm, _ in subs) + ")"
            s = (
                f"(CASE WHEN {m} THEN "
                + " + ".join(cs for _, cs in subs)
                + " ELSE 0.0 END)"
            )
            return m, s

        def comb_or(subs: list[tuple[str, str]]) -> tuple[str, str]:
            # matched children self-gate (leaf via COALESCE, and via its
            # own CASE; a NOT child scores 0.0)
            m = "(" + " OR ".join(cm for cm, _ in subs) + ")"
            s = "(" + " + ".join(cs for _, cs in subs) + ")"
            return m, s

        def atom_pair(
            fld: str | None, keykind: str, rowkind: str, keytext, rowtext
        ) -> tuple[str, str]:
            """(m, s) for one token/phrase across its target fields —
            an unqualified atom under ``fields`` matches when ANY field
            matches and scores the per-field max of boost × BM25
            (best_fields dis_max, tie_breaker 0)."""
            targets = (
                [(fld, 1.0)] if fld is not None else targets_default
            )
            parts = []
            for f, bst in targets:
                b = new_bit((keykind, f, keytext), (rowkind, f, rowtext))
                coal = f"COALESCE(s{b}, 0.0)"
                parts.append((
                    f"s{b} IS NOT NULL",
                    coal if bst == 1.0 else f"{bst!r} * {coal}",
                ))
            if len(parts) == 1:
                return parts[0]
            m = "(" + " OR ".join(pm for pm, _ in parts) + ")"
            s = "GREATEST(" + ", ".join(ps for _, ps in parts) + ")"
            return m, s

        def compile_node(node: tuple) -> tuple[str, str]:
            kind = node[0]
            if kind == "leaf":
                _, fld, w = node
                toks = list(analysis.tokenize_series(pd.Series([w]))[0])
                if not toks:
                    raise EngineError(
                        f"query_string: {w!r} analyzed to zero tokens"
                    )
                terms = sorted(Counter(toks).items())
                pairs = []
                for t, qtf in terms:
                    m_t, s_t = atom_pair(fld, "t", "term", t, t)
                    pairs.append((
                        m_t, s_t if qtf == 1 else f"({qtf} * {s_t})"
                    ))
                if len(pairs) == 1:
                    m, s = pairs[0]
                    return f"({m})", f"({s})"
                # a multi-token word is a sub-boolean of its subtokens
                # under the default operator (ES analyzes the leaf and
                # combines with default_operator)
                if default_operator == "AND":
                    return comb_and(pairs)
                return comb_or(pairs)
            if kind == "phrase":
                _, fld, text = node
                toks = tuple(
                    analysis.tokenize_series(pd.Series([text]))[0]
                )
                if not toks:
                    raise EngineError(
                        f"query_string: phrase {text!r} analyzed to "
                        "zero tokens"
                    )
                m, s = atom_pair(fld, "ph", "phrase", toks, text)
                return f"({m})", f"({s})"
            if kind == "not":
                cm, _cs = compile_node(node[1])
                return f"(NOT {cm})", "0.0"
            if kind == "boost":
                cm, cs = compile_node(node[2])
                return cm, f"({node[1]!r} * {cs})"
            subs = [compile_node(c) for c in node[1]]
            return comb_and(subs) if kind == "and" else comb_or(subs)

        # minimum_should_match gates the TOP-LEVEL should list (an OR,
        # possibly boost-wrapped): >= msm children must match; scoring
        # stays the plain matched-children sum
        base, factors = tree, []
        while base[0] == "boost":
            factors.append(base[1])
            base = base[2]
        if minimum_should_match is not None and base[0] == "or":
            subs = [compile_node(c) for c in base[1]]
            if minimum_should_match > len(subs):
                raise EngineError(
                    f"query_string (qid={qid}): minimum_should_match="
                    f"{minimum_should_match} exceeds the "
                    f"{len(subs)} top-level clauses"
                )
            cnt = "(" + " + ".join(
                f"CASE WHEN {cm} THEN 1 ELSE 0 END" for cm, _ in subs
            ) + ")"
            m = f"({cnt} >= {int(minimum_should_match)})"
            s = "(" + " + ".join(cs for _, cs in subs) + ")"
            for f_ in reversed(factors):
                s = f"({f_!r} * {s})"
        else:
            m, s = compile_node(tree)
        m_cases.append(f"WHEN qid = {int(qid)} THEN {m}")
        s_cases.append(f"WHEN qid = {int(qid)} THEN {s}")
        nbits = max(nbits, len(bits))
    match_sql = "CASE " + " ".join(m_cases) + " ELSE FALSE END"
    score_sql = "CASE " + " ".join(s_cases) + " ELSE 0.0 END"
    atoms = pd.DataFrame(
        atoms_rows, columns=["qid", "bit", "kind", "field", "text"]
    )
    return atoms, match_sql, score_sql, nbits


def search_lucene_query_string(
    spark: SparkSession,
    store: IndexStore,
    queries: pd.DataFrame,
    k: int = 10,
    default_field: str | None = None,
    default_operator: str = "OR",
    minimum_should_match: int | None = None,
    fields: dict[str, float] | list[str] | None = None,
) -> DataFrame:
    """ES ``query_string``: full Lucene boolean syntax per query string —
    AND/OR/NOT with precedence NOT > AND > OR, parentheses,
    ``field:word`` leaves and ``field:(...)`` groups on a multi-field
    store (each atom scored with ITS field's df and avgdl), quoted
    phrases (positional stores), ``^n`` boosts, implicit adjacency = OR.
    Match and score follow Lucene's coord-free BooleanQuery exactly
    (module comment above).

    ``queries``: pandas (qid, query). One targeted term_stats read + one
    pruned posting read serve every TERM atom of every query (composite
    qids); phrase atoms ride the shared positional phrase kernel (one
    pass per distinct phrase field, all phrases packed into composite
    qids); the boolean tree evaluates as a generated codegen expression
    over the per-(qid, doc) atom-score pivot — no per-row Python, and
    the identical expression string is what the DuckDB oracle runs."""
    qlist = [(int(qid), str(q)) for qid, q in
             zip(queries["qid"], queries["query"])]
    if not qlist:
        return spark.createDataFrame([], RESULT_SCHEMA)
    atoms, match_sql, score_sql, nbits = lucene_query_plan(
        qlist, default_operator, minimum_should_match, fields
    )
    if atoms.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)

    cands: list[DataFrame] = []

    tq = atoms[atoms["kind"] == "term"]
    if len(tq):
        qt = tq.copy()
        prefixes, avgdls = [], []
        for fld in qt["field"]:
            pfx, ad = _field_of(
                store, default_field if fld is None else str(fld)
            )
            prefixes.append(pfx)
            avgdls.append(ad)
        qt["term"] = [p + t for p, t in zip(prefixes, qt["text"])]
        qt["avgdl"] = avgdls
        qt["qid"] = qt["qid"] * _LQS_STRIDE + qt["bit"]
        qt, _ = _weighted_terms(
            spark, store, qt[["qid", "term", "avgdl"]].assign(qtf=1)
        )
        if not qt.empty:
            joined = _matched_blocks(spark, store, qt)
            # per-atom avgdl column rules the length norm
            cands.append(_score_exhaustive(joined, 0.0))

    pq = atoms[atoms["kind"] == "phrase"]
    for fld in sorted(pq["field"].unique(), key=lambda f: (f is None, f)):
        sel = pq[pq["field"].isna()] if fld is None else (
            pq[pq["field"] == fld]
        )
        probes = pd.DataFrame({
            "qid": sel["qid"] * _LQS_STRIDE + sel["bit"],
            "query": sel["text"],
        })
        ps = _phrase_scores(
            spark, store, probes,
            default_field if fld is None else str(fld),
        )
        if ps is not None:
            cands.append(ps.select("qid", "doc_int", "score"))

    if not cands:
        return spark.createDataFrame([], RESULT_SCHEMA)
    cand = cands[0]
    for extra in cands[1:]:
        cand = cand.unionByName(extra)
    per_doc = cand.select(
        F.shiftright("qid", 6).alias("qid"),
        F.col("qid").bitwiseAND(F.lit(_LQS_STRIDE - 1)).alias("bit"),
        "doc_int",
        "score",
    ).groupBy("qid", "doc_int").agg(
        *[
            F.sum(F.when(F.col("bit") == i, F.col("score"))).alias(f"s{i}")
            for i in range(nbits)
        ]
    )
    gated = per_doc.filter(F.expr(match_sql)).select(
        "qid", "doc_int", F.expr(score_sql).alias("score")
    )
    gated = _drop_dead(spark, store, gated)
    return _present(spark, store, _cut_topk(gated, k), k)
