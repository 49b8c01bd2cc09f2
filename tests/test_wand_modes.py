"""WAND-path minimum_should_match / AND mode / search_after (VERDICT r4
task 2): the pruned scorer must agree bit-for-bit with the exhaustive
scorer on every query set — msm folds in as a distinct-term floor on the
heap threshold, AND as mandatory-term intersection, search_after as a
cursor-certified threshold seed (plans/search._score_wand).
"""

import numpy as np
import pandas as pd
import pytest

from dynamo2es_lambda_spark import IndexerConfig
from dynamo2es_lambda_spark.plans import build, search

CFG = IndexerConfig(index="code")


@pytest.fixture(scope="module")
def store(spark, corpus_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wandidx"))
    # small segments → many (qid, seg) scorer groups → pruning exercised
    build.build_index(
        corpus_df, CFG, path, segment_docs=32, num_buckets=8
    )
    return search.load_store(path)


@pytest.fixture(scope="module")
def qsets(queries_pdf):
    multi = queries_pdf[
        queries_pdf["query"].str.split().str.len() >= 2
    ].reset_index(drop=True)
    return queries_pdf, multi


def _pages(res):
    pdf = res.toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    return pdf


def _assert_same(wand, exh):
    w, e = _pages(wand), _pages(exh)
    assert list(w["qid"]) == list(e["qid"])
    assert list(w["doc_id"]) == list(e["doc_id"])
    assert np.allclose(w["score"], e["score"], rtol=1e-9, atol=1e-12)


@pytest.mark.parametrize("msm", [2, 3])
def test_wand_msm_equals_exhaustive(spark, store, qsets, msm):
    _, multi = qsets
    kw = dict(k=10, minimum_should_match=msm)
    _assert_same(
        search.search(spark, store, multi, algo="wand", **kw),
        search.search(spark, store, multi, algo="exhaustive", **kw),
    )


def test_wand_and_mode_equals_exhaustive(spark, store, qsets):
    full, _ = qsets
    kw = dict(k=10, mode="and")
    _assert_same(
        search.search(spark, store, full, algo="wand", **kw),
        search.search(spark, store, full, algo="exhaustive", **kw),
    )


def test_wand_and_mode_absent_term_matches_nothing(spark, store):
    q = pd.DataFrame([(0, "def absentzzz")], columns=["qid", "query"])
    res = search.search(spark, store, q, algo="wand", mode="and", k=10)
    assert res.count() == 0


def test_wand_search_after_pages_tile(spark, store, qsets):
    """Paginate the whole ranking with the WAND cursor: the concatenation
    of pages must equal the one-shot deep ranking, per qid."""
    full, _ = qsets
    one = full.iloc[[0]].reset_index(drop=True)
    deep = _pages(search.search(spark, store, one, algo="wand", k=1000))
    pages, cursor = [], None
    for _ in range(200):
        res = search.search(
            spark, store, one, algo="wand", k=7, search_after=cursor
        )
        pdf = _pages(res)
        if not len(pdf):
            break
        pages.append(pdf)
        cursor = (
            float(pdf.iloc[-1]["score"]), str(pdf.iloc[-1]["doc_id"])
        )
    tiled = pd.concat(pages, ignore_index=True)
    assert list(tiled["doc_id"]) == list(deep["doc_id"])
    assert np.allclose(tiled["score"], deep["score"], rtol=1e-9)


def test_wand_search_after_equals_exhaustive_mid_page(spark, store, qsets):
    full, _ = qsets
    page1 = _pages(search.search(spark, store, full, algo="wand", k=5))
    for qid in sorted(page1["qid"].unique())[:3]:
        last = page1[page1["qid"] == qid].iloc[-1]
        sub = full[full["qid"] == qid].reset_index(drop=True)
        cur = (float(last["score"]), str(last["doc_id"]))
        _assert_same(
            search.search(
                spark, store, sub, algo="wand", k=5, search_after=cur
            ),
            search.search(
                spark, store, sub, algo="exhaustive", k=5, search_after=cur
            ),
        )


def test_wand_msm_with_deletes_constraints(spark, store, qsets, tmp_path):
    """msm + the cogrouped dead-list path: delete a handful of docs, the
    gated wand ranking must still match exhaustive."""
    _, multi = qsets
    import shutil

    path2 = str(tmp_path / "delidx")
    shutil.copytree(store.path, path2)
    st2 = search.load_store(path2)
    from dynamo2es_lambda_spark.plans import manage

    res = manage.delete_by_query(
        spark, st2,
        pd.DataFrame([(0, multi.iloc[0]["query"].split()[0])],
                     columns=["qid", "query"]),
    )
    assert res["deleted"] > 0
    st2 = search.load_store(path2)
    assert st2.n_dead() > 0
    kw = dict(k=10, minimum_should_match=2)
    _assert_same(
        search.search(spark, st2, multi, algo="wand", **kw),
        search.search(spark, st2, multi, algo="exhaustive", **kw),
    )


# ------------------------------------------- batched planner and scorer

MF_FIELDS = ("content", "path")


@pytest.fixture(scope="module")
def mf_store(spark, corpus_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wand_mf"))
    build.build_index(
        corpus_df, CFG, path, segment_docs=32, num_buckets=8,
        fields=MF_FIELDS,
    )
    return search.load_store(path)


def _batch40():
    """40 queries: one to three analyzed terms each, hot and tail, with a
    camelCase entry, an absent term and a repeated term (qtf 2)."""
    from dynamo2es_lambda_spark.sources import synthetic

    vocab = synthetic.vocabulary()
    qs = []
    for i in range(40):
        a, b = vocab[(7 * i) % 500], vocab[(31 * i + 3) % 500]
        qs.append(
            [a, f"{a} {b}", f"{a} {b} {vocab[i]}", f"{a} {a}",
             f"{b} zzznotaterm"][i % 5]
        )
    return pd.DataFrame({"qid": np.arange(40, dtype=np.int64), "query": qs})


def _exact(res):
    pdf = _pages(res)
    return list(zip(pdf["qid"], pdf["rank"], pdf["doc_id"], pdf["score"]))


@pytest.mark.parametrize("field", MF_FIELDS)
def test_wand_batch40_multifield_bit_identical(spark, mf_store, field):
    q = _batch40()
    if field == "path":
        q["query"] = [
            ["src lib", "mod", "py go", "self this", "js"][i % 5]
            for i in range(len(q))
        ]
    wand = _exact(search.search(spark, mf_store, q, k=10, algo="wand",
                                field=field))
    exh = _exact(search.search(spark, mf_store, q, k=10,
                               algo="exhaustive", field=field))
    assert wand and [r[:3] for r in wand] == [r[:3] for r in exh]
    # a sum of two floats does not depend on its order, so queries of at
    # most two analyzed terms score bit for bit alike; longer sums run in
    # the scorer's term order on one side and Spark's aggregate order on
    # the other, and may differ in the last bits
    n_terms = search._query_terms(q).groupby("qid").size()
    for (qid, _, _, sw), (_, _, _, se) in zip(wand, exh):
        if n_terms[qid] <= 2:
            assert sw == se, (qid, sw, se)
        else:
            assert abs(sw - se) <= 4 * np.spacing(se), (qid, sw, se)


def test_literal_term_map_escapes_round_trip(spark, mf_store, monkeypatch):
    """Map keys with a quote, a backslash and non-ASCII characters (BMP
    and astral) survive the JSON literal term map: with every posting
    term renamed that way, the matched rows and the WAND and exhaustive
    scores equal those of the plain qualified terms, bit for bit."""
    from pyspark.sql import functions as F

    suffix = ' "q\\ué中\U0001F600'
    n_docs = float(mf_store.meta["n_docs"])
    prefix, avgdl = search._field_of(mf_store, None)
    qt = search._query_terms(_batch40())
    qt["term"] = prefix + qt["term"]
    qt = search._join_term_stats(
        spark, mf_store, qt, sorted(qt["term"].unique().tolist())
    ).dropna(subset=["df"])
    qt["w"] = (
        search.bm25.idf(n_docs, qt["df"].to_numpy())
        * (search.bm25.K1 + 1.0) * qt["qtf"].to_numpy()
    )
    renamed = search.load_store(mf_store.path)
    plain_postings = renamed.postings
    monkeypatch.setattr(
        renamed, "postings",
        lambda s: plain_postings(s).withColumn(
            "term", F.concat("term", F.lit(suffix))
        ),
    )
    qt_renamed = qt.assign(term=qt["term"] + suffix)

    def run(st, table):
        joined = search._matched_blocks(spark, st, table)
        rows = sorted(
            (r.qid, r.term.removesuffix(suffix), r.seg, r.block_id, r.w)
            for r in joined.select("qid", "term", "seg", "block_id", "w")
            .collect()
        )
        wand = search._score_wand(joined, avgdl, 10)
        exh = search._score_exhaustive(joined, avgdl).groupBy(
            "qid", "doc_int"
        ).agg(F.sum("score").alias("score"))
        return rows, [
            sorted(map(tuple, search._cut_topk(x, 10).collect()))
            for x in (wand, exh)
        ]

    rows, (wand, exh) = run(mf_store, qt)
    rows_r, (wand_r, exh_r) = run(renamed, qt_renamed)
    assert rows and rows_r == rows
    assert wand and wand_r == wand and exh_r == exh


def test_arrow_point_read_falls_back_only_on_layout_errors(
    tmp_path, monkeypatch
):
    """A missing or non-parquet layout → None (the caller's Spark read);
    any other error inside the fast path propagates."""
    import pyarrow.dataset as pads

    assert search._arrow_isin_read(str(tmp_path / "nope"), "term", ["a"]) \
        is None
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.parquet").write_bytes(b"not a parquet file")
    assert search._arrow_isin_read(str(bad), "term", ["a"]) is None

    def broken(*args, **kwargs):
        raise TypeError("injected fast-path bug")

    monkeypatch.setattr(pads, "dataset", broken)
    with pytest.raises(TypeError, match="injected fast-path bug"):
        search._arrow_isin_read(str(bad), "term", ["a"])


def test_wand_single_term_job_count(spark, store):
    """A single-term WAND search + collect on a fresh handle of a store
    without dead docs runs at most 5 Spark jobs: the pinned segment schema
    skips schema inference, the literal term map needs no broadcast
    build, and no aggregate runs after the scorer."""
    assert store.n_dead() == 0
    fresh = search.load_store(store.path)
    q = pd.DataFrame({"qid": [0], "query": ["def"]})
    sc = spark.sparkContext
    group = "wand_single_term_jobs"
    sc.setJobGroup(group, "WAND job count guard")
    try:
        rows = search.search(spark, fresh, q, k=10, algo="wand").collect()
    finally:
        sc.setJobGroup(None, None)
    assert rows
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 5, n_jobs
