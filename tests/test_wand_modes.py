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
from dynamo2es_lambda_spark.sources import store_io

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


@pytest.mark.parametrize("algo", ["exhaustive", "wand"])
@pytest.mark.parametrize("mode", ["AND", "xor", ""])
def test_unknown_mode_raises_on_every_algo(spark, store, qsets, algo, mode):
    # an unrecognised mode must not silently run as OR
    full, _ = qsets
    with pytest.raises(ValueError, match="unknown mode"):
        search.search(spark, store, full, k=5, mode=mode, algo=algo)


@pytest.mark.parametrize(
    "entry",
    [
        lambda sp, st, q, m: search.search_facets(sp, st, q, mode=m),
        lambda sp, st, q, m: search.search_stats_agg(sp, st, q, mode=m),
        lambda sp, st, q, m: search.search_terms_agg(
            sp, st, q, group_col="lang", mode=m
        ),
    ],
    ids=["facets", "stats_agg", "terms_agg"],
)
@pytest.mark.parametrize("mode", ["AND", "xor", ""])
def test_unknown_mode_raises_on_match_set(spark, store, qsets, entry, mode):
    # the unscored aggregation family shares search()'s mode rule
    full, _ = qsets
    with pytest.raises(ValueError, match="unknown mode"):
        entry(spark, store, full, mode)


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
    qt, _ = search._term_table(
        spark, mf_store, search._query_terms(_batch40(), prefix)
    )
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
    """A missing or non-parquet layout, or a refused prefix (empty or
    non-ASCII) → None (the caller's Spark read); any other error inside
    the reader propagates — in keys, prefix and count modes alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    read = store_io.sorted_read
    modes = (
        dict(keys=["a"]), dict(prefix="a"), dict(prefix="a", count=True)
    )
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.parquet").write_bytes(b"not a parquet file")
    good = tmp_path / "good"
    good.mkdir()
    pq.write_table(
        pa.table({"term": ["a", "ab", "b"], "df": [1, 2, 3]}),
        str(good / "part-0.parquet"),
    )
    for kw in modes:
        assert read(str(tmp_path / "nope"), "term", **kw) is None
        assert read(str(bad), "term", **kw) is None
    assert read(str(good), "term", prefix="a", count=True) == 2
    for p in ("", "caf\u00e9"):
        assert read(str(good), "term", prefix=p) is None
        assert read(str(good), "term", prefix=p, count=True) is None

    def broken(*args, **kwargs):
        raise TypeError("injected fast-path bug")

    monkeypatch.setattr(pq, "ParquetFile", broken)
    for kw in modes:
        with pytest.raises(TypeError, match="injected fast-path bug"):
            read(str(good), "term", **kw)


def test_dictionary_read_bug_propagates_out_of_search_prefix(
    spark, store, monkeypatch
):
    """A bug inside the driver-side dictionary read surfaces instead of
    silently taking the JVM dictionary-scan path, whichever pyarrow entry
    point (file or dataset API) the read goes through."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    def broken(*args, **kwargs):
        raise TypeError("injected reader bug")

    monkeypatch.setattr(pq, "ParquetFile", broken)
    monkeypatch.setattr(pads, "dataset", broken)
    with pytest.raises(TypeError, match="injected reader bug"):
        search.search_prefix(
            spark, store, pd.DataFrame({"qid": [0], "prefix": ["de"]})
        )


def _dictionary(root, layout):
    """Two 30-row-group files of 10 terms each over t0000..t0599, files
    interleaved (each file term-sorted, as Spark writes term_stats);
    ``layout="shuffled"`` shuffles the second file, ``"nostats"`` writes
    it without statistics."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root.mkdir()
    terms = np.array([f"t{i:04d}" for i in range(600)], dtype=object)
    for f in range(2):
        t = terms[f::2]
        if f and layout == "shuffled":
            t = np.random.default_rng(7).permutation(t)
        pq.write_table(
            pa.table({"term": list(t), "df": np.arange(len(t)) + f}),
            str(root / f"part-{f}.parquet"), row_group_size=10,
            write_statistics=not (f and layout == "nostats"),
        )
    return str(root)


@pytest.mark.parametrize("layout", ["sorted", "shuffled", "nostats"])
def test_sorted_read_matches_pandas_reference(tmp_path, layout):
    """Every mode equals a pandas filter over the whole table: keys in
    file order, prefix key-ascending, and the bounded prefix read equals
    the head of the unbounded one, whatever the layout."""
    import pyarrow.parquet as pq

    path = _dictionary(tmp_path / "ts", layout)
    every = pd.concat(
        [pq.read_table(f).to_pandas() for f in store_io.parquet_files(path)],
        ignore_index=True,
    )
    cols = ("term", "df")
    keys = ["t0450", "t0003", "t0451", "zz"]
    pd.testing.assert_frame_equal(
        store_io.sorted_read(path, "term", cols, keys=keys),
        every[every["term"].isin(keys)].reset_index(drop=True),
    )
    for prefix in ("t", "t01", "t059", "t1", "u"):
        full = every[every["term"].str.startswith(prefix)].sort_values(
            "term", kind="mergesort", ignore_index=True
        )
        assert store_io.sorted_read(
            path, "term", prefix=prefix, count=True
        ) == len(full)
        for limit in (None, 1, 5, 11, 25, 1000):
            pd.testing.assert_frame_equal(
                store_io.sorted_read(
                    path, "term", cols, prefix=prefix, limit=limit
                ),
                full.iloc[:limit],
            )


def test_prefix_expansion_reads_bounded_row_groups(
    spark, tmp_path, monkeypatch
):
    """A hot prefix over a 60-row-group term-sorted dictionary reads the
    row groups that can hold its first max_expansions terms, not the
    whole key range."""
    import types

    import pyarrow.parquet as pq

    store_path = tmp_path / "store"
    store_path.mkdir()
    _dictionary(store_path / "term_stats", "sorted")
    reads = []
    real = pq.ParquetFile.read_row_group

    def spy(self, i, *args, **kwargs):
        reads.append(i)
        return real(self, i, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", spy)
    out = search._expand_startswith(
        spark, types.SimpleNamespace(path=str(store_path)),
        pd.DataFrame({"qid": [0, 1], "prefix": ["t", "t"]}), 5,
    )
    assert list(out["term"]) == [f"t{i:04d}" for i in range(5)] * 2
    assert list(out["qid"]) == [0] * 5 + [1] * 5
    assert 0 < len(reads) <= 2


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
