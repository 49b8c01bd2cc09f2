"""Document-management APIs (plans/manage.py): _delete_by_query,
_update_by_query, _reindex, aliases — plus the CDC doc_meta_cols
passthrough they ride on. Reference context: the pipeline maintains the
index from a system-of-record table (lib/handler.js:100,135-147); these
are the bulk maintenance counterparts."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dynamo2es_lambda_spark import IndexerConfig
from dynamo2es_lambda_spark.errors import EngineError
from dynamo2es_lambda_spark.plans import build, manage, search

_DOCS = [
    # doc_id, text,                 lang, version
    ("d0", "alpha beta one",        "en", 0),
    ("d1", "alpha beta two",        "en", 0),
    ("d2", "alpha three",           "de", 0),
    ("d3", "gamma four",            "de", 0),
    ("d4", "gamma alpha five",      "fr", 0),
]


def _corpus(spark):
    return spark.createDataFrame(
        pd.DataFrame(_DOCS, columns=["docid", "content", "lang", "version"])
    ).withColumn("version", F.col("version").cast("long"))


_CFG = IndexerConfig(index="docs", id_field="docid", version_field="version")


def _store(spark, tmp_path_factory, name):
    path = str(tmp_path_factory.mktemp(name))
    build.build_index(_corpus(spark), _CFG, path, segment_docs=8,
                      num_buckets=4)
    return search.load_store(path)


def _q(text):
    return pd.DataFrame([(0, text)], columns=["qid", "query"])


def _live_ids(spark, store):
    live = store.doc_stats(spark).join(
        store.dead_df(spark), "doc_int", "left_anti"
    )
    return {r["doc_id"] for r in live.select("doc_id").collect()}


# ------------------------------------------------------ delete_by_query


def test_delete_by_query_tombstones_match_set(spark, tmp_path_factory):
    st = _store(spark, tmp_path_factory, "mg_del")
    res = manage.delete_by_query(spark, st, _q("beta"))
    assert res["deleted"] == 2
    st = search.load_store(st.path)
    assert _live_ids(spark, st) == {"d2", "d3", "d4"}
    # deleted docs never surface in search again
    hits = search.search(spark, st, _q("alpha"), k=10).toPandas()
    assert set(hits["doc_id"]) == {"d2", "d4"}


def test_delete_by_query_and_mode_and_noop(spark, tmp_path_factory):
    st = _store(spark, tmp_path_factory, "mg_del2")
    # AND: only docs with BOTH gamma and alpha
    res = manage.delete_by_query(spark, st, _q("gamma alpha"), mode="and")
    assert res["deleted"] == 1  # d4
    st = search.load_store(st.path)
    assert "d4" not in _live_ids(spark, st)
    # re-running the same delete is a no-op (match set excludes dead)
    res2 = manage.delete_by_query(spark, st, _q("gamma alpha"), mode="and")
    assert res2["deleted"] == 0
    # absent term: no-op, no batch claimed
    assert manage.delete_by_query(spark, st, _q("absentzzz"))["deleted"] == 0


# ------------------------------------------------------ update_by_query


def test_update_by_query_reindexes_with_script(spark, tmp_path_factory):
    st = _store(spark, tmp_path_factory, "mg_upd")
    res = manage.update_by_query(
        spark, _corpus(spark), st, _CFG, _q("beta"),
        {"lang": "concat(lang, '-x')", "version": "version + 1"},
    )
    assert res["upserts"] == 2
    st = search.load_store(st.path)
    live = st.doc_stats(spark).join(
        st.dead_df(spark), "doc_int", "left_anti"
    )
    langs = {r["doc_id"]: r["lang"] for r in live.collect()}
    assert langs == {"d0": "en-x", "d1": "en-x", "d2": "de",
                     "d3": "de", "d4": "fr"}
    # updated docs still searchable exactly once
    hits = search.search(spark, st, _q("beta"), k=10).toPandas()
    assert sorted(hits["doc_id"]) == ["d0", "d1"]


def test_update_by_query_content_script_changes_postings(
    spark, tmp_path_factory
):
    st = _store(spark, tmp_path_factory, "mg_upd2")
    manage.update_by_query(
        spark, _corpus(spark), st, _CFG, _q("three"),
        {"content": "concat(content, ' zzznew')", "version": "version + 1"},
    )
    st = search.load_store(st.path)
    hits = search.search(spark, st, _q("zzznew"), k=10).toPandas()
    assert list(hits["doc_id"]) == ["d2"]


def test_update_by_query_requires_scalar_id_field(spark, tmp_path_factory):
    st = _store(spark, tmp_path_factory, "mg_upd3")
    cfg = IndexerConfig(index="docs", id_resolver=lambda df: F.col("docid"))
    with pytest.raises(EngineError):
        manage.update_by_query(
            spark, _corpus(spark), st, cfg, _q("beta"), {}
        )


# -------------------------------------------------------------- reindex


def test_reindex_filters_routes_and_keeps_sha(spark, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("mg_reidx"))
    cfg = IndexerConfig(index_prefix="idx-", index_field="lang",
                        id_field="docid", version_field="version")
    manage.reindex(
        spark, _corpus(spark), cfg, dest,
        query_filter="lang <> 'de'", segment_docs=8, num_buckets=4,
    )
    st = search.load_store(dest)
    rows = st.doc_stats(spark).select(
        "doc_id", "index_name", "content_sha256"
    ).collect()
    assert {r["doc_id"]: r["index_name"] for r in rows} == {
        "d0": "idx-en", "d1": "idx-en", "d4": "idx-fr"
    }
    src_sha = {
        r["docid"]: r["sha"]
        for r in _corpus(spark)
        .select("docid", F.sha2("content", 256).alias("sha")).collect()
    }
    assert all(r["content_sha256"] == src_sha[r["doc_id"]] for r in rows)


def test_reindex_transform_applies(spark, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("mg_reidx2"))
    manage.reindex(
        spark, _corpus(spark), _CFG, dest,
        transform={"content": "upper(content)"},
        segment_docs=8, num_buckets=4,
    )
    st = search.load_store(dest)
    # code-aware tokenizer lowercases, so searchability survives ES-style
    # a full re-analysis under the transform
    hits = search.search(spark, st, _q("alpha"), k=10).toPandas()
    assert len(hits) == 4


# -------------------------------------------------------------- aliases


def test_alias_roundtrip_and_filtering(spark, tmp_path_factory):
    st = _store(spark, tmp_path_factory, "mg_alias")
    st = manage.put_alias(st, "betas", index="docs", filter_term="beta")
    got = manage.search_alias(spark, st, "betas", _q("alpha"), k=10)
    assert set(got.toPandas()["doc_id"]) == {"d0", "d1"}
    # alias restriction happens BEFORE the cut: k=1 returns the best
    # FILTERED doc, not an empty page
    one = manage.search_alias(spark, st, "betas", _q("alpha"), k=1)
    assert len(one.toPandas()) == 1


def test_alias_survives_delete_by_query_and_compaction(
    spark, tmp_path_factory
):
    """Aliases live in meta.json; every finalize rewrites meta.json, so it
    must carry them over — through a delete_by_query finalize and a
    compaction's."""
    from dynamo2es_lambda_spark.plans import cdc

    st = _store(spark, tmp_path_factory, "mg_alias_keep")
    st = manage.put_alias(st, "betas", index="docs", filter_term="beta")
    assert manage.delete_by_query(spark, st, _q("two"))["deleted"] == 1
    cdc.compact_store(spark, st.path)
    st = search.load_store(st.path)
    got = manage.search_alias(spark, st, "betas", _q("alpha"), k=10)
    assert set(got.toPandas()["doc_id"]) == {"d0"}


def test_alias_unknown_raises_and_index_routing(spark, tmp_path_factory):
    st = _store(spark, tmp_path_factory, "mg_alias2")
    st = manage.put_alias(st, "all-docs", index="docs")
    with pytest.raises(EngineError):
        manage.search_alias(spark, st, "nope", _q("alpha"))
    st = manage.put_alias(st, "ghost", index="no-such-index")
    got = manage.search_alias(spark, st, "ghost", _q("alpha"), k=10)
    assert got.count() == 0


# --------------------------------------- CDC doc_meta_cols passthrough


def test_cdc_batch_carries_doc_meta_cols(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mg_dmc"))
    corpus = _corpus(spark).withColumn("stars", F.col("version") + 7)
    build.build_index(corpus, _CFG, path, segment_docs=8, num_buckets=4,
                      doc_meta_cols=("stars",))
    st = search.load_store(path)
    manage.update_by_query(
        spark, corpus, st, _CFG, _q("beta"),
        {"stars": "stars + 1", "version": "version + 1"},
    )
    st = search.load_store(path)
    live = st.doc_stats(spark).join(
        st.dead_df(spark), "doc_int", "left_anti"
    )
    stars = {r["doc_id"]: r["stars"] for r in live.collect()}
    assert stars == {"d0": 8, "d1": 8, "d2": 7, "d3": 7, "d4": 7}


def test_cdc_missing_doc_meta_cols_fails_loudly(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mg_dmc2"))
    corpus = _corpus(spark).withColumn("stars", F.col("version") + 7)
    build.build_index(corpus, _CFG, path, segment_docs=8, num_buckets=4,
                      doc_meta_cols=("stars",))
    st = search.load_store(path)
    with pytest.raises(EngineError, match="doc_meta_cols"):
        # the source lacks the meta column -> the images lack it too
        manage.update_by_query(
            spark, _corpus(spark), st, _CFG, _q("beta"),
            {"version": "version + 1"},
        )
