"""Resumability (SURVEY.md §5.2.6): kill-and-rerun produces an identical
index; multi-batch builds (strided doc_ints, per-batch seg namespace) are
rank-identical to single-batch ones."""

import os
import shutil

import numpy as np
import pytest

from dynamo2es_lambda_spark import IndexerConfig
from dynamo2es_lambda_spark.errors import EngineError
from dynamo2es_lambda_spark.plans import build, search
from dynamo2es_lambda_spark.sources import synthetic

from .oracle import PyOracle

CFG = IndexerConfig(index="code")
N = 300


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(synthetic.corpus_pdf(np.arange(N))).repartition(5)


def _results(spark, path):
    q = synthetic.queries_pdf()
    return (
        search.search(spark, search.load_store(path), q, k=10)
        .orderBy("qid", "rank")
        .toPandas()
    )


def test_multibatch_rank_identity(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mb"))
    res = build.build_index(
        corpus, CFG, path, segment_docs=64, num_buckets=8, num_batches=3
    )
    assert res.n_docs == N
    assert sorted(res.batches) == ["b0", "b1", "b2"]
    pdf = synthetic.corpus_pdf(np.arange(N))
    ids = (pdf["repo"] + "." + pdf["path"] + "." + pdf["commit"]).tolist()
    oracle = PyOracle(ids, pdf["content"].tolist())
    got = _results(spark, path)
    for qid, q in zip(synthetic.queries_pdf()["qid"], synthetic.queries_pdf()["query"]):
        g = got[got.qid == qid]
        want = oracle.topk(q, k=10)
        assert g["doc_id"].tolist() == [d for d, _ in want], qid
        for gs, (_, ws) in zip(g["score"], want):
            assert gs == pytest.approx(ws, abs=1e-9)


def test_resume_after_partial_failure(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("resume"))
    build.build_index(
        corpus, CFG, path, segment_docs=64, num_buckets=8, num_batches=3
    )
    baseline = _results(spark, path)

    # simulate a mid-build crash: batch b1's outputs + checkpoint vanish
    for sub in ("segments", "lineage"):
        shutil.rmtree(os.path.join(path, sub, "batch=b1"))
    from dynamo2es_lambda_spark.sources import store_io

    store_io.clear_checkpoint(path, "b1")

    res = build.build_index(
        corpus, CFG, path, segment_docs=64, num_buckets=8, num_batches=3
    )
    # only the missing batch was rebuilt
    assert res.n_docs < N and res.n_docs > 0
    assert _results(spark, path).equals(baseline)
    # lineage has exactly one row-set per batch (no duplicates)
    lin = spark.read.parquet(os.path.join(path, "lineage"))
    assert lin.select("batch").distinct().count() == 3


def test_retry_reruns_batch(spark, corpus, tmp_path_factory):
    attempts = {"n": 0}

    def flaky_transform(df):
        attempts["n"] += 1
        if attempts["n"] == 1:
            raise RuntimeError("transient failure")
        return df

    cfg = IndexerConfig(index="code", transform_record_hook=flaky_transform,
                        retry_options={"retries": 0})
    path = str(tmp_path_factory.mktemp("retry0"))
    with pytest.raises(RuntimeError, match="transient failure"):
        build.build_index(corpus, cfg, path, segment_docs=64, num_buckets=8)

    # reference retry semantics: retries+1 attempts (handler-tests.js:1791-)
    attempts["n"] = 0

    def flaky_batch(df):
        return df

    calls = {"n": 0}
    real_build = build._build_batch_once

    def failing_once(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("batch write failed")
        return real_build(*args, **kwargs)

    cfg2 = IndexerConfig(index="code", retry_options={"retries": 1})
    path2 = str(tmp_path_factory.mktemp("retry1"))
    build._build_batch_once, orig = failing_once, real_build
    try:
        res = build.build_index(corpus, cfg2, path2, segment_docs=64, num_buckets=8)
    finally:
        build._build_batch_once = orig
    assert calls["n"] == 2
    assert res.n_docs == N


def test_rejected_fresh_build_keeps_previous_term_stats(
    spark, corpus, tmp_path
):
    """A fresh single-batch build writes term_stats only after the
    duplicate-doc audit passed: on a directory holding a term_stats table
    and no checkpoints, a corpus with a duplicated doc_id raises and the
    old term_stats files stay byte-for-byte as they were."""
    path = str(tmp_path / "ts")
    build.build_index(corpus, CFG, path, segment_docs=64, num_buckets=8)
    shutil.rmtree(os.path.join(path, "checkpoints"))
    ts_dir = os.path.join(path, "term_stats")

    def snapshot():
        return {
            fn: open(os.path.join(ts_dir, fn), "rb").read()
            for fn in sorted(os.listdir(ts_dir))
        }

    before = snapshot()
    assert any(fn.endswith(".parquet") for fn in before)
    dup = spark.createDataFrame(
        [("r", "p", "c", "py", "zebra quokka one"),
         ("r", "p", "c", "py", "zebra quokka two")],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    with pytest.raises(EngineError, match="duplicate doc_ids"):
        build.build_index(dup, CFG, path, segment_docs=64, num_buckets=8)
    assert snapshot() == before
