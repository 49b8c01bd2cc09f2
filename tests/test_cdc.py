"""CDC apply semantics: dispatch / REMOVE bump / LWW / tombstones /
incremental+compact == rebuild (SURVEY.md §5.2.5), plus the streaming
wrapper. Event model mirrors /root/reference/test/utils/
ddb-stream-event-formatter.js (NEW_AND_OLD_IMAGES)."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dynamo2es_lambda_spark import IndexerConfig
from dynamo2es_lambda_spark.errors import EngineError
from dynamo2es_lambda_spark.operators import actions
from dynamo2es_lambda_spark.plans import build, cdc, search
from dynamo2es_lambda_spark.sources import synthetic
from dynamo2es_lambda_spark.streaming import apply_cdc

from .oracle import PyOracle

CFG = IndexerConfig(index="code", version_field="version",
                    record_error_hook=lambda df: None)
N0 = 100


def _corpus0():
    pdf = synthetic.corpus_pdf(np.arange(N0))
    pdf["version"] = 0
    return pdf


def _img(row, version, content=None):
    return {
        "repo": row["repo"], "path": row["path"], "commit": row["commit"],
        "lang": row["lang"],
        "content": content if content is not None else row["content"],
        "version": version,
    }


def _keys(row):
    return {"repo": row["repo"], "path": row["path"], "commit": row["commit"]}


def _events_pdf():
    """INSERTs 100-109 (v1), MODIFYs 10-19 (v1; doc 10 also gets a v2 that
    must win), REMOVEs 20-29, plus UNKNOWN rows → quarantine."""
    c0 = _corpus0()
    new_docs = synthetic.corpus_pdf(np.arange(100, 110))
    rows = []
    for _, r in new_docs.iterrows():
        rows.append(("INSERT", _keys(r), _img(r, 1), None))
    for i in range(10, 20):
        r = c0.iloc[i]
        rows.append(("MODIFY", _keys(r), _img(r, 1, r["content"] + " modified token"), _img(r, 0)))
    # out-of-order duplicate: higher version must win regardless of position
    r10 = c0.iloc[10]
    rows.insert(3, ("MODIFY", _keys(r10), _img(r10, 2, "winner version two tokens"), _img(r10, 0)))
    for i in range(20, 30):
        r = c0.iloc[i]
        rows.append(("REMOVE", _keys(r), None, _img(r, 0)))
    r0 = c0.iloc[0]
    rows.append(("UNKNOWN_EVENT", _keys(r0), _img(r0, 9), None))
    return pd.DataFrame(rows, columns=["event_name", "keys", "new_image", "old_image"])


def _net_corpus():
    """Expected post-CDC live corpus."""
    c0 = _corpus0()
    keep = c0.drop(index=range(20, 30)).copy()
    for i in range(10, 20):
        keep.loc[i, "content"] = (
            "winner version two tokens" if i == 10
            else c0.iloc[i]["content"] + " modified token"
        )
    new_docs = synthetic.corpus_pdf(np.arange(100, 110))
    return pd.concat([keep, new_docs], ignore_index=True)


def _events_df(spark):
    return spark.createDataFrame(_events_pdf(), schema=apply_cdc.EVENT_SCHEMA)


def _doc_ids(pdf):
    return (pdf["repo"] + "." + pdf["path"] + "." + pdf["commit"]).tolist()


def test_dispatch_semantics(spark):
    df = _events_df(spark)
    from dynamo2es_lambda_spark.operators import fieldmap

    routed = actions.dispatch(fieldmap.apply_field_mapping(df, CFG))
    pdf = routed.select("event_name", "action", "version", "error").toPandas()
    assert set(pdf[pdf.event_name == "INSERT"]["action"]) == {"index"}
    assert set(pdf[pdf.event_name == "REMOVE"]["action"]) == {"delete"}
    # REMOVE bump: old version 0 → tombstone version 1 (lib/handler.js:104-106)
    assert set(pdf[pdf.event_name == "REMOVE"]["version"]) == {1.0}
    unk = pdf[pdf.event_name == "UNKNOWN_EVENT"]
    assert unk["error"].iloc[0] == '"UNKNOWN_EVENT" is an unknown event name'


@pytest.fixture(scope="module")
def cdc_store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cdc_store"))
    corpus = spark.createDataFrame(_corpus0())
    build.build_index(corpus, CFG, path, segment_docs=64, num_buckets=8)
    res = cdc.apply_changes(
        _events_df(spark), CFG, path, segment_docs=64, num_buckets=8
    )
    assert res["upserts"] == 20  # 10 inserts + 10 modifies (LWW folded dup)
    assert res["deletes"] == 10
    assert res["quarantined"] == 1
    return path


def test_deleted_docs_absent(spark, cdc_store):
    store = search.load_store(cdc_store)
    c0 = _corpus0()
    removed_ids = set(_doc_ids(c0.iloc[20:30]))
    q = pd.DataFrame({"qid": [0], "query": ["def"]})  # hottest term
    res = search.search(spark, store, q, k=200).toPandas()
    assert not (set(res["doc_id"]) & removed_ids)


def test_lww_duplicate_folded(spark, cdc_store):
    store = search.load_store(cdc_store)
    q = pd.DataFrame({"qid": [0], "query": ["winner"]})
    res = search.search(spark, store, q, k=5).toPandas()
    c0 = _corpus0()
    assert res["doc_id"].tolist() == [_doc_ids(c0.iloc[[10]])[0]]


def test_incremental_plus_compact_equals_rebuild(spark, cdc_store, tmp_path_factory):
    cdc.compact_store(spark, cdc_store, num_buckets=8)
    store = search.load_store(cdc_store)
    net = _net_corpus()
    assert store.meta["n_docs"] == len(net)
    oracle = PyOracle(_doc_ids(net), net["content"].tolist())
    assert store.meta["avgdl"] == pytest.approx(oracle.avgdl)

    qpdf = synthetic.queries_pdf()
    for algo in ("exhaustive", "wand"):
        res = search.search(spark, store, qpdf, k=10, algo=algo).toPandas()
        for qid, q in zip(qpdf["qid"], qpdf["query"]):
            got = res[res.qid == qid].sort_values("rank")
            want = oracle.topk(q, k=10)
            assert got["doc_id"].tolist() == [d for d, _ in want], (algo, qid)
            for g, (_, ws) in zip(got["score"], want):
                assert g == pytest.approx(ws, abs=1e-9)

    # sha256 invariant holds for the net corpus after CDC + compaction
    net_df = spark.createDataFrame(net.assign(version=0))
    assert build.verify_sha256(net_df, CFG, cdc_store) == 0


def test_streaming_foreachbatch(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("events_src"))
    chk = str(tmp_path_factory.mktemp("chk"))
    store_path = str(tmp_path_factory.mktemp("stream_store"))
    build.build_index(
        spark.createDataFrame(_corpus0()), CFG, store_path,
        segment_docs=64, num_buckets=8,
    )
    _events_df(spark).write.mode("overwrite").parquet(src)
    q = apply_cdc.start_cdc_stream(
        spark, CFG, store_path, src, chk, segment_docs=64, num_buckets=8
    )
    q.awaitTermination(120)
    cdc.compact_store(spark, store_path, num_buckets=8)
    store = search.load_store(store_path)
    assert store.meta["n_docs"] == len(_net_corpus())


def test_phrase_survives_cdc_and_compaction(spark, tmp_path_factory):
    """A positional store stays phrase-queryable through incremental CDC
    batches (new segments inherit positions) and compaction (pos payloads
    sliced, not dropped) — rank-identical to the oracle on the net corpus."""
    path = str(tmp_path_factory.mktemp("cdc_pos"))
    corpus = spark.createDataFrame(_corpus0())
    build.build_index(
        corpus, CFG, path, segment_docs=64, num_buckets=8, positions=True
    )
    cdc.apply_changes(_events_df(spark), CFG, path, segment_docs=64,
                      num_buckets=8)
    store = search.load_store(path)
    assert store.meta["positions"] is True  # flag preserved by finalize

    net = _net_corpus()
    oracle = PyOracle(_doc_ids(net), net["content"].tolist())
    # phrases: one from the v2-winning modified doc, one from an inserted
    # doc, one from an original doc, one absent
    ins_toks = oracle.toks[oracle.doc_ids.index(_doc_ids(net.iloc[[95]])[0])]
    qs = [
        (0, "winner version two"),
        (1, " ".join(ins_toks[2:4])),
        (2, "modified token"),
        (3, "zzz nope"),
    ]
    qpdf = pd.DataFrame(qs, columns=["qid", "query"])

    def check(exact_ranks: bool):
        res = search.search_phrase(spark, store, qpdf, k=100).toPandas()
        nonempty = 0
        for qid, q in qs:
            got = res[res.qid == qid].sort_values("rank")
            want = oracle.phrase_topk(q, k=100)
            nonempty += bool(want)
            if exact_ranks:
                assert got["doc_id"].tolist() == [d for d, _ in want], (qid, q)
            else:
                # pre-compaction BM25 stats still count dead docs (documented
                # Lucene-style drift) → match the SET, not the order
                assert set(got["doc_id"]) == {d for d, _ in want}, (qid, q)
        assert nonempty >= 3

    check(exact_ranks=False)  # pre-compaction: dead filtering, drifted stats
    cdc.compact_store(spark, path, num_buckets=8)
    store = search.load_store(path)
    assert store.meta["positions"] is True
    check(exact_ranks=True)  # post-compaction: exact stats, payloads intact


def test_cdc_inherits_store_bucket_layout(spark, tmp_path_factory):
    """apply_changes without num_buckets must reuse the store's bucket
    modulus (regression: a default-bucket CDC batch on a non-default-bucket
    store split terms across two pmod layouts and pruned away matches)."""
    path = str(tmp_path_factory.mktemp("cdc_buckets"))
    corpus = spark.createDataFrame(_corpus0())
    build.build_index(corpus, CFG, path, segment_docs=64, num_buckets=8)
    res = cdc.apply_changes(_events_df(spark), CFG, path, segment_docs=64)
    assert res["upserts"] == 20

    store = search.load_store(path)
    assert store.meta["num_buckets"] == 8
    # every block (old + CDC batches) lies in the 8-bucket layout
    from pyspark.sql import functions as F
    from dynamo2es_lambda_spark.sources import store_io

    bad = (
        store_io.read_blocks(spark, path)
        .filter(
            F.col("term_bucket")
            != F.pmod(F.abs(F.xxhash64("term")), F.lit(8))
        )
        .count()
    )
    assert bad == 0
    # the v2-winning modified doc (new batch) is findable
    q = pd.DataFrame({"qid": [0], "query": ["winner"]})
    got = search.search(spark, store, q, k=5).toPandas()
    assert len(got) == 1


def test_compaction_rejects_a_different_bucket_count(spark, tmp_path_factory):
    """compact_store never re-buckets: an explicit num_buckets other than
    the store's raises and leaves meta.json byte-for-byte unchanged (the
    blocks stay under the store's own term_bucket= directories); None or
    the store's own value compacts."""
    path = str(tmp_path_factory.mktemp("cdc_compact_buckets"))
    corpus = spark.createDataFrame(_corpus0().iloc[:50])
    build.build_index(corpus, CFG, path, segment_docs=64, num_buckets=4)
    meta_path = os.path.join(path, "meta.json")
    before = open(meta_path, "rb").read()
    with pytest.raises(EngineError, match="num_buckets=4"):
        cdc.compact_store(spark, path, num_buckets=16)
    with pytest.raises(EngineError, match="num_buckets=4"):
        cdc.maybe_compact(spark, path, max_batches=0, num_buckets=16)
    assert open(meta_path, "rb").read() == before
    cdc.compact_store(spark, path, num_buckets=4)
    cdc.compact_store(spark, path)
    assert search.load_store(path).meta["num_buckets"] == 4


def test_delete_only_batches_do_not_clobber_tombstones(spark, tmp_path_factory):
    """Regression: consecutive delete-only CDC batches each claim a batch
    name; the second must not overwrite the first's tombstones (which
    silently resurrected the first batch's deleted docs)."""
    path = str(tmp_path_factory.mktemp("delonly"))
    corpus = spark.createDataFrame(_corpus0())
    build.build_index(corpus, CFG, path, segment_docs=64, num_buckets=8)
    c0 = _corpus0()

    def remove_event(i):
        r = c0.iloc[i]
        return ("REMOVE", _keys(r), None, _img(r, 0))

    for i in (5, 6):  # two separate delete-only batches
        ev = pd.DataFrame([remove_event(i)],
                          columns=["event_name", "keys", "new_image",
                                   "old_image"])
        cdc.apply_changes(
            spark.createDataFrame(ev, schema=apply_cdc.EVENT_SCHEMA),
            CFG, path, segment_docs=64,
        )

    store = search.load_store(path)
    assert store.meta["n_docs"] == N0 - 2  # BOTH docs stay dead
    gone = set(_doc_ids(c0.iloc[[5, 6]]))
    res = search.search(
        spark, store, pd.DataFrame({"qid": [0], "query": ["def"]}), k=200
    ).toPandas()
    assert not (set(res["doc_id"]) & gone)


def test_empty_hash_batch_is_checkpointed_not_crashed(spark, tmp_path_factory):
    """Regression: many batches over a tiny corpus leave some hash batches
    empty; they must checkpoint and skip, not die on schema inference."""
    path = str(tmp_path_factory.mktemp("emptybatch"))
    small = spark.createDataFrame(synthetic.corpus_pdf(np.arange(5)))
    res = build.build_index(
        small, IndexerConfig(index="code"), path,
        segment_docs=64, num_buckets=8, num_batches=16,
    )
    assert res.n_docs == 5
    store = search.load_store(path)
    assert store.meta["n_docs"] == 5
    # resume run: everything checkpointed, nothing rebuilt
    res2 = build.build_index(
        small, IndexerConfig(index="code"), path,
        segment_docs=64, num_buckets=8, num_batches=16,
    )
    assert res2.skipped_batches == 16


def test_lww_version_tie_is_deterministic(spark):
    """Regression: equal-version duplicates must pick the same winner on
    every run (full-row-hash tie-break, not shuffle arrival order)."""
    pdf = pd.DataFrame({
        "doc_id": ["d"] * 2,
        "content": ["alpha words here", "beta words here"],
        "version": [3, 3],
    })
    winners = set()
    for parts in (1, 7):
        df = spark.createDataFrame(pdf).repartition(parts)
        w = build.dedup_latest_version(df).toPandas()
        assert len(w) == 1
        winners.add(w["content"].iloc[0])
    assert len(winners) == 1


def test_failed_batch_build_leaves_no_tombstones(spark, tmp_path, monkeypatch):
    """Fault injection: the batch build raises inside run_concurrent while
    the tombstone write runs beside it. The batch never checkpoints, so its
    tombstones must be gone too — a later finalize would otherwise apply
    its deletes without its upserts."""
    path = str(tmp_path / "cdc_fail")
    build.build_index(
        spark.createDataFrame(_corpus0()), CFG, path,
        segment_docs=64, num_buckets=8,
    )
    name = f"b{cdc._next_batch_idx(path)}"

    def failing_build(*args, **kwargs):
        raise RuntimeError("injected batch build failure")

    monkeypatch.setattr(build, "_build_batch", failing_build)
    with pytest.raises(RuntimeError, match="injected batch build failure"):
        cdc.apply_changes(_events_df(spark), CFG, path, segment_docs=64)
    assert not os.path.exists(
        os.path.join(path, "tombstones", f"batch={name}")
    )
    assert not os.path.exists(
        os.path.join(path, "checkpoints", f"{name}.json")
    )


def test_pinned_segment_schema(spark, tmp_path):
    """meta.json pins the segment tree's schema as a tree read would infer
    it; a store finalized before the pin reads by inference with the same
    answers, and its next finalize pins the schema."""
    import json

    from pyspark.sql.types import StructType

    from dynamo2es_lambda_spark.sources import store_io

    path = str(tmp_path / "pinned")
    build.build_index(
        spark.createDataFrame(_corpus0()), CFG, path,
        segment_docs=64, num_buckets=8,
    )
    meta = store_io.read_meta(path)
    pinned = StructType.fromJson(meta["segments_schema"])
    inferred = spark.read.parquet(os.path.join(path, "segments")).schema
    assert pinned.fieldNames() == inferred.fieldNames()
    q = pd.DataFrame({"qid": [0, 1], "query": ["def", "return function"]})

    def answers():
        return search.search(
            spark, search.load_store(path), q, k=10, algo="wand"
        ).collect()

    want = answers()
    del meta["segments_schema"]
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)
    assert answers() == want
    cdc.apply_changes(_events_df(spark), CFG, path, segment_docs=64)
    assert "segments_schema" in store_io.read_meta(path)


@pytest.mark.parametrize("positions", [False, True])
def test_compaction_blocks_equal_encode_blocks_reference(
    spark, tmp_path, positions
):
    """Every block compaction writes equals codec.encode_blocks over that
    block's kept postings (and kept per-doc positions): blocks that lost no
    doc keep their bytes, emptied blocks drop, the rest re-encode. At least
    one block must actually change, so the check cannot pass vacuously."""
    from dynamo2es_lambda_spark.functions import codec
    from dynamo2es_lambda_spark.sources import store_io

    path = str(tmp_path / f"cmp_pos{int(positions)}")
    build.build_index(
        spark.createDataFrame(_corpus0()), CFG, path,
        segment_docs=64, num_buckets=8, positions=positions,
    )
    cdc.apply_changes(_events_df(spark), CFG, path, segment_docs=64)
    cols = ["term", "seg", "block_id", "n_docs", "doc_first", "doc_last",
            "max_tf", "min_dl", "doc_bytes", "tf_bytes", "dl_bytes",
            "pos_bytes"]
    before = store_io.read_blocks(spark, path).select(*cols).toPandas()
    dead = set(
        spark.read.parquet(os.path.join(path, "dead"))
        .toPandas()["doc_int"].tolist()
    )
    assert dead
    want, n_changed = [], 0
    for row in before.itertuples(index=False):
        ids, tfs, dls = codec.decode_block(
            row.doc_first, row.doc_bytes, row.tf_bytes, row.dl_bytes
        )
        keep = ~np.isin(ids, list(dead))
        if keep.all():
            want.append(tuple(row))
            continue
        if not keep.any():
            continue
        n_changed += 1
        payloads = None
        if row.pos_bytes is not None:
            flat, starts = codec.decode_block_positions(row.pos_bytes, tfs)
            payloads = [
                codec.varbyte_encode(codec.segmented_deltas(
                    flat[starts[j]: starts[j] + tfs[j]], [tfs[j]]
                ))
                for j in np.flatnonzero(keep)
            ]
        (b,) = codec.encode_blocks(
            ids[keep], tfs[keep], dls[keep], pos_payloads=payloads
        )
        b.update(term=row.term, seg=row.seg, block_id=row.block_id)
        want.append(tuple(b[c] for c in cols))
    assert n_changed >= 1
    assert (before["pos_bytes"].notna().all() if positions
            else before["pos_bytes"].isna().all())

    cdc.compact_store(spark, path)
    after = store_io.read_blocks(spark, path).select(*cols).toPandas()
    got = [tuple(r) for r in after.itertuples(index=False)]

    def key(t):
        return tuple(b"" if v is None else v for v in t)

    assert sorted(map(key, got)) == sorted(map(key, want))
