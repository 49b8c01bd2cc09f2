"""Round-2 query-DSL additions vs the pure-Python oracle: regexp,
match_phrase_prefix, dis_max (SURVEY.md §2.2 — the reference relies on the
full ES query DSL being available over the documents it indexes,
/root/reference/lib/handler.js:100).
"""

import numpy as np
import pandas as pd
import pytest

from dynamo2es_lambda_spark import IndexerConfig
from dynamo2es_lambda_spark.errors import EngineError
from dynamo2es_lambda_spark.plans import build, search

from .oracle import PyOracle

CFG = IndexerConfig(index="code")


@pytest.fixture(scope="module")
def pos_store(spark, corpus_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dsl2idx"))
    build.build_index(
        corpus_df, CFG, path, segment_docs=64, num_buckets=8, positions=True
    )
    return search.load_store(path)


@pytest.fixture(scope="module")
def oracle(corpus_pdf):
    ids = (
        corpus_pdf["repo"] + "." + corpus_pdf["path"] + "." + corpus_pdf["commit"]
    ).tolist()
    return PyOracle(ids, corpus_pdf["content"].tolist())


def _assert_rank_identical(got, want, qid):
    assert len(got) == len(want), f"qid={qid}: {len(got)} vs {len(want)}"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        assert gd == wd, f"qid={qid} rank={i + 1}: doc {gd} != {wd}"
        assert gs == pytest.approx(ws, abs=1e-9), f"qid={qid} rank={i + 1}"


# --------------------------------------------------------------- regexp

def test_regexp_rank_identity(spark, pos_store, oracle):
    toks = oracle.toks[5]
    t0 = toks[0]
    pats = [
        (0, t0[:2] + ".*"),               # prefix-equivalent regex
        (1, "[a-f]" + t0[1:3] + ".?.*"),  # class + optional
        (2, "qu(ery|ick)[a-z]*"),
        (3, "zzz+absent"),
    ]
    res = search.search_regexp(
        spark, pos_store, pd.DataFrame(pats, columns=["qid", "pattern"]),
        k=10,
    ).toPandas()
    n_nonempty = 0
    for qid, p in pats:
        got = res[res.qid == qid].sort_values("rank")
        want = oracle.regexp_topk(p, k=10)
        n_nonempty += bool(want)
        _assert_rank_identical(
            list(zip(got["doc_id"], got["score"])), want, qid
        )
    assert n_nonempty >= 2


def test_regexp_rejects_empty_pattern(spark, pos_store):
    with pytest.raises(EngineError):
        search.search_regexp(
            spark, pos_store,
            pd.DataFrame([(0, "")], columns=["qid", "pattern"]),
        )


def test_regexp_expansion_cap(spark, pos_store, oracle):
    """A match-everything regex is bounded by max_expansions, and the capped
    expansion is deterministic (term-ascending) — identical to the oracle."""
    res = search.search_regexp(
        spark, pos_store,
        pd.DataFrame([(0, "[a-z0-9]*")], columns=["qid", "pattern"]),
        k=10, max_expansions=7,
    ).toPandas()
    want = oracle.regexp_topk("[a-z0-9]*", k=10, max_expansions=7)
    got = res[res.qid == 0].sort_values("rank")
    _assert_rank_identical(list(zip(got["doc_id"], got["score"])), want, 0)


# ----------------------------------------------------- match_phrase_prefix

def _pp_queries(oracle):
    toks = oracle.toks[3]
    # real bigram with the last token cut to a prefix; trigram ditto; a
    # camelCase form the tokenizer must split; an absent fixed term
    big = f"{toks[4]} {toks[5][:2]}"
    tri = f"{toks[10]} {toks[11]} {toks[12][:3]}"
    camel = toks[7] + toks[8][:2].capitalize()
    return [
        (0, big),
        (1, tri),
        (2, camel),
        (3, f"zzzabsent {toks[5][:2]}"),
        (4, toks[6][:3]),  # no fixed part: bare-prefix phrase
    ]


def test_phrase_prefix_rank_identity(spark, pos_store, oracle):
    qs = _pp_queries(oracle)
    res = search.search_phrase_prefix(
        spark, pos_store, pd.DataFrame(qs, columns=["qid", "query"]), k=10
    ).toPandas()
    n_nonempty = 0
    for qid, q in qs:
        got = res[res.qid == qid].sort_values("rank")
        want = oracle.phrase_prefix_topk(q, k=10)
        n_nonempty += bool(want)
        _assert_rank_identical(
            list(zip(got["doc_id"], got["score"])), want, qid
        )
    assert n_nonempty >= 3, "fixture phrase-prefixes must actually match"


def test_phrase_prefix_bare_prefix_batch(spark, pos_store, oracle):
    """A batch whose every query is a bare prefix (no fixed tokens, so no
    fixed-term table and no bucket column on it) ranks like the oracle —
    it raised ``KeyError: ['bucket']`` before."""
    qs = _pp_queries(oracle)[4:]  # the bare-prefix entry only
    res = search.search_phrase_prefix(
        spark, pos_store, pd.DataFrame(qs, columns=["qid", "query"]), k=10
    ).toPandas()
    assert len(res)
    for qid, q in qs:
        got = res[res.qid == qid].sort_values("rank")
        _assert_rank_identical(
            list(zip(got["doc_id"], got["score"])),
            oracle.phrase_prefix_topk(q, k=10), qid,
        )


def test_phrase_prefix_subsumes_phrase_hits(spark, pos_store, oracle):
    """Every exact-phrase hit must also be a phrase-prefix hit when the
    last token is left whole (the term itself completes its own prefix)."""
    toks = oracle.toks[3]
    q = f"{toks[4]} {toks[5]}"
    pp = search.search_phrase_prefix(
        spark, pos_store, pd.DataFrame([(0, q)], columns=["qid", "query"]),
        k=50,
    ).toPandas()
    ph = search.search_phrase(
        spark, pos_store, pd.DataFrame([(0, q)], columns=["qid", "query"]),
        k=50,
    ).toPandas()
    assert set(ph["doc_id"]) <= set(pp["doc_id"])


def test_phrase_prefix_needs_positions(spark, corpus_df, tmp_path):
    path = str(tmp_path / "nopos")
    build.build_index(
        corpus_df, CFG, path, segment_docs=64, num_buckets=8, positions=False
    )
    st = search.load_store(path)
    with pytest.raises(EngineError):
        search.search_phrase_prefix(
            spark, st, pd.DataFrame([(0, "a b")], columns=["qid", "query"])
        )


# --------------------------------------------------------------- dis_max

def test_dis_max_rank_identity(spark, pos_store, oracle):
    t = oracle.toks
    clauses = [
        (0, 0, f"{t[1][0]} {t[1][1]}"),
        (0, 1, f"{t[2][0]} {t[2][3]}"),
        (1, 0, t[4][2]),
        (1, 1, "zzzabsent"),
    ]
    for tie in (0.0, 0.3):
        res = search.search_dis_max(
            spark, pos_store,
            pd.DataFrame(clauses, columns=["qid", "clause", "query"]),
            k=10, tie_breaker=tie,
        ).toPandas()
        for qid in (0, 1):
            cq = [q for q_, _c, q in clauses if q_ == qid]
            want = oracle.dis_max_topk(cq, k=10, tie_breaker=tie)
            got = res[res.qid == qid].sort_values("rank")
            _assert_rank_identical(
                list(zip(got["doc_id"], got["score"])), want, qid
            )


# ---------------------------------------------- bool filter clause

def test_bool_filter_rank_identity(spark, pos_store, oracle):
    t = oracle.toks
    qs = [
        (0, t[1][0], "", "", t[1][1]),          # must + filter
        (1, "", f"{t[2][0]} {t[2][3]}", "", t[2][1]),  # should + filter
        (2, "", "", "", t[4][0]),                # pure filter (score 0)
        (3, t[1][0], "", "", "zzzabsent"),       # unindexed filter -> empty
    ]
    qpdf = pd.DataFrame(
        qs, columns=["qid", "must", "should", "must_not", "filter"]
    )
    res = search.search_bool(spark, pos_store, qpdf, k=10).toPandas()
    n_nonempty = 0
    for qid, m, s, mn, f in qs:
        got = res[res.qid == qid].sort_values("rank")
        want = oracle.bool_topk(m, s, mn, k=10, filt=f)
        n_nonempty += bool(want)
        _assert_rank_identical(
            list(zip(got["doc_id"], got["score"])), want, f"filter/{qid}"
        )
    assert n_nonempty >= 3
    assert len(res[res.qid == 3]) == 0


def test_bool_filter_never_scores(spark, pos_store, oracle):
    """Adding a filter clause must not change the SCORES of surviving
    docs — only restrict the candidate set."""
    t = oracle.toks
    base = search.search_bool(
        spark, pos_store,
        pd.DataFrame(
            [(0, t[1][0], "", "")],
            columns=["qid", "must", "should", "must_not"],
        ),
        k=10**6,
    ).toPandas().set_index("doc_id")
    filt = search.search_bool(
        spark, pos_store,
        pd.DataFrame(
            [(0, t[1][0], "", "", t[1][1])],
            columns=["qid", "must", "should", "must_not", "filter"],
        ),
        k=10**6,
    ).toPandas().set_index("doc_id")
    assert set(filt.index) <= set(base.index)
    assert 0 < len(filt) < len(base)
    for d in filt.index:
        assert filt.loc[d, "score"] == pytest.approx(
            base.loc[d, "score"], abs=1e-9
        )


# ------------------------------------------------------- span_first

def test_span_first_rank_identity(spark, pos_store, oracle):
    t_early = oracle.toks[0][0]   # appears at position 0 somewhere
    t_other = oracle.toks[9][5]
    for end in (1, 5, 20):
        res = search.search_span_first(
            spark, pos_store,
            pd.DataFrame(
                [(0, t_early), (1, t_other), (2, "zzzabsent")],
                columns=["qid", "term"],
            ),
            end=end, k=10,
        ).toPandas()
        for qid, t in ((0, t_early), (1, t_other), (2, "zzzabsent")):
            got = res[res.qid == qid].sort_values("rank")
            want = oracle.span_first_topk(t, end=end, k=10)
            _assert_rank_identical(
                list(zip(got["doc_id"], got["score"])), want,
                f"span_first/{qid}/end={end}",
            )


def test_span_first_narrower_end_shrinks_matches(spark, pos_store, oracle):
    t = oracle.toks[0][0]
    wide = set(
        search.search_span_first(
            spark, pos_store,
            pd.DataFrame([(0, t)], columns=["qid", "term"]),
            end=50, k=10**6,
        ).toPandas()["doc_id"]
    )
    narrow = set(
        search.search_span_first(
            spark, pos_store,
            pd.DataFrame([(0, t)], columns=["qid", "term"]),
            end=1, k=10**6,
        ).toPandas()["doc_id"]
    )
    assert narrow <= wide
    with pytest.raises(EngineError):
        search.search_span_first(
            spark, pos_store,
            pd.DataFrame([(0, t)], columns=["qid", "term"]), end=0,
        )


# ------------------------------------------------- completion suggester

def test_suggest_completions(spark, pos_store, oracle):
    t = oracle.toks[7][0]
    res = search.suggest_completions(
        spark, pos_store,
        pd.DataFrame([(0, t[:2]), (1, "zzzz")], columns=["qid", "prefix"]),
        k=5,
    ).toPandas().sort_values(["qid", "rank"])
    cands = sorted(
        ((-df, term) for term, df in oracle.df.items()
         if term.startswith(t[:2])),
    )[:5]
    got = res[res.qid == 0]
    assert list(got["suggestion"]) == [c[1] for c in cands]
    assert list(got["df"]) == [-c[0] for c in cands]
    assert len(res[res.qid == 1]) == 0
    with pytest.raises(EngineError):
        search.suggest_completions(
            spark, pos_store,
            pd.DataFrame([(0, "")], columns=["qid", "prefix"]),
        )


# ---------------------------------------------- bool msm scoping

def test_bool_msm_leaves_should_less_queries_alone(spark, pos_store, oracle):
    """minimum_should_match applies only to queries that DECLARED a should
    clause (ES behavior) — a must-only query in the same batch must be
    unaffected (regression: msm wiped its results)."""
    t = oracle.toks
    queries = pd.DataFrame(
        [
            (0, t[1][0], "", ""),               # must-only
            (1, "", f"{t[2][0]} {t[2][3]}", ""),  # should-only
        ],
        columns=["qid", "must", "should", "must_not"],
    )
    with_msm = search.search_bool(
        spark, pos_store, queries, k=10, minimum_should_match=2
    ).toPandas()
    no_msm = search.search_bool(spark, pos_store, queries, k=10).toPandas()
    g0 = with_msm[with_msm.qid == 0].sort_values("rank")
    w0 = no_msm[no_msm.qid == 0].sort_values("rank")
    assert list(g0["doc_id"]) == list(w0["doc_id"]), "must-only unaffected"
    assert len(g0) > 0
    # the should-only query IS gated: every hit has both should terms
    g1 = with_msm[with_msm.qid == 1]
    want = {d for d, _ in oracle.topk(
        f"{t[2][0]} {t[2][3]}", k=10**9, minimum_should_match=2
    )}
    assert set(g1["doc_id"]) <= want


# ------------------------------------------------- match_phrase slop

def test_phrase_slop_rank_identity(spark, pos_store, oracle):
    toks = oracle.toks[3]
    qs = [
        (0, f"{toks[4]} {toks[6]}"),        # gap of 1 -> needs slop >= 1
        (1, f"{toks[10]} {toks[12]}"),      # gap of 1 in a trigram window
        (2, f"{toks[5]} {toks[4]}"),        # reversed: in-order must hold
        (3, " ".join(toks[4:6])),           # true bigram
    ]
    for slop in (1, 2):
        res = search.search_phrase(
            spark, pos_store, pd.DataFrame(qs, columns=["qid", "query"]),
            k=10, slop=slop,
        ).toPandas()
        n_nonempty = 0
        for qid, q in qs:
            got = res[res.qid == qid].sort_values("rank")
            want = oracle.phrase_topk(q, k=10, slop=slop)
            n_nonempty += bool(want)
            _assert_rank_identical(
                list(zip(got["doc_id"], got["score"])), want,
                f"{qid}/slop={slop}",
            )
        assert n_nonempty >= 2


def test_phrase_slop_zero_equals_exact(spark, pos_store, oracle):
    toks = oracle.toks[3]
    q = " ".join(toks[4:6])
    qpdf = pd.DataFrame([(0, q)], columns=["qid", "query"])
    a = search.search_phrase(spark, pos_store, qpdf, k=10).toPandas()
    b = search.search_phrase(spark, pos_store, qpdf, k=10, slop=0).toPandas()
    assert list(a.sort_values("rank")["doc_id"]) == list(
        b.sort_values("rank")["doc_id"]
    )


def test_phrase_slop_widens_monotonically(spark, pos_store, oracle):
    """More slop can only ADD matches; slop-0 hits survive any slop."""
    toks = oracle.toks[3]
    q = " ".join(toks[4:6])
    qpdf = pd.DataFrame([(0, q)], columns=["qid", "query"])
    exact = set(
        search.search_phrase(spark, pos_store, qpdf, k=10**6)
        .toPandas()["doc_id"]
    )
    wide = set(
        search.search_phrase(spark, pos_store, qpdf, k=10**6, slop=3)
        .toPandas()["doc_id"]
    )
    assert exact <= wide


# ------------------------------------------------------------- boosting

def test_boosting_rank_identity(spark, pos_store, oracle):
    t = oracle.toks
    qs = [
        (0, f"{t[1][0]} {t[1][1]}", t[2][0]),
        (1, t[4][2], "zzzabsent"),       # negative matches nothing
        (2, "zzzabsent", t[4][2]),       # positive matches nothing
    ]
    res = search.search_boosting(
        spark, pos_store,
        pd.DataFrame(qs, columns=["qid", "positive", "negative"]),
        k=10, negative_boost=0.3,
    ).toPandas()
    n_nonempty = 0
    for qid, pos, neg in qs:
        got = res[res.qid == qid].sort_values("rank")
        want = oracle.boosting_topk(pos, neg, k=10, negative_boost=0.3)
        n_nonempty += bool(want)
        _assert_rank_identical(
            list(zip(got["doc_id"], got["score"])), want, qid
        )
    assert n_nonempty >= 2


def test_boosting_demotes_not_excludes(spark, pos_store, oracle):
    """Docs matching the negative half must stay in the result set with a
    scaled score, never disappear."""
    t = oracle.toks
    pos, neg = t[1][0], t[1][0]  # every positive match also matches neg
    res = search.search_boosting(
        spark, pos_store,
        pd.DataFrame([(0, pos, neg)], columns=["qid", "positive", "negative"]),
        k=10**6, negative_boost=0.5,
    ).toPandas()
    plain = search.search(
        spark, pos_store, pd.DataFrame([(0, pos)], columns=["qid", "query"]),
        k=10**6,
    ).toPandas()
    assert set(res["doc_id"]) == set(plain["doc_id"])
    merged = res.merge(plain, on="doc_id", suffixes=("_b", "_p"))
    assert np.allclose(
        merged["score_b"], merged["score_p"] * 0.5, atol=1e-9
    )


# --------------------------------------------- match minimum_should_match

def test_match_minimum_should_match(spark, pos_store, oracle):
    q = " ".join(oracle.toks[6][:3])
    for msm in (1, 2, 3):
        res = search.search(
            spark, pos_store,
            pd.DataFrame([(0, q)], columns=["qid", "query"]),
            k=10, minimum_should_match=msm,
        ).toPandas()
        want = oracle.topk(q, k=10, minimum_should_match=msm)
        got = res.sort_values("rank")
        _assert_rank_identical(
            list(zip(got["doc_id"], got["score"])), want, f"msm={msm}"
        )
    # r5: the WAND path supports msm natively — must equal exhaustive
    resw = search.search(
        spark, pos_store,
        pd.DataFrame([(0, q)], columns=["qid", "query"]),
        k=10, algo="wand", minimum_should_match=2,
    ).toPandas().sort_values("rank")
    want = oracle.topk(q, k=10, minimum_should_match=2)
    _assert_rank_identical(
        list(zip(resw["doc_id"], resw["score"])), want, "wand msm=2"
    )


# ----------------------------------------------------------- query_string

def _qs_queries(oracle):
    t = oracle.toks
    big = " ".join(t[3][4:6])      # a real consecutive bigram
    return [
        (0, f'+{t[1][0]} {t[1][1]} "{big}"'),   # must + should + phrase
        (1, f"{t[4][2]} -{t[4][0]}"),           # should + must_not
        (2, f'"{big}" -zzzabsent'),             # phrase only
        (3, "+zzzabsent spark"),                # unindexed must -> empty
        (4, f"{t[2][0]} {t[2][3]}"),            # plain OR
    ]


def test_query_string_rank_identity(spark, pos_store, oracle):
    qs = _qs_queries(oracle)
    res = search.search_query_string(
        spark, pos_store, pd.DataFrame(qs, columns=["qid", "query"]), k=10
    ).toPandas()
    n_nonempty = 0
    for qid, q in qs:
        got = res[res.qid == qid].sort_values("rank")
        want = oracle.query_string_topk(q, k=10)
        n_nonempty += bool(want)
        _assert_rank_identical(
            list(zip(got["doc_id"], got["score"])), want, qid
        )
    assert n_nonempty >= 3


def test_query_string_plain_equals_or_match(spark, pos_store, oracle):
    q = f"{oracle.toks[0][0]} {oracle.toks[0][1]}"
    qs = search.search_query_string(
        spark, pos_store, pd.DataFrame([(0, q)], columns=["qid", "query"]),
        k=10,
    ).toPandas()
    plain = search.search(
        spark, pos_store, pd.DataFrame([(0, q)], columns=["qid", "query"]),
        k=10,
    ).toPandas()
    got = list(zip(qs.sort_values("rank")["doc_id"], qs["score"]))
    want = list(zip(plain.sort_values("rank")["doc_id"], plain["score"]))
    _assert_rank_identical(got, want, "plain≡or")


def test_query_string_parser():
    from dynamo2es_lambda_spark.plans.search import parse_query_string

    p = parse_query_string('+reqWord plain -noWay "a b c" other')
    assert p["must"] == ["req", "word"]
    assert p["should"] == ["plain", "other"]
    assert p["must_not"] == ["no", "way"]
    assert p["phrases"] == ["a b c"]
    with pytest.raises(EngineError):
        parse_query_string('-"bad phrase"')


def test_dis_max_tie_breaker_zero_is_pure_max(spark, pos_store, oracle):
    """With one clause, dis_max must equal the plain OR query."""
    q = f"{oracle.toks[0][0]} {oracle.toks[0][1]}"
    dm = search.search_dis_max(
        spark, pos_store,
        pd.DataFrame([(0, 0, q)], columns=["qid", "clause", "query"]),
        k=10,
    ).toPandas()
    want = oracle.topk(q, k=10)
    _assert_rank_identical(
        list(zip(dm.sort_values("rank")["doc_id"], dm["score"])), want, 0
    )
