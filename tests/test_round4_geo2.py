"""geo_polygon / geo_line / change_point / semantic_dedup: the second
round-4 geo-and-pipeline batch. The polygon predicate is fuzzed against a
pure-Python even-odd reference THROUGH DuckDB (the same expression text the
oracle runs); the engine paths run over a doc_meta_cols store like the ones
the reference's field mapping ships (lib/handler.js:100)."""

import math
import random
import warnings

import duckdb
import numpy as np
import pandas as pd
import pytest

from dynamo2es_lambda_spark import IndexerConfig
from dynamo2es_lambda_spark.errors import EngineError
from dynamo2es_lambda_spark.operators import ann
from dynamo2es_lambda_spark.plans import build, search

# 12 docs matching 'alpha' with a lat/lon lattice and an n_chars-like
# sort key; d12 matches nothing.
_DOCS = [
    (f"d{i:02d}", "alpha point", float(i * 10 - 50), float(i * 20 - 100),
     float((i * 7) % 12))
    for i in range(12)
] + [("d12", "beta other", 0.0, 0.0, 99.0)]


@pytest.fixture(scope="module")
def geo_store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("r4_geo2"))
    corpus = spark.createDataFrame(
        pd.DataFrame(_DOCS, columns=["doc_id", "content", "lat", "lon", "s"])
    )
    cfg = IndexerConfig(index="docs", id_field="doc_id")
    build.build_index(
        corpus, cfg, path, segment_docs=8, num_buckets=4,
        doc_meta_cols=("lat", "lon", "s"),
    )
    return search.load_store(path)


def _q():
    return pd.DataFrame([(0, "alpha")], columns=["qid", "query"])


def _py_even_odd(lat, lon, poly):
    """Reference even-odd test (float division form)."""
    inside = False
    n = len(poly)
    for i in range(n):
        yi, xi = poly[i]
        yj, xj = poly[(i + 1) % n]
        if (yi > lat) != (yj > lat):
            xint = xi + (lat - yi) * (xj - xi) / (yj - yi)
            if lon < xint:
                inside = not inside
    return inside


def test_geo_polygon_expr_fuzz_vs_reference():
    rng = random.Random(42)
    con = duckdb.connect()
    for trial in range(20):
        nv = rng.choice([3, 4, 5, 7])
        poly = [
            (rng.uniform(-80, 80), rng.uniform(-170, 170))
            for _ in range(nv)
        ]
        pts = [
            (rng.uniform(-90, 90), rng.uniform(-180, 180))
            for _ in range(200)
        ]
        expr = search.geo_polygon_expr("pt.lat", "pt.lon", poly)
        got = con.execute(
            f"SELECT {expr} FROM (SELECT unnest($lats) AS lat, "
            f"unnest($lons) AS lon) pt",
            {"lats": [p[0] for p in pts], "lons": [p[1] for p in pts]},
        ).fetchall()
        want = [_py_even_odd(la, lo, poly) for la, lo in pts]
        assert [g[0] for g in got] == want, f"trial {trial}"


def test_geo_polygon_expr_rejects_degenerate():
    with pytest.raises(EngineError):
        search.geo_polygon_expr("a", "b", [(0.0, 0.0), (1.0, 1.0)])
    with pytest.raises(EngineError):
        search.geo_polygon_expr(
            "a", "b", [(5.0, 0.0), (5.0, 10.0), (5.0, 20.0)]
        )


def test_search_geo_polygon_matches_reference(spark, geo_store):
    poly = [(-35.1, -120.2), (55.3, -60.1), (45.2, 100.3), (-55.2, 40.1)]
    rows = search.search_geo_polygon(
        spark, geo_store, _q(), polygon=poly
    ).collect()
    got = {r.doc_id for r in rows}
    want = {
        d for d, _t, la, lo, _s in _DOCS[:12]
        if _py_even_odd(la, lo, poly)
    }
    assert got == want and want  # non-trivial match set


def test_geo_line_order_truncation_complete(spark, geo_store):
    res = search.search_geo_line(
        spark, geo_store, _q(), sort_col="s", size=5
    ).collect()
    assert len(res) == 1
    r = res[0]
    assert r.n_points == 12 and r.complete is False
    # reference: sort the 12 matched docs by (s, doc_id), first 5 points
    ordered = sorted(_DOCS[:12], key=lambda t: (t[4], t[0]))[:5]
    want = ", ".join(f"{lo:.2f} {la:.2f}" for _d, _t, la, lo, _s in ordered)
    assert r.line == want
    # size >= match set: complete, full line
    r2 = search.search_geo_line(
        spark, geo_store, _q(), sort_col="s", size=50
    ).collect()[0]
    assert r2.complete is True and r2.line.count(",") == 11

    with pytest.raises(EngineError):
        search.search_geo_line(spark, geo_store, _q(), sort_col="s", size=0)


def test_change_point_finds_step(spark, tmp_path_factory):
    # dl histogram with interval 4: dl in {2,3} (bucket 0) for 8 docs,
    # dl in {6} (bucket 4) for 2 docs, dl 10 (bucket 8) for 1 -> counts
    # [8, 2, 1]; the largest mean shift splits after bucket 0
    texts = (
        ["w x"] * 4 + ["w x y"] * 4
        + ["w a b c d e"] * 2 + ["w a b c d e f g h i"]
    )
    path = str(tmp_path_factory.mktemp("r4_cp"))
    spark_df = pd.DataFrame(
        [(f"c{i}", t) for i, t in enumerate(texts)],
        columns=["doc_id", "content"],
    )
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    corpus = s.createDataFrame(spark_df)
    cfg = IndexerConfig(index="docs", id_field="doc_id")
    build.build_index(corpus, cfg, path, segment_docs=8, num_buckets=4)
    store = search.load_store(path)
    q = pd.DataFrame([(0, "w")], columns=["qid", "query"])
    r = search.search_change_point(s, store, q, interval=4.0).collect()
    assert len(r) == 1
    row = r[0]
    assert row.change_bucket == 4.0
    assert row.left_mean_r == pytest.approx(8.0)
    assert row.right_mean_r == pytest.approx(1.5)
    assert row.delta_r == pytest.approx(6.5)


def _np_semantic_dedup(ids, vecs, k, tau):
    """Brute-force reference of the pinned SemDeDup policy."""
    import hashlib

    order = sorted(range(len(ids)), key=lambda i: hashlib.md5(
        str(ids[i]).encode()).hexdigest())
    cents = order[:k]

    def cos(a, b):
        return round(
            float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 6
        )

    assign = {}
    for i in range(len(ids)):
        # max cosine, deterministic tie-break on cid ASC (string order)
        scored = sorted(
            ((cos(vecs[i], vecs[c]), str(ids[c]), c) for c in cents),
            key=lambda t: (-t[0], t[1]),
        )
        assign[i] = scored[0][2]
    dropped = {}
    for i in range(len(ids)):
        for jj in range(len(ids)):
            if ids[jj] >= ids[i] or assign[jj] != assign[i]:
                continue
            pc = cos(vecs[i], vecs[jj])
            if pc >= tau:
                cur = dropped.get(ids[i])
                if cur is None:
                    dropped[ids[i]] = [ids[jj], pc]
                else:
                    cur[0] = min(cur[0], ids[jj])
                    cur[1] = max(cur[1], pc)
    return dropped


def test_semantic_dedup_matches_bruteforce(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 8))
    vecs, ids = [], []
    for i in range(30):
        v = base[i % 6] + rng.normal(scale=0.15, size=8)
        vecs.append(v)
        ids.append(i)
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": [list(v) for v in vecs]})
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r.vec_id: (r.dup_of, r.best_cos_r)
            for r in ann.semantic_dedup(emb, k=4, tau=0.9).collect()
        }
    # the pair kernel's signature must not trip pyspark's type-hint
    # inference for applyInPandas
    assert not [
        w for w in caught
        if "Cannot infer the eval type" in str(w.message)
    ]
    want = _np_semantic_dedup(ids, vecs, k=4, tau=0.9)
    assert set(got) == set(want) and got  # non-trivial
    for vid, (dup_of, best) in got.items():
        assert want[vid][0] == dup_of
        assert want[vid][1] == pytest.approx(best, abs=2e-6)


def test_semantic_dedup_guards(spark):
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1], "embedding": [[1.0, 0.0]] * 2})
    )
    with pytest.raises(EngineError):
        ann.semantic_dedup(emb, k=0, tau=0.5)
    with pytest.raises(EngineError):
        ann.semantic_dedup(emb, k=1, tau=1.5)
    # identical vectors: 1 is a dup of 0; max_cluster=1 excludes the
    # (size-2) cluster from pair generation entirely
    assert ann.semantic_dedup(emb, k=1, tau=0.99).count() == 1
    assert ann.semantic_dedup(
        emb, k=1, tau=0.99, max_cluster=1
    ).count() == 0


# ------------------------------------------------- geohex_grid (r5)

def _py_hex_key(lat, lon, res):
    """Independent reference: published axial cube-rounding algorithm."""
    import math

    s = 60.0 / (1 << res)
    qf = (math.sqrt(3.0) / 3.0 * lon - lat / 3.0) / s
    rf = (2.0 * lat / 3.0) / s
    yf = -qf - rf
    rx, ry, rz = (math.floor(v + 0.5) for v in (qf, yf, rf))
    dx, dy, dz = abs(rx - qf), abs(ry - yf), abs(rz - rf)
    if dx > dy and dx > dz:
        rx = -ry - rz
    elif dy > dz:
        ry = -rx - rz
    else:
        rz = -rx - ry
    return f"{res}/{int(rx)}/{int(rz)}"


def test_geohex_grid_matches_reference(spark, tmp_path_factory):
    import pandas as pd

    from dynamo2es_lambda_spark import IndexerConfig
    from dynamo2es_lambda_spark.plans import build, search

    path = str(tmp_path_factory.mktemp("r5_geohex"))
    pts = [
        (f"h{i}", "alpha point",
         ((i * 37) % 170) - 85 + 0.21, ((i * 91) % 360) - 180 + 0.43)
        for i in range(60)
    ]
    corpus = spark.createDataFrame(
        pd.DataFrame(pts, columns=["doc_id", "content", "lat", "lon"])
    )
    cfg = IndexerConfig(index="docs", id_field="doc_id")
    build.build_index(corpus, cfg, path, segment_docs=16, num_buckets=4,
                      doc_meta_cols=("lat", "lon"))
    st = search.load_store(path)
    q = pd.DataFrame([(0, "alpha")], columns=["qid", "query"])
    for res in (0, 2, 5):
        got = {
            r["key"]: r["n_docs"]
            for r in search.search_geohex_grid(
                spark, st, q, resolution=res
            ).collect()
        }
        want = {}
        for _d, _t, lat, lon in pts:
            k = _py_hex_key(lat, lon, res)
            want[k] = want.get(k, 0) + 1
        assert got == want, f"res={res}"
    # cube invariant: every key's implied y = -q-r is an integer by
    # construction; resolution bump only splits cells (monotone refine)
    coarse = {
        r["key"] for r in search.search_geohex_grid(
            spark, st, q, resolution=0
        ).collect()
    }
    assert len(coarse) <= 60


# ------------------------------------------------- geo_shape (r5)

def test_geo_shape_envelope_relations(spark, tmp_path_factory):
    import pandas as pd

    from dynamo2es_lambda_spark import IndexerConfig
    from dynamo2es_lambda_spark.errors import EngineError
    from dynamo2es_lambda_spark.plans import build, search

    path = str(tmp_path_factory.mktemp("r5_geoshape"))
    # doc envelopes: (min_lon, min_lat, max_lon, max_lat)
    rows = [
        ("inside",   "alpha", 1.0, 1.0, 2.0, 2.0),     # within q
        ("overlap",  "alpha", -15.0, -5.0, 1.0, 1.0),  # straddles q edge
        ("covers",   "alpha", -20.0, -20.0, 20.0, 20.0),  # contains q
        ("outside",  "alpha", 50.0, 50.0, 60.0, 60.0),  # disjoint
        ("touch",    "alpha", 10.0, 0.0, 30.0, 5.0),    # edge-touches q
    ]
    corpus = spark.createDataFrame(
        pd.DataFrame(rows, columns=[
            "doc_id", "content", "min_lon", "min_lat", "max_lon",
            "max_lat",
        ])
    )
    cfg = IndexerConfig(index="docs", id_field="doc_id")
    build.build_index(
        corpus, cfg, path, segment_docs=4, num_buckets=4,
        doc_meta_cols=("min_lon", "min_lat", "max_lon", "max_lat"),
    )
    st = search.load_store(path)
    q = pd.DataFrame([(0, "alpha")], columns=["qid", "query"])
    env = (-10.0, -10.0, 10.0, 10.0)

    def rel(r):
        return set(
            search.search_geo_shape(spark, st, q, env, relation=r)
            .toPandas()["doc_id"]
        )

    assert rel("within") == {"inside"}
    assert rel("contains") == {"covers"}
    assert rel("disjoint") == {"outside"}
    assert rel("intersects") == {"inside", "overlap", "covers", "touch"}
    with pytest.raises(EngineError, match="unknown relation"):
        search.search_geo_shape(spark, st, q, env, relation="crosses")
    with pytest.raises(EngineError, match="min <= max"):
        search.search_geo_shape(spark, st, q, (5.0, 0.0, -5.0, 1.0))
