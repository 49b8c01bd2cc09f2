"""Exact score bits for the non-positional BM25 query families.

Each family's (qid, doc) score is an exhaustive-scorer partial sum
aggregated per (qid, doc), or a WAND heap score; the engine must
reproduce the golden ``float.hex`` strings exactly, so a reordered weight
product, a changed avgdl or a term table that drops or double-counts a
row shows up as a changed bit rather than hiding under ``pytest.approx``.
``search_facets`` has no score: its per-facet counts are pinned instead.

Stores: a one-field store over a seeded ten-word vocabulary with routed
indexes (``lang``), parent links, and one ``delete_by_query`` batch so the
dead list is not empty (batches b0 and b1 build, b2 deletes); a
two-field store for ``multi_match``; and a search-as-you-type store."""

import random

import pandas as pd
import pytest

from dynamo2es_lambda_spark import IndexerConfig
from dynamo2es_lambda_spark.plans import build, manage, search

VOCAB = [
    "ant", "bee", "cat", "dog", "elk", "fox", "hen", "owl", "yak", "emu",
]


def _docs(seed, n, lo, hi):
    rng = random.Random(seed)
    return [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))
        for _ in range(n)
    ]


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    # every tenth doc carries the rare term the delete batch removes
    text = [
        t + " gnu" if i % 10 == 3 else t
        for i, t in enumerate(_docs(21, 80, 2, 9))
    ]
    one = str(tmp_path_factory.mktemp("bm25_one"))
    build.build_index(
        spark.createDataFrame(pd.DataFrame({
            "doc_id": [f"d{i:02d}" for i in range(len(text))],
            "content": text,
            "lang": ["en" if i % 3 else "de" for i in range(len(text))],
            "version": [0] * len(text),
            "parent_ref": ["root"] * 40
            + [f"d{i % 20:02d}" for i in range(40)],
        })),
        IndexerConfig(index_prefix="docs-", index_field="lang",
                      id_field="doc_id", version_field="version",
                      parent_field="parent_ref"),
        one, segment_docs=16, num_buckets=4, num_batches=2,
    )
    deleted = manage.delete_by_query(
        spark, search.load_store(one),
        pd.DataFrame({"qid": [0], "query": ["gnu"]}),
    )
    assert deleted["deleted"] > 0
    cfg = IndexerConfig(index="docs", id_field="doc_id")
    alpha, beta = _docs(22, 50, 2, 10), _docs(23, 50, 1, 6)
    two = str(tmp_path_factory.mktemp("bm25_two"))
    build.build_index(
        spark.createDataFrame(pd.DataFrame({
            "doc_id": [f"m{i:02d}" for i in range(len(alpha))],
            "alpha": alpha,
            "beta": beta,
        })),
        cfg, two, segment_docs=16, num_buckets=4, fields=("alpha", "beta"),
    )
    sayt_text = _docs(24, 40, 2, 8)
    sayt = str(tmp_path_factory.mktemp("bm25_sayt"))
    build.build_index(
        spark.createDataFrame(pd.DataFrame({
            "doc_id": [f"s{i:02d}" for i in range(len(sayt_text))],
            "content": sayt_text,
        })),
        cfg, sayt, segment_docs=16, num_buckets=4, edge_ngrams=(2, 3),
    )
    return tuple(search.load_store(p) for p in (one, two, sayt))


def _bits(df):
    """Sorted rows with every float written as ``float.hex``."""
    return sorted(
        tuple(v.hex() if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def _q(*queries):
    return pd.DataFrame({"qid": range(len(queries)), "query": queries})


def run_families(spark, one, two, sayt):
    """family -> sorted result rows (floats as hex), top 5 (or 12) per qid."""
    k = 5
    q = _q("ant bee", "cat dog elk")
    terms = pd.DataFrame({"qid": [0, 0, 1], "term": ["bee", "fox", "dog"]})
    # deep enough that the OR, AND and msm=2 candidate sets differ
    deep = 12
    out = {
        f"search_{algo}_{mode}": _bits(search.search(
            spark, one, q, k=deep, algo=algo, mode=mode
        ))
        for algo in ("exhaustive", "wand")
        for mode in ("or", "and")
    }
    out.update({
        "search_exhaustive_msm": _bits(search.search(
            spark, one, q, k=deep, minimum_should_match=2
        )),
        "search_exhaustive_index": _bits(search.search(
            spark, one, q, k=deep, index="docs-en"
        )),
        "terms": _bits(search.search_terms(spark, one, terms, k=k)),
        "terms_constant": _bits(search.search_terms(
            spark, one, terms, k=k, constant_score=2.5
        )),
        "more_like_this": _bits(search.search_more_like_this(
            spark, one,
            pd.DataFrame({"qid": [0, 1],
                          "like": ["ant ant bee fox", "dog elk elk cat"]}),
            k=k, max_query_terms=2,
        )),
        "match_bool_prefix": _bits(search.search_match_bool_prefix(
            spark, one, _q("ant b", "cat dog e"), k=k
        )),
        "as_you_type": _bits(search.search_as_you_type(
            spark, sayt, _q("ant be", "cat dog e"), k=k
        )),
        "prefix": _bits(search.search_prefix(
            spark, one, pd.DataFrame({"qid": [0, 1], "prefix": ["b", "e"]}),
            k=k,
        )),
        "fuzzy": _bits(search.search_fuzzy(
            spark, one, pd.DataFrame({"qid": [0, 1], "term": ["cot", "dox"]}),
            k=k,
        )),
        "bool": _bits(search.search_bool(
            spark, one,
            pd.DataFrame({"qid": [0, 1], "must": ["ant", "cat"],
                          "should": ["bee fox", "dog"],
                          "must_not": ["elk", ""]}),
            k=k,
        )),
        "boosting": _bits(search.search_boosting(
            spark, one,
            pd.DataFrame({"qid": [0, 1], "positive": ["ant bee", "cat"],
                          "negative": ["fox", "dog"]}),
            k=k, negative_boost=0.25,
        )),
        "dis_max": _bits(search.search_dis_max(
            spark, one,
            pd.DataFrame({"qid": [0, 0, 1, 1], "clause": [0, 1, 0, 1],
                          "query": ["ant", "bee fox", "cat", "dog elk"]}),
            k=k, tie_breaker=0.3,
        )),
        "multi_match_best": _bits(search.multi_match(
            spark, two, q, {"alpha": 1.0, "beta": 2.0}, k=k,
            tie_breaker=0.2,
        )),
        "multi_match_most": _bits(search.multi_match(
            spark, two, q, ["alpha", "beta"], k=k,
            match_type="most_fields",
        )),
        "function_score": _bits(search.search_function_score(
            spark, one, q, k=k, factor_col="dl", modifier="log1p",
        )),
        "terms_set": _bits(search.search_terms_set(
            spark, one, q, "2", k=k
        )),
        "matched_queries": _bits(search.search_matched_queries(
            spark, one,
            pd.DataFrame({"qid": [0, 0, 1], "name": ["a", "b", "c"],
                          "clause": ["ant", "bee fox", "cat dog"]}),
            k=k,
        )),
        "has_parent": _bits(search.search_has_parent(
            spark, one, q, k=k, score=True
        )),
        "as_of_b0": _bits(manage.search_as_of(spark, one, q, 0, k=k)),
        "as_of_b2": _bits(manage.search_as_of(spark, one, q, 2, k=k)),
        "facets": _bits(search.search_facets(spark, one, q)),
        "facets_and": _bits(search.search_facets(spark, one, q, mode="and")),
    })
    return out


GOLDEN = {
    "search_exhaustive_or": [
        (0, 1, "d05", "0x1.f9160bcb45c49p+0"),
        (0, 2, "d57", "0x1.f9160bcb45c49p+0"),
        (0, 3, "d62", "0x1.e7660e62c363fp+0"),
        (0, 4, "d39", "0x1.de3bf1ba845bcp+0"),
        (0, 5, "d47", "0x1.c1cdc65606a04p+0"),
        (0, 6, "d11", "0x1.6d473091a2195p+0"),
        (0, 7, "d20", "0x1.6d473091a2195p+0"),
        (0, 8, "d41", "0x1.6d473091a2195p+0"),
        (0, 9, "d25", "0x1.66c7ca1ee99abp+0"),
        (0, 10, "d36", "0x1.65b662f303b06p+0"),
        (0, 11, "d32", "0x1.57bf05d66ee1ep+0"),
        (0, 12, "d34", "0x1.57bf05d66ee1ep+0"),
        (1, 1, "d48", "0x1.2702271079214p+1"),
        (1, 2, "d19", "0x1.1a419c677926ap+1"),
        (1, 3, "d24", "0x1.11cc1416df146p+1"),
        (1, 4, "d77", "0x1.0aaafda3de0f6p+1"),
        (1, 5, "d79", "0x1.04dc89c7d679dp+1"),
        (1, 6, "d15", "0x1.eaab6bc27b012p+0"),
        (1, 7, "d58", "0x1.e5459e9bd321ap+0"),
        (1, 8, "d60", "0x1.e4449797d91f8p+0"),
        (1, 9, "d22", "0x1.d58dbadc34b63p+0"),
        (1, 10, "d27", "0x1.cc0c795468e61p+0"),
        (1, 11, "d10", "0x1.cbef40aea6deep+0"),
        (1, 12, "d68", "0x1.cbef40aea6deep+0"),
    ],
    "search_exhaustive_and": [
        (0, 1, "d05", "0x1.f9160bcb45c49p+0"),
        (0, 2, "d57", "0x1.f9160bcb45c49p+0"),
        (0, 3, "d62", "0x1.e7660e62c363fp+0"),
        (0, 4, "d39", "0x1.de3bf1ba845bcp+0"),
        (0, 5, "d47", "0x1.c1cdc65606a04p+0"),
        (0, 6, "d11", "0x1.6d473091a2195p+0"),
        (0, 7, "d20", "0x1.6d473091a2195p+0"),
        (0, 8, "d41", "0x1.6d473091a2195p+0"),
        (0, 9, "d32", "0x1.57bf05d66ee1ep+0"),
        (0, 10, "d34", "0x1.57bf05d66ee1ep+0"),
        (1, 1, "d48", "0x1.2702271079214p+1"),
        (1, 2, "d19", "0x1.1a419c677926ap+1"),
        (1, 3, "d24", "0x1.11cc1416df146p+1"),
        (1, 4, "d77", "0x1.0aaafda3de0f6p+1"),
        (1, 5, "d79", "0x1.04dc89c7d679dp+1"),
        (1, 6, "d15", "0x1.eaab6bc27b012p+0"),
        (1, 7, "d10", "0x1.cbef40aea6deep+0"),
        (1, 8, "d68", "0x1.cbef40aea6deep+0"),
        (1, 9, "d32", "0x1.b0d2b01e97d14p+0"),
    ],
    "search_wand_or": [
        (0, 1, "d05", "0x1.f9160bcb45c49p+0"),
        (0, 2, "d57", "0x1.f9160bcb45c49p+0"),
        (0, 3, "d62", "0x1.e7660e62c363fp+0"),
        (0, 4, "d39", "0x1.de3bf1ba845bcp+0"),
        (0, 5, "d47", "0x1.c1cdc65606a04p+0"),
        (0, 6, "d11", "0x1.6d473091a2195p+0"),
        (0, 7, "d20", "0x1.6d473091a2195p+0"),
        (0, 8, "d41", "0x1.6d473091a2195p+0"),
        (0, 9, "d25", "0x1.66c7ca1ee99abp+0"),
        (0, 10, "d36", "0x1.65b662f303b06p+0"),
        (0, 11, "d32", "0x1.57bf05d66ee1ep+0"),
        (0, 12, "d34", "0x1.57bf05d66ee1ep+0"),
        (1, 1, "d48", "0x1.2702271079213p+1"),
        (1, 2, "d19", "0x1.1a419c677926ap+1"),
        (1, 3, "d24", "0x1.11cc1416df146p+1"),
        (1, 4, "d77", "0x1.0aaafda3de0f6p+1"),
        (1, 5, "d79", "0x1.04dc89c7d679cp+1"),
        (1, 6, "d15", "0x1.eaab6bc27b012p+0"),
        (1, 7, "d58", "0x1.e5459e9bd321ap+0"),
        (1, 8, "d60", "0x1.e4449797d91f8p+0"),
        (1, 9, "d22", "0x1.d58dbadc34b63p+0"),
        (1, 10, "d27", "0x1.cc0c795468e61p+0"),
        (1, 11, "d10", "0x1.cbef40aea6deep+0"),
        (1, 12, "d68", "0x1.cbef40aea6deep+0"),
    ],
    "search_wand_and": [
        (0, 1, "d05", "0x1.f9160bcb45c49p+0"),
        (0, 2, "d57", "0x1.f9160bcb45c49p+0"),
        (0, 3, "d62", "0x1.e7660e62c363fp+0"),
        (0, 4, "d39", "0x1.de3bf1ba845bcp+0"),
        (0, 5, "d47", "0x1.c1cdc65606a04p+0"),
        (0, 6, "d11", "0x1.6d473091a2195p+0"),
        (0, 7, "d20", "0x1.6d473091a2195p+0"),
        (0, 8, "d41", "0x1.6d473091a2195p+0"),
        (0, 9, "d32", "0x1.57bf05d66ee1ep+0"),
        (0, 10, "d34", "0x1.57bf05d66ee1ep+0"),
        (1, 1, "d48", "0x1.2702271079213p+1"),
        (1, 2, "d19", "0x1.1a419c677926ap+1"),
        (1, 3, "d24", "0x1.11cc1416df146p+1"),
        (1, 4, "d77", "0x1.0aaafda3de0f6p+1"),
        (1, 5, "d79", "0x1.04dc89c7d679cp+1"),
        (1, 6, "d15", "0x1.eaab6bc27b012p+0"),
        (1, 7, "d10", "0x1.cbef40aea6deep+0"),
        (1, 8, "d68", "0x1.cbef40aea6deep+0"),
        (1, 9, "d32", "0x1.b0d2b01e97d14p+0"),
    ],
    "search_exhaustive_msm": [
        (0, 1, "d05", "0x1.f9160bcb45c49p+0"),
        (0, 2, "d57", "0x1.f9160bcb45c49p+0"),
        (0, 3, "d62", "0x1.e7660e62c363fp+0"),
        (0, 4, "d39", "0x1.de3bf1ba845bcp+0"),
        (0, 5, "d47", "0x1.c1cdc65606a04p+0"),
        (0, 6, "d11", "0x1.6d473091a2195p+0"),
        (0, 7, "d20", "0x1.6d473091a2195p+0"),
        (0, 8, "d41", "0x1.6d473091a2195p+0"),
        (0, 9, "d32", "0x1.57bf05d66ee1ep+0"),
        (0, 10, "d34", "0x1.57bf05d66ee1ep+0"),
        (1, 1, "d48", "0x1.2702271079214p+1"),
        (1, 2, "d19", "0x1.1a419c677926ap+1"),
        (1, 3, "d24", "0x1.11cc1416df146p+1"),
        (1, 4, "d77", "0x1.0aaafda3de0f6p+1"),
        (1, 5, "d79", "0x1.04dc89c7d679dp+1"),
        (1, 6, "d15", "0x1.eaab6bc27b012p+0"),
        (1, 7, "d58", "0x1.e5459e9bd321ap+0"),
        (1, 8, "d60", "0x1.e4449797d91f8p+0"),
        (1, 9, "d22", "0x1.d58dbadc34b63p+0"),
        (1, 10, "d27", "0x1.cc0c795468e61p+0"),
        (1, 11, "d10", "0x1.cbef40aea6deep+0"),
        (1, 12, "d68", "0x1.cbef40aea6deep+0"),
    ],
    "search_exhaustive_index": [
        (0, 1, "d05", "0x1.f9160bcb45c49p+0"),
        (0, 2, "d62", "0x1.e7660e62c363fp+0"),
        (0, 3, "d47", "0x1.c1cdc65606a04p+0"),
        (0, 4, "d11", "0x1.6d473091a2195p+0"),
        (0, 5, "d20", "0x1.6d473091a2195p+0"),
        (0, 6, "d41", "0x1.6d473091a2195p+0"),
        (0, 7, "d25", "0x1.66c7ca1ee99abp+0"),
        (0, 8, "d32", "0x1.57bf05d66ee1ep+0"),
        (0, 9, "d34", "0x1.57bf05d66ee1ep+0"),
        (0, 10, "d59", "0x1.27fccf7aa44a8p+0"),
        (0, 11, "d74", "0x1.1de6b9ce873f9p+0"),
        (0, 12, "d50", "0x1.0f3fad65a07f9p+0"),
        (1, 1, "d19", "0x1.1a419c677926ap+1"),
        (1, 2, "d77", "0x1.0aaafda3de0f6p+1"),
        (1, 3, "d79", "0x1.04dc89c7d679dp+1"),
        (1, 4, "d58", "0x1.e5459e9bd321ap+0"),
        (1, 5, "d22", "0x1.d58dbadc34b63p+0"),
        (1, 6, "d10", "0x1.cbef40aea6deep+0"),
        (1, 7, "d68", "0x1.cbef40aea6deep+0"),
        (1, 8, "d32", "0x1.b0d2b01e97d14p+0"),
        (1, 9, "d29", "0x1.a0d747911f0a0p+0"),
        (1, 10, "d20", "0x1.94c14330dfb08p+0"),
        (1, 11, "d44", "0x1.851406ce88ae3p+0"),
        (1, 12, "d35", "0x1.7c3b83ba8ec84p+0"),
    ],
    "terms": [
        (0, 1, "d36", "0x1.3c5b3aef0bf14p+1"),
        (0, 2, "d05", "0x1.0a2309c20bc25p+1"),
        (0, 3, "d62", "0x1.00d12d7500736p+1"),
        (0, 4, "d15", "0x1.f58a6d5d8c1dcp+0"),
        (0, 5, "d47", "0x1.da040557e0b6ep+0"),
        (1, 1, "d08", "0x1.0cf6452e589e8p+0"),
        (1, 2, "d56", "0x1.07005d0220007p+0"),
        (1, 3, "d77", "0x1.d7fe7628a554fp-1"),
        (1, 4, "d48", "0x1.c999decdb8892p-1"),
        (1, 5, "d42", "0x1.b3e793c4490b9p-1"),
    ],
    "terms_constant": [
        (0, 1, "d02", "0x1.4000000000000p+1"),
        (0, 2, "d05", "0x1.4000000000000p+1"),
        (0, 3, "d09", "0x1.4000000000000p+1"),
        (0, 4, "d10", "0x1.4000000000000p+1"),
        (0, 5, "d11", "0x1.4000000000000p+1"),
        (1, 1, "d07", "0x1.4000000000000p+1"),
        (1, 2, "d08", "0x1.4000000000000p+1"),
        (1, 3, "d10", "0x1.4000000000000p+1"),
        (1, 4, "d15", "0x1.4000000000000p+1"),
        (1, 5, "d18", "0x1.4000000000000p+1"),
    ],
    "more_like_this": [
        (0, 1, "d39", "0x1.78975d0621bf8p+1"),
        (0, 2, "d05", "0x1.6c8a3dc7b34dcp+1"),
        (0, 3, "d57", "0x1.6c8a3dc7b34dcp+1"),
        (0, 4, "d62", "0x1.5fc637aff3242p+1"),
        (0, 5, "d47", "0x1.44a4013bedeacp+1"),
        (1, 1, "d60", "0x1.7b74bf338073dp+1"),
        (1, 2, "d19", "0x1.78f09434d854ep+1"),
        (1, 3, "d48", "0x1.4a0ae1c932308p+1"),
        (1, 4, "d42", "0x1.363549051e61bp+1"),
        (1, 5, "d58", "0x1.35329c3f41266p+1"),
    ],
    "match_bool_prefix": [
        (0, 1, "d05", "0x1.f9160bcb45c49p+0"),
        (0, 2, "d57", "0x1.f9160bcb45c49p+0"),
        (0, 3, "d62", "0x1.e7660e62c363fp+0"),
        (0, 4, "d39", "0x1.de3bf1ba845bcp+0"),
        (0, 5, "d47", "0x1.c1cdc65606a04p+0"),
        (1, 1, "d48", "0x1.80132410b5ec0p+1"),
        (1, 2, "d24", "0x1.64e9653e0f2d4p+1"),
        (1, 3, "d42", "0x1.5aaf09da04a22p+1"),
        (1, 4, "d15", "0x1.487307086d997p+1"),
        (1, 5, "d32", "0x1.442385c6388ddp+1"),
    ],
    "as_you_type": [
        (0, 1, "s21", "0x1.3eae0b3ff6e0bp+1"),
        (0, 2, "s22", "0x1.3b98ab79d8746p+1"),
        (0, 3, "s14", "0x1.317aecf8b1d4cp+1"),
        (0, 4, "s17", "0x1.27d1dcefe10bdp+1"),
        (0, 5, "s01", "0x1.0e4e6c9254c09p+1"),
        (1, 1, "s00", "0x1.634a2f8aa878cp+2"),
        (1, 2, "s20", "0x1.0cdbe1bbfada9p+2"),
        (1, 3, "s32", "0x1.01256151e398ep+2"),
        (1, 4, "s28", "0x1.2440f8474adc3p+1"),
        (1, 5, "s06", "0x1.11b7e1a1a36e1p+1"),
    ],
    "prefix": [
        (0, 1, "d25", "0x1.66c7ca1ee99abp+0"),
        (0, 2, "d36", "0x1.65b662f303b06p+0"),
        (0, 3, "d12", "0x1.45b114fcbd949p+0"),
        (0, 4, "d15", "0x1.33bf51f666d2fp+0"),
        (0, 5, "d09", "0x1.27fccf7aa44a8p+0"),
        (1, 1, "d67", "0x1.ecdf6042b92f9p+0"),
        (1, 2, "d42", "0x1.db6a49d1e4be7p+0"),
        (1, 3, "d45", "0x1.cb994c4d780d9p+0"),
        (1, 4, "d50", "0x1.cb994c4d780d9p+0"),
        (1, 5, "d22", "0x1.9774661fa8babp+0"),
    ],
    "fuzzy": [
        (0, 1, "d14", "0x1.dbc62b5d93cc5p-1"),
        (0, 2, "d29", "0x1.c179a8d396f0ap-1"),
        (0, 3, "d20", "0x1.b0417bd27f744p-1"),
        (0, 4, "d22", "0x1.a176202b2fd86p-1"),
        (0, 5, "d79", "0x1.a176202b2fd86p-1"),
        (1, 1, "d51", "0x1.e118669bc192dp+0"),
        (1, 2, "d60", "0x1.da1d998b30840p+0"),
        (1, 3, "d54", "0x1.c54739c6107f2p+0"),
        (1, 4, "d62", "0x1.b27d20abb3f8ep+0"),
        (1, 5, "d36", "0x1.ac97813a987bcp+0"),
    ],
    "bool": [
        (0, 1, "d05", "0x1.7a2241a41c2dcp+1"),
        (0, 2, "d62", "0x1.6ce45df391e59p+1"),
        (0, 3, "d51", "0x1.1f5e1c1bbc668p+1"),
        (0, 4, "d41", "0x1.11775aba60b24p+1"),
        (0, 5, "d34", "0x1.0158a8a2063adp+1"),
        (1, 1, "d29", "0x1.a0d747911f0a0p+0"),
        (1, 2, "d48", "0x1.765fe40b2e344p+0"),
        (1, 3, "d77", "0x1.63d3e7b8d5746p+0"),
        (1, 4, "d07", "0x1.5a5cc419b209fp+0"),
        (1, 5, "d24", "0x1.5a5cc419b209fp+0"),
    ],
    "boosting": [
        (0, 1, "d57", "0x1.f9160bcb45c49p+0"),
        (0, 2, "d39", "0x1.de3bf1ba845bcp+0"),
        (0, 3, "d25", "0x1.66c7ca1ee99abp+0"),
        (0, 4, "d12", "0x1.45b114fcbd949p+0"),
        (0, 5, "d09", "0x1.27fccf7aa44a8p+0"),
        (1, 1, "d14", "0x1.dbc62b5d93cc5p-1"),
        (1, 2, "d20", "0x1.b0417bd27f744p-1"),
        (1, 3, "d22", "0x1.a176202b2fd86p-1"),
        (1, 4, "d26", "0x1.9805ac25edb3fp-1"),
        (1, 5, "d69", "0x1.9805ac25edb3fp-1"),
    ],
    "dis_max": [
        (0, 1, "d36", "0x1.3c5b3aef0bf14p+1"),
        (0, 2, "d05", "0x1.2bbc6752aa48fp+1"),
        (0, 3, "d62", "0x1.213d559af8e27p+1"),
        (0, 4, "d47", "0x1.0aedf21769f04p+1"),
        (0, 5, "d15", "0x1.f58a6d5d8c1dcp+0"),
        (1, 1, "d48", "0x1.e81d6fadec1aap+0"),
        (1, 2, "d60", "0x1.e4449797d91f8p+0"),
        (1, 3, "d19", "0x1.e0a18cc230599p+0"),
        (1, 4, "d77", "0x1.c1744f3afa2b1p+0"),
        (1, 5, "d42", "0x1.a32f2df630a4ap+0"),
    ],
    "multi_match_best": [
        (0, 1, "m00", "0x1.593bfa3cbe187p+2"),
        (0, 2, "m27", "0x1.33633fdc21160p+2"),
        (0, 3, "m28", "0x1.32e8ec7214bb5p+2"),
        (0, 4, "m43", "0x1.de6d3a60f798ep+1"),
        (0, 5, "m38", "0x1.da7203eeb7fcdp+1"),
        (1, 1, "m02", "0x1.f268e64a692f8p+2"),
        (1, 2, "m09", "0x1.5502b461cc9d0p+2"),
        (1, 3, "m19", "0x1.516cf48223bebp+2"),
        (1, 4, "m45", "0x1.4ee0f801e8df8p+2"),
        (1, 5, "m49", "0x1.4c06d75b73bcep+2"),
    ],
    "multi_match_most": [
        (0, 1, "m00", "0x1.ca703f0c9f89bp+1"),
        (0, 2, "m27", "0x1.a8e4736671b71p+1"),
        (0, 3, "m14", "0x1.a61d425acdfacp+1"),
        (0, 4, "m28", "0x1.a41d3141f62c9p+1"),
        (0, 5, "m18", "0x1.815f8f3d2ea24p+1"),
        (1, 1, "m02", "0x1.227bad3a5c912p+2"),
        (1, 2, "m25", "0x1.20e08329fbcb5p+2"),
        (1, 3, "m44", "0x1.10ab8a144e3fcp+2"),
        (1, 4, "m19", "0x1.05c789e3b3842p+2"),
        (1, 5, "m09", "0x1.f518307a243a8p+1"),
    ],
    "function_score": [
        (0, 1, "d05", "0x1.22c03dae7f24dp+2"),
        (0, 2, "d57", "0x1.22c03dae7f24dp+2"),
        (0, 3, "d39", "0x1.06b26c093cefdp+2"),
        (0, 4, "d47", "0x1.92f85982456abp+1"),
        (0, 5, "d11", "0x1.914c8acac937ap+1"),
        (1, 1, "d19", "0x1.44f5a61f8c358p+2"),
        (1, 2, "d77", "0x1.33034714a43ffp+2"),
        (1, 3, "d79", "0x1.2c53ef964bda7p+2"),
        (1, 4, "d48", "0x1.1f07a95f0dec3p+2"),
        (1, 5, "d24", "0x1.1cac309ab6cb1p+2"),
    ],
    "terms_set": [
        (0, 1, "d05", 2, "0x1.f91611ba3ca75p+0"),
        (0, 2, "d57", 2, "0x1.f91611ba3ca75p+0"),
        (0, 3, "d62", 2, "0x1.e7660e51d25abp+0"),
        (0, 4, "d39", 2, "0x1.de3beec39799ep+0"),
        (0, 5, "d47", 2, "0x1.c1cdc443914f5p+0"),
        (1, 1, "d48", 3, "0x1.270225742dcf4p+1"),
        (1, 2, "d19", 3, "0x1.1a4199fe43676p+1"),
        (1, 3, "d24", 3, "0x1.11cc100e6afcdp+1"),
        (1, 4, "d77", 3, "0x1.0aaafbc1acde2p+1"),
        (1, 5, "d79", 3, "0x1.04dc8754f3776p+1"),
    ],
    "matched_queries": [
        (0, 1, "d05", "0x1.7a2241a41c2dcp+1", "a,b"),
        (0, 2, "d62", "0x1.6ce45df391e59p+1", "a,b"),
        (0, 3, "d47", "0x1.50bf20bcdaf61p+1", "a,b"),
        (0, 4, "d36", "0x1.3c5b3aef0bf14p+1", "b"),
        (0, 5, "d51", "0x1.1f5e1c1bbc668p+1", "a,b"),
        (1, 1, "d29", "0x1.a0d747911f0a0p+0", "c"),
        (1, 2, "d48", "0x1.765fe40b2e344p+0", "c"),
        (1, 3, "d77", "0x1.63d3e7b8d5746p+0", "c"),
        (1, 4, "d07", "0x1.5a5cc419b209fp+0", "c"),
        (1, 5, "d24", "0x1.5a5cc419b209fp+0", "c"),
    ],
    "has_parent": [
        (0, 1, "d45", "0x1.f9160bcb45c49p+0"),
        (0, 2, "d65", "0x1.f9160bcb45c49p+0"),
        (0, 3, "d51", "0x1.6d473091a2195p+0"),
        (0, 4, "d71", "0x1.6d473091a2195p+0"),
        (0, 5, "d52", "0x1.45b114fcbd949p+0"),
        (1, 1, "d59", "0x1.1a419c677926ap+1"),
        (1, 2, "d79", "0x1.1a419c677926ap+1"),
        (1, 3, "d55", "0x1.eaab6bc27b012p+0"),
        (1, 4, "d75", "0x1.eaab6bc27b012p+0"),
        (1, 5, "d50", "0x1.cbef40aea6deep+0"),
    ],
    "as_of_b0": [
        (0, 1, "d57", "0x1.f91611ba3ca75p+0"),
        (0, 2, "d11", "0x1.6d4738a3b57c5p+0"),
        (0, 3, "d20", "0x1.6d4738a3b57c5p+0"),
        (0, 4, "d25", "0x1.66c7c957cd467p+0"),
        (0, 5, "d36", "0x1.65b65ecc3e319p+0"),
        (1, 1, "d15", "0x1.eaab68cef672cp+0"),
        (1, 2, "d60", "0x1.e4449dbec2481p+0"),
        (1, 3, "d22", "0x1.d58dbcec84f90p+0"),
        (1, 4, "d27", "0x1.cc0c73abc9470p+0"),
        (1, 5, "d68", "0x1.cbef39085f4a1p+0"),
    ],
    "as_of_b2": [
        (0, 1, "d05", "0x1.f91611ba3ca75p+0"),
        (0, 2, "d57", "0x1.f91611ba3ca75p+0"),
        (0, 3, "d62", "0x1.e7660e51d25abp+0"),
        (0, 4, "d39", "0x1.de3beec39799ep+0"),
        (0, 5, "d47", "0x1.c1cdc443914f5p+0"),
        (1, 1, "d48", "0x1.270225742dcf4p+1"),
        (1, 2, "d19", "0x1.1a4199fe43676p+1"),
        (1, 3, "d24", "0x1.11cc100e6afcdp+1"),
        (1, 4, "d77", "0x1.0aaafbc1acde2p+1"),
        (1, 5, "d79", "0x1.04dc8754f3776p+1"),
    ],
    "facets": [
        (0, "de", 16),
        (0, "en", 32),
        (1, "de", 21),
        (1, "en", 38),
    ],
    "facets_and": [
        (0, "de", 2),
        (0, "en", 8),
        (1, "de", 3),
        (1, "en", 6),
    ],
}


def test_bm25_scores_bit_identical(spark, stores):
    got = run_families(spark, *stores)
    assert set(got) == set(GOLDEN)
    for fam, rows in got.items():
        assert len(rows) >= 3, fam
        assert rows == [tuple(r) for r in GOLDEN[fam]], fam
