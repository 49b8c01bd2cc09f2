"""Exact score bits for the positional query family.

Every (qid, doc) score of these searches comes out of ONE pandas kernel
call (no Spark-side float sum reorders it), so the engine must reproduce
the golden ``float.hex`` strings exactly — ``pytest.approx`` in the span
and phrase suites would hide a reordered sum or a changed operation order
in the BM25 weight.

Stores: a two-batch single-field positional store and a two-field
positional store (for span_field_masking), both over a seeded six-word
vocabulary so every query returns at least three rows."""

import random

import pandas as pd
import pytest

from dynamo2es_lambda_spark import IndexerConfig
from dynamo2es_lambda_spark.plans import build, search

VOCAB = ["ant", "bee", "cat", "dog", "elk", "fox"]


def _docs(seed, n, lo, hi):
    rng = random.Random(seed)
    return [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))
        for _ in range(n)
    ]


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    cfg = IndexerConfig(index="docs", id_field="doc_id")
    text = _docs(7, 90, 4, 16)
    one = str(tmp_path_factory.mktemp("bits_one"))
    build.build_index(
        spark.createDataFrame(pd.DataFrame({
            "doc_id": [f"d{i:03d}" for i in range(len(text))],
            "content": text,
        })),
        cfg, one, segment_docs=16, num_buckets=4, num_batches=2,
        positions=True,
    )
    alpha, beta = _docs(11, 60, 3, 14), _docs(12, 60, 1, 8)
    two = str(tmp_path_factory.mktemp("bits_two"))
    build.build_index(
        spark.createDataFrame(pd.DataFrame({
            "doc_id": [f"m{i:02d}" for i in range(len(alpha))],
            "alpha": alpha,
            "beta": beta,
        })),
        cfg, two, segment_docs=16, num_buckets=4,
        fields=("alpha", "beta"), positions=True,
    )
    return search.load_store(one), search.load_store(two)


def _bits(df):
    return sorted(
        (int(r["qid"]), r["doc_id"], float(r["score"]).hex())
        for r in df.collect()
    )


def run_families(spark, one, two):
    """family -> sorted [(qid, doc_id, score.hex())] of the top 6 per qid."""
    k = 6
    q = pd.DataFrame({"qid": [0, 1], "query": ["ant bee", "cat dog"]})
    return {
        "phrase_slop0": _bits(search.search_phrase(spark, one, q, k=k)),
        "phrase_slop2": _bits(
            search.search_phrase(spark, one, q, k=k, slop=2)
        ),
        "span_near_unordered": _bits(search.search_span_near(
            spark, one,
            pd.DataFrame({"qid": [0, 1], "query": ["bee ant", "fox elk"]}),
            slop=1, in_order=False, k=k,
        )),
        "span_not": _bits(search.search_span_not(
            spark, one,
            pd.DataFrame({"qid": [0, 1], "include": ["ant", "cat dog"],
                          "exclude": ["bee", "elk"]}),
            k=k, pre=1, post=2,
        )),
        "span_containing": _bits(search.search_span_containing(
            spark, one,
            pd.DataFrame({"qid": [0, 1], "big": ["ant bee", "cat dog"],
                          "little": ["bee", "cat"]}),
            k=k, mode="containing",
        )),
        "span_within": _bits(search.search_span_containing(
            spark, one,
            pd.DataFrame({"qid": [0, 1], "big": ["ant bee", "cat dog"],
                          "little": ["ant", "dog"]}),
            k=k, mode="within",
        )),
        "field_masking": _bits(search.search_span_field_masking(
            spark, two,
            pd.DataFrame([(0, "ant", "alpha", "bee", "beta"),
                          (1, "cat", "alpha", "cat", "beta")],
                         columns=["qid", "term_a", "field_a", "term_b",
                                  "field_b"]),
            slop=2, k=k,
        )),
        "phrase_prefix": _bits(search.search_phrase_prefix(
            spark, one,
            pd.DataFrame({"qid": [0, 1], "query": ["ant b", "dog e"]}),
            k=k,
        )),
    }


GOLDEN = {
    "phrase_slop0": [
        (0, "d002", "0x1.3fc4d22dc6ab0p-1"),
        (0, "d029", "0x1.3acddf742a66cp-1"),
        (0, "d039", "0x1.3adbf71d2f782p-1"),
        (0, "d051", "0x1.44b594e3751c0p-1"),
        (0, "d077", "0x1.41b9d1c8ef2f0p-1"),
        (0, "d089", "0x1.41ffb58c43d9dp-1"),
        (1, "d006", "0x1.d48bbb541161ep-1"),
        (1, "d044", "0x1.c7bc57cede6b6p-1"),
        (1, "d061", "0x1.c925636c2959ep-1"),
        (1, "d076", "0x1.dd83e450eb927p-1"),
        (1, "d080", "0x1.e2f8ddb7cc11ep-1"),
        (1, "d082", "0x1.cbeb699248e1dp-1"),
    ],
    "phrase_slop2": [
        (0, "d002", "0x1.3fc4d22dc6ab0p-1"),
        (0, "d021", "0x1.417321e48a777p-1"),
        (0, "d039", "0x1.3adbf71d2f782p-1"),
        (0, "d051", "0x1.44b594e3751c0p-1"),
        (0, "d077", "0x1.41b9d1c8ef2f0p-1"),
        (0, "d089", "0x1.41ffb58c43d9dp-1"),
        (1, "d006", "0x1.d48bbb541161ep-1"),
        (1, "d045", "0x1.c925636c2959ep-1"),
        (1, "d061", "0x1.c925636c2959ep-1"),
        (1, "d076", "0x1.dd83e450eb927p-1"),
        (1, "d080", "0x1.e2f8ddb7cc11ep-1"),
        (1, "d082", "0x1.cbeb699248e1dp-1"),
    ],
    "span_near_unordered": [
        (0, "d002", "0x1.3fc4d22dc6ab0p-1"),
        (0, "d021", "0x1.417321e48a777p-1"),
        (0, "d039", "0x1.3adbf71d2f782p-1"),
        (0, "d051", "0x1.44b594e3751c0p-1"),
        (0, "d077", "0x1.41b9d1c8ef2f0p-1"),
        (0, "d089", "0x1.41ffb58c43d9dp-1"),
        (1, "d018", "0x1.01e783a73e840p+0"),
        (1, "d065", "0x1.e5c82ae5fb56ep-1"),
        (1, "d066", "0x1.cc8c699541fdfp-1"),
        (1, "d067", "0x1.00b7dd4f349ecp+0"),
        (1, "d070", "0x1.c925636c2959ep-1"),
        (1, "d074", "0x1.d82621b03ed19p-1"),
    ],
    "span_not": [
        (0, "d002", "0x1.576a0ed0e17dep-2"),
        (0, "d021", "0x1.632f0599bd283p-2"),
        (0, "d039", "0x1.5df22f15e3b9cp-2"),
        (0, "d046", "0x1.5e15435287b6bp-2"),
        (0, "d049", "0x1.644df786f777cp-2"),
        (0, "d057", "0x1.5d662453f66dep-2"),
        (1, "d044", "0x1.c7bc57cede6b6p-1"),
        (1, "d059", "0x1.b88d5d0f03009p-1"),
        (1, "d061", "0x1.c925636c2959ep-1"),
        (1, "d076", "0x1.dd83e450eb927p-1"),
        (1, "d080", "0x1.e2f8ddb7cc11ep-1"),
        (1, "d082", "0x1.cbeb699248e1dp-1"),
    ],
    "span_containing": [
        (0, "d002", "0x1.3fc4d22dc6ab0p-1"),
        (0, "d029", "0x1.3acddf742a66cp-1"),
        (0, "d039", "0x1.3adbf71d2f782p-1"),
        (0, "d051", "0x1.44b594e3751c0p-1"),
        (0, "d077", "0x1.41b9d1c8ef2f0p-1"),
        (0, "d089", "0x1.41ffb58c43d9dp-1"),
        (1, "d006", "0x1.d48bbb541161ep-1"),
        (1, "d044", "0x1.c7bc57cede6b6p-1"),
        (1, "d061", "0x1.c925636c2959ep-1"),
        (1, "d076", "0x1.dd83e450eb927p-1"),
        (1, "d080", "0x1.e2f8ddb7cc11ep-1"),
        (1, "d082", "0x1.cbeb699248e1dp-1"),
    ],
    "span_within": [
        (0, "d002", "0x1.576a0ed0e17dep-2"),
        (0, "d020", "0x1.3e2b497117005p-2"),
        (0, "d039", "0x1.5df22f15e3b9cp-2"),
        (0, "d046", "0x1.5e15435287b6bp-2"),
        (0, "d051", "0x1.3a19cffc4039cp-2"),
        (0, "d057", "0x1.5d662453f66dep-2"),
        (1, "d006", "0x1.0baee3276c1c2p-1"),
        (1, "d010", "0x1.0b7086e0bbc15p-1"),
        (1, "d023", "0x1.2ce351f3e2048p-1"),
        (1, "d061", "0x1.1469c0c46462dp-1"),
        (1, "d076", "0x1.105b2e0cf87a3p-1"),
        (1, "d088", "0x1.18401e84abf36p-1"),
    ],
    "field_masking": [
        (0, "m07", "0x1.64bf6703b38a0p+0"),
        (0, "m12", "0x1.7200b99ddaad2p+0"),
        (0, "m22", "0x1.a278878523c36p+0"),
        (0, "m32", "0x1.8f6f9d5c54a9ep+0"),
        (0, "m45", "0x1.3f7597429c420p+0"),
        (0, "m54", "0x1.55dfb0eb5177fp+0"),
        (1, "m25", "0x1.644343ef9022ap+0"),
        (1, "m30", "0x1.6adb16c9e6ffcp+0"),
        (1, "m41", "0x1.62b1b878532fap+0"),
        (1, "m42", "0x1.663e038a101a2p+0"),
        (1, "m47", "0x1.6c1b85e89bbbep+0"),
        (1, "m55", "0x1.5ec0efbbd2520p+0"),
    ],
    "phrase_prefix": [
        (0, "d002", "0x1.3fc4d22dc6ab0p-1"),
        (0, "d029", "0x1.3acddf742a66cp-1"),
        (0, "d039", "0x1.3adbf71d2f782p-1"),
        (0, "d051", "0x1.44b594e3751c0p-1"),
        (0, "d077", "0x1.41b9d1c8ef2f0p-1"),
        (0, "d089", "0x1.41ffb58c43d9dp-1"),
        (1, "d010", "0x1.cbeb699248e1dp-1"),
        (1, "d014", "0x1.c2b96369a39b8p-1"),
        (1, "d037", "0x1.c358d23fa0782p-1"),
        (1, "d041", "0x1.c76ff7a073febp-1"),
        (1, "d055", "0x1.c0e4e0a44377cp-1"),
        (1, "d088", "0x1.e50f8724f2e2cp-1"),
    ],
}


def test_positional_scores_bit_identical(spark, stores):
    got = run_families(spark, *stores)
    assert set(got) == set(GOLDEN)
    for fam, rows in got.items():
        assert len(rows) >= 3, fam
        assert rows == [tuple(r) for r in GOLDEN[fam]], fam
