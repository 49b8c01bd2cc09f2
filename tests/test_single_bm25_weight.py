"""One BM25 query weight: the plans layer must not retype
idf(t) * (k1 + 1) — every per-term weight goes through
``functions.bm25.query_weight``, so the operation order (and with it every
score bit) is decided in one place. ``explain_score`` and the Spark-column
expression of ``search_combined_fields`` multiply in a different order and
are deliberately written out; they do not match this pattern."""

import os
import re

PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dynamo2es_lambda_spark", "plans",
)

# bm25.idf(<args, possibly nested and multi-line>)[<index>] * (bm25.K1 + 1.0)
RETYPED_WEIGHT = re.compile(
    r"bm25\.idf\((?:[^()]|\([^()]*(?:\([^()]*\)[^()]*)*\))*\)"
    r"(?:\[[^\]]*\])?\s*\*\s*\(\s*bm25\.K1\s*\+\s*1\.0\s*\)",
    re.MULTILINE,
)


def test_no_retyped_bm25_query_weight():
    offenders = []
    for root, _, files in os.walk(PLANS):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            src = open(path).read()
            for m in RETYPED_WEIGHT.finditer(src):
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{path}:{line}")
    assert not offenders, (
        "use bm25.query_weight instead of idf * (K1 + 1):\n"
        + "\n".join(offenders)
    )
