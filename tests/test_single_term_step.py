"""One term step: the plans layer reads term statistics for a query-term
table and drops the unindexed terms in exactly one place,
``plans/search._term_table`` — every query type reaches df(t) through it
(or through ``_weighted_terms``, which adds the BM25 query weight), so the
pre-drop AND ``need`` and the drop itself cannot drift between query
types."""

import ast
import os

PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dynamo2es_lambda_spark", "plans",
)

PATTERNS = ("_join_term_stats(", '.dropna(subset=["df"])')


def _owner_ranges(src):
    """(start, end) line ranges of every function named _term_table."""
    return [
        (n.lineno, n.end_lineno)
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.FunctionDef) and n.name == "_term_table"
    ]


def test_term_step_lives_only_in_term_table():
    offenders, owners = [], 0
    for root, _, files in os.walk(PLANS):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            src = open(path).read()
            ranges = _owner_ranges(src)
            owners += len(ranges)
            for i, line in enumerate(src.splitlines(), start=1):
                if any(p in line for p in PATTERNS) and not any(
                    a <= i <= b for a, b in ranges
                ):
                    offenders.append(f"{path}:{i}: {line.strip()}")
    assert owners == 1, "expected exactly one _term_table in plans/"
    assert not offenders, (
        "read term stats and drop unindexed terms through "
        "search._term_table / _weighted_terms:\n" + "\n".join(offenders)
    )
