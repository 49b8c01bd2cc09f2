"""One store layout record and one block encoder on the write path.

- The block wire format is encoded in one place: ``codec.encode_runs``
  (the build's block encoder and the compaction rewrite both call it);
  ``codec.encode_blocks`` stays only as the per-block reference the tests
  and the benchmark probe use, so no package module outside
  ``functions/codec.py`` calls it.
- The layout flags are read from meta.json in one place:
  ``plans.build.StoreLayout``. The build, CDC and management plans take the
  record instead of re-reading single flags."""

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dynamo2es_lambda_spark",
)
LAYOUT_FLAGS = ("positions", "id_mode", "num_buckets", "fields",
                "edge_ngrams", "doc_meta_cols", "lm_stats")
FLAG_READ = re.compile(
    r"\.get\(\s*[\"'](%s)[\"']" % "|".join(LAYOUT_FLAGS)
)


def _sources():
    for root, _, files in os.walk(PKG):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                yield path, open(path).read()


def _line(src, pos):
    return src[:pos].count("\n") + 1


def test_encode_blocks_called_only_in_codec():
    offenders = [
        f"{path}:{_line(src, m.start())}"
        for path, src in _sources()
        if os.path.relpath(path, PKG) != os.path.join("functions", "codec.py")
        for m in re.finditer(r"\bencode_blocks\(", src)
    ]
    assert not offenders, (
        "encode blocks with codec.encode_runs:\n" + "\n".join(offenders)
    )


def _store_layout_span(src):
    """(start, end) of the StoreLayout class body in plans/build.py."""
    m = re.search(r"^class StoreLayout\b.*?(?=^\S)", src, re.M | re.S)
    return (m.start(), m.end()) if m else (0, 0)


def test_layout_flags_read_only_by_store_layout():
    offenders = []
    for name in ("build.py", "cdc.py", "manage.py"):
        path = os.path.join(PKG, "plans", name)
        src = open(path).read()
        lo, hi = _store_layout_span(src) if name == "build.py" else (0, 0)
        offenders += [
            f"{path}:{_line(src, m.start())}: {m.group(0)}"
            for m in FLAG_READ.finditer(src)
            if not lo <= m.start() < hi
        ]
    assert not offenders, (
        "read layout flags through build.StoreLayout:\n"
        + "\n".join(offenders)
    )
