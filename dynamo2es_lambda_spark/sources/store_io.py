"""Index-store I/O helpers: parquet writers + checkpoint markers.

Iceberg is the primary design target (partitioned tables, atomic commits);
the sandbox image lacks the Iceberg runtime jar, so the layout falls back to
directory-partitioned parquet with the same structure (SURVEY.md §4.2(c)).
``try_iceberg`` gates the Iceberg path behind an import/config check.
"""

from __future__ import annotations

import bisect
import contextlib
import json
import os

from pyspark.sql import DataFrame


def iceberg_available(spark) -> bool:
    """True if an Iceberg catalog is configured on this session."""
    try:
        return bool(spark.conf.get("spark.sql.catalog.spark_catalog", None))
    except Exception:  # noqa: BLE001
        return False


_FORMAT_CACHE: dict[object, str] = {}


def storage_format(spark) -> str:
    """'iceberg' when an Iceberg catalog is configured AND the runtime jar
    is on the classpath; else 'parquet'. The big store tables (segment tree)
    route through this; metadata-sized side tables (lineage, dead,
    term_stats via driver writes) stay plain parquet — they are footers-and-
    pages small and read whole. The sandbox image has no Iceberg jar, so the
    parquet branch is the tested one (SURVEY.md §4.2(c)); the directory
    layout is Iceberg-compatible either way.

    Memoized per SparkSession (keyed on applicationId — stable for the
    session's lifetime, never reused the way a GC'd object's id() can be):
    every store read/write routes through here and the answer (a conf
    lookup + a py4j Class.forName round-trip) cannot change within a
    session."""
    try:
        key = spark.sparkContext.applicationId
    except Exception:  # noqa: BLE001
        key = id(spark)
    got = _FORMAT_CACHE.get(key)
    if got is not None:
        return got
    if not iceberg_available(spark):
        fmt = "parquet"
    else:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.source.IcebergSource"
            )
            fmt = "iceberg"
        except Exception:  # noqa: BLE001
            fmt = "parquet"
    _FORMAT_CACHE[key] = fmt
    return fmt


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    options: dict | None = None,
) -> None:
    """``options`` are user bulk/sink options merged into the writer — the
    engine's analog of the reference merging its ``bulk`` option dict into
    the sink call (/root/reference/lib/handler.js:151-153); e.g.
    ``{"compression": "zstd"}`` reaches ``DataFrameWriter.option``.

    Format routes through :func:`storage_format` (Iceberg when a configured
    catalog + runtime exist, else parquet — identical directory layout)."""
    w = df.write.format(storage_format(df.sparkSession)).mode(mode)
    for key, val in (options or {}).items():
        w = w.option(key, val)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def parquet_files(path: str) -> list[str]:
    """Every ``.parquet`` file under a directory tree, path-sorted — the
    one file listing of a store table; [] for a missing directory."""
    return sorted(
        os.path.join(root, fn)
        for root, _dirs, fns in os.walk(path)
        for fn in fns
        if fn.endswith(".parquet")
    )


def parquet_num_rows(path: str) -> int:
    """Row count of a parquet directory from file FOOTERS only — a driver
    metadata read, no Spark job, no row materialization. 0 for a missing
    directory."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in parquet_files(path))


def sorted_read(
    path: str,
    key_col: str,
    cols: tuple[str, ...] = (),
    *,
    keys: list | None = None,
    prefix: str | None = None,
    count: bool = False,
    limit: int | None = None,
):
    """Driver-side read of a parquet table whose files are sorted by
    ``key_col`` (term_stats by term, lm_stats by gram), pruned by row-group
    key statistics: no Spark job, the same cost at any table size.
    ``keys``: the rows whose key is listed, in file order. ``prefix``: the
    rows whose key starts with it, key-ascending — the key range
    ``[p, p + "\\x7f")`` of an ASCII prefix; an empty or non-ASCII one is
    refused. ``limit`` keeps the first ``limit`` prefix rows, reading the
    matching groups by ascending key minimum (no statistics first) until
    ``limit`` rows are held and the next minimum is above the ``limit``-th
    held key — the unbounded read's rows on any layout. ``count``: the
    match count. ``cols`` projects, skipping absent ones (legacy layouts).
    None means "take the Spark read": a refused prefix, a missing table, or
    an ``OSError`` / ``ArrowInvalid`` layout; any other error propagates."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if prefix is not None and (not prefix or max(map(ord, prefix)) >= 0x7F):
        return None
    files = parquet_files(path)
    if not files:
        return None
    want = None if keys is None else sorted(keys)
    lo, hi = prefix, f"{prefix}\x7f"

    def can_match(mn, mx) -> bool:
        if want is None:
            return mn < hi and mx >= lo
        return bisect.bisect_right(want, mx) > bisect.bisect_left(want, mn)

    try:
        with contextlib.ExitStack() as stack:
            pfs = [stack.enter_context(pq.ParquetFile(f)) for f in files]
            groups = []  # (key min | None, file, row group) that can match
            for fi, pf in enumerate(pfs):
                ki = pf.schema_arrow.get_field_index(key_col)
                for gi in range(pf.metadata.num_row_groups):
                    st = pf.metadata.row_group(gi).column(ki).statistics
                    if st is None or not st.has_min_max:
                        groups.append((None, fi, gi))
                    elif can_match(st.min, st.max):
                        groups.append((st.min, fi, gi))
            groups.sort(key=lambda g: (g[0] is not None, g[0] or "", *g[1:]))
            names = pfs[0].schema_arrow.names
            use = [key_col] if count else [c for c in cols if c in names]
            held, kth = [], None
            for gmin, fi, gi in groups:
                if kth is not None and gmin is not None and gmin > kth:
                    break
                t = pfs[fi].read_row_group(gi, columns=use)
                k = t[key_col]
                held.append((fi, gi, t.filter(
                    pc.and_(pc.greater_equal(k, lo), pc.less(k, hi))
                    if want is None else pc.is_in(k, pa.array(want, k.type))
                )))
                if limit and sum(h[2].num_rows for h in held) >= limit:
                    kth = sorted(
                        x for h in held for x in h[2][key_col].to_pylist()
                    )[limit - 1]
            out = pa.concat_tables(
                [h[2] for h in sorted(held, key=lambda h: h[:2])]
                or [pfs[0].schema_arrow.empty_table().select(use)]
            )
    except (OSError, pa.ArrowInvalid):
        return None
    if count:
        return out.num_rows
    out = out.to_pandas()
    if prefix is None:
        return out
    return out.sort_values(
        key_col, kind="mergesort", ignore_index=True
    ).iloc[:limit]


def segments_path(store_path: str) -> str:
    """Unified segment tree: one parquet dataset per batch holding BOTH
    posting-block rows (part=block, sub-partitioned by term_bucket) and
    doc-stat rows (part=doc) — the single-write layout of one build job."""
    return os.path.join(store_path, "segments")


def read_store(spark, store_path: str):
    """Format-routed read of a store's segment tree (see
    :func:`storage_format`), with the schema meta.json pins as
    ``segments_schema`` (plans/build._finalize_store), so the read spends
    no schema-inference job. Stores finalized before that key existed keep
    the inferred read — the only path their layout has."""
    reader = spark.read.format(storage_format(spark))
    pinned = read_meta(store_path).get("segments_schema")
    if pinned is not None:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(pinned))
    return reader.load(segments_path(store_path))


def select_blocks(segs):
    """Posting-block rows ONLY of a segment-tree frame, projected to the
    block columns — marker metadata (including user doc_meta_cols, whose
    names are free-form) must never ride into query-side joins where they
    could shadow the planner's own columns; the projection is also the
    column pruning the posting reads want."""
    from pyspark.sql import functions as F

    block_cols = [
        "term", "seg", "block_id", "n_docs", "doc_first", "doc_last",
        "max_tf", "min_dl", "doc_bytes", "tf_bytes", "dl_bytes",
        "pos_bytes", "term_bucket", "batch",
    ]
    df = segs.filter(F.col("part") == "block")
    return df.select(*[c for c in block_cols if c in df.columns])


def read_blocks(spark, store_path: str):
    return select_blocks(read_store(spark, store_path))


def read_doc_stats(spark, store_path: str):
    from pyspark.sql import functions as F

    df = read_store(spark, store_path).filter(
        F.col("part") == "doc"
    )
    extra = tuple(read_meta(store_path).get("doc_meta_cols") or ())
    keep = [
        c
        for c in ("doc_int", "doc_id", "index_name", "doc_type", "parent",
                  "version", "dl", "field_dls", "content_sha256", "lang",
                  "ts", "batch", *extra)
        if c in df.columns
    ]
    return df.select(*keep)


def read_doc_rows(spark, store_path: str, cols: tuple[str, ...] = ("doc_int", "seg")):
    """Doc-stat marker rows WITH their posting-segment assignment: the
    marker's ``doc_seg`` column records ``doc_int >> seg_shift`` of the
    batch that indexed the doc (plans/build._build_batch_once) — i.e.
    exactly the ``seg`` of every posting block holding the doc. Returned
    aliased as ``seg``: what plans/search._segment_constraints and
    plans/cdc.compact_store key their cogroups on. (The marker's raw
    ``seg`` column is only a shuffle-spreading key — never use it.)

    Stores written before the doc_seg column are UNSUPPORTED here by
    design and raise EngineError (compaction and constraint-routed WAND
    need the true per-batch posting segment, which cannot be recovered
    from the markers alone — seg_shift varied per batch). Such stores
    still serve every non-cogrouped query path; rebuilding the index
    migrates them. A derive-from-doc_int fallback would silently mis-route
    constraints on multi-batch stores, so failing loudly is the safe
    floor."""
    from pyspark.sql import functions as F

    from ..errors import EngineError

    df = read_store(spark, store_path).filter(
        F.col("part") == "doc"
    )
    if "doc_seg" not in df.columns:
        raise EngineError(
            f"store at {store_path} predates the doc_seg marker column — "
            "rebuild the index to enable segment-routed constraints"
        )
    sel = [
        F.col("doc_seg").alias("seg") if c == "seg" else F.col(c)
        for c in cols
        if c == "seg" or c in df.columns
    ]
    return df.select(*sel)


def read_meta(store_path: str) -> dict:
    """The store's meta.json, or {} for a store not yet finalized — the ONE
    reader for store-level flags (id_mode, positions, num_buckets, ...)."""
    p = os.path.join(store_path, "meta.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def has_checkpoints(store_path: str) -> bool:
    d = checkpoint_dir(store_path)
    return os.path.isdir(d) and any(
        f.endswith(".json") for f in os.listdir(d)
    )


def checkpoint_dir(store_path: str) -> str:
    return os.path.join(store_path, "checkpoints")


def checkpoint_exists(store_path: str, name: str) -> bool:
    return os.path.exists(os.path.join(checkpoint_dir(store_path), f"{name}.json"))


def write_checkpoint(store_path: str, name: str, payload: dict) -> None:
    d = checkpoint_dir(store_path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, os.path.join(d, f"{name}.json"))  # atomic marker


def clear_checkpoint(store_path: str, name: str) -> None:
    p = os.path.join(checkpoint_dir(store_path), f"{name}.json")
    if os.path.exists(p):
        os.remove(p)
