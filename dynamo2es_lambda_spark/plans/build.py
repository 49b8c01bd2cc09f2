"""Index build orchestration + on-disk index store.

The reference's sink is one Elasticsearch ``bulk`` call per batch
(/root/reference/lib/handler.js:149-162); the engine's sink is its own index
store — partitioned parquet tables (Iceberg layout-compatible: directory
partitioning; the sandbox image has no Iceberg jars, see SURVEY.md §4.2(c)):

  {root}/doc_stats/batch=<b>/        doc_int, doc_id, index_name, doc_type,
                                     parent, version, dl, content_sha256, lang
  {root}/postings/batch=<b>/term_bucket=<h>/   block rows (operators/postings)
  {root}/term_stats/                 term, df            (rebuilt per commit)
  {root}/lineage/batch=<b>/          per-segment build metrics (north rule)
  {root}/checkpoints/<batch>.json    per-batch success marker → resume
  {root}/meta.json                   N, avgdl, seg_size, bucket count

Resumability (north rule): the corpus is split deterministically into
``num_batches`` disjoint doc sets (hash of doc_id); each batch is one Spark
job committing its own partition directories + a checkpoint marker. A re-run
skips batches whose marker exists — idempotent writes keyed by batch.

Throughput metrics (docs/sec, postings/sec, compressed bytes per segment) are
recorded per batch in lineage — BASELINE.json north_star requirement.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as ST
from pyspark.sql.window import Window

from ..config import IndexerConfig
from ..errors import EngineError
from ..jsonlog import LOG, log_event
from ..operators import fieldmap, ids, postings
from ..sources import store_io

DEFAULT_BUCKETS = 64
# doc_int layout (batch | partition | row bits) lives in operators/ids.py


@dataclass
class BuildResult:
    """The engine's bulk-result analog (README.md:89-116): took/errors/items
    become took/quarantined/metrics."""

    took_sec: float
    n_docs: int          # docs indexed by THIS run (0 if all batches skipped)
    n_blocks: int
    quarantined: int
    batches: list[str]
    skipped_batches: int = 0  # checkpoint-resumed batches left untouched


# a layout flag's meta.json value → its record value (explicit arguments
# go through the same normalization before the conflict comparison)
_LAYOUT_FLAGS = {
    "positions": bool,
    "lm_stats": bool,
    "id_mode": str,
    "fields": lambda v: tuple(v or ()) or None,
    "edge_ngrams": lambda v: tuple(sorted({int(g) for g in v or ()})) or None,
    "doc_meta_cols": lambda v: tuple(v or ()),
    "num_buckets": int,
}
# what an explicit conflicting value would break, per flag
_CONFLICTS = {
    "positions": "mix batch layouts",
    "lm_stats": "leave earlier batches' grams uncounted and skew the LM",
    "id_mode": "mix id namespaces",
    "fields": "mix qualified and unqualified term namespaces",
    "edge_ngrams": "change the subfield set mid-store",
    "doc_meta_cols": "change the marker schema mid-store",
    "num_buckets": (
        "write blocks under a second pmod() layout and break term_bucket "
        "pruning"
    ),
}
_FIELD_NAME = r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*"
# column names the segment files already use — a doc_meta_col must not
# shadow one
_RESERVED_COLS = frozenset({
    "part", "term", "seg", "block_id", "n_docs", "doc_first", "doc_last",
    "max_tf", "min_dl", "doc_bytes", "tf_bytes", "dl_bytes", "pos_bytes",
    "term_bucket", "doc_int", "dl", "doc_seg", "batch", "doc_id",
    "index_name", "doc_type", "parent", "version", "content_sha256", "lang",
    "ts", "field_dls",
})


@dataclass(frozen=True)
class StoreLayout:
    """The layout every batch of one store shares: the flags a build,
    a CDC batch and a finalize must agree on, plus the segment sizing.
    meta.json stores it; :meth:`read` and :meth:`resolve` are the only
    readers of its layout keys on the write path, and :meth:`write_meta`
    the only writer."""

    positions: bool = False
    id_mode: str = "hash"
    num_buckets: int = DEFAULT_BUCKETS
    fields: tuple[str, ...] | None = None
    edge_ngrams: tuple[int, ...] | None = None
    doc_meta_cols: tuple[str, ...] = ()
    lm_stats: bool = False
    segment_docs: int = 0

    @classmethod
    def _from_meta(cls, meta: dict) -> StoreLayout:
        defaults = cls()
        return cls(
            **{
                name: norm(meta.get(name, getattr(defaults, name)))
                for name, norm in _LAYOUT_FLAGS.items()
            },
            segment_docs=int(meta.get("segment_docs", 0)),
        )

    @classmethod
    def read(
        cls, store_path: str, num_buckets: int | None = None
    ) -> StoreLayout:
        """The store's layout as its meta.json records it (defaults for a
        store not yet finalized). ``num_buckets`` is inherit-or-conflict
        for the writers that add to a store (a CDC batch, a compaction):
        None inherits; a finalized store's blocks sit under the
        ``term_bucket=`` directories of its own pmod() modulus, so a
        different explicit value raises instead of being recorded."""
        meta = store_io.read_meta(store_path)
        layout = cls._from_meta(meta)
        if num_buckets is None:
            return layout
        if meta and int(num_buckets) != layout.num_buckets:
            raise EngineError(
                f"store at {store_path} was built with num_buckets="
                f"{layout.num_buckets}; writing under a different pmod() "
                "layout would break term_bucket pruning — omit the value "
                "to inherit"
            )
        return replace(layout, num_buckets=int(num_buckets))

    @classmethod
    def resolve(
        cls,
        store_path: str,
        *,
        content_col: str,
        segment_docs: int | None,
        **flags,
    ) -> StoreLayout:
        """The layout a build onto ``store_path`` writes. Each flag in
        ``flags`` (the keys of ``_LAYOUT_FLAGS``) is inherit-or-conflict:
        None inherits the finalized store's value (a fresh store's
        default); an explicit value that differs from a committed store's
        raises, naming the flag — a resumed build must not mix batch
        layouts or desync meta.json from the committed batches."""
        prev = store_io.read_meta(store_path)
        stored = cls._from_meta(prev)
        strict = bool(prev) and store_io.has_checkpoints(store_path)
        out: dict = {}
        for name, norm in _LAYOUT_FLAGS.items():
            value = flags.get(name)
            if value is None:
                out[name] = getattr(stored, name)
                continue
            value = norm(value)
            if name == "fields":
                # dotted paths index NESTED object fields ("meta.author");
                # each dot segment must be a plain identifier so the path
                # parses identically as a Spark struct accessor, a SQL
                # expression, and a term-prefix qualifier
                for f_ in value or ():
                    if not re.fullmatch(_FIELD_NAME, f_):
                        raise EngineError(f"invalid field name: {f_!r}")
                if value and len(set(value)) != len(value):
                    raise EngineError(f"duplicate field names: {value}")
            elif name == "edge_ngrams":
                if out["fields"] is not None and not stored.edge_ngrams:
                    raise EngineError(
                        "edge_ngrams is mutually exclusive with fields= — "
                        "the search_as_you_type subfields are synthesized "
                        "from the single content column"
                    )
                if not value or any(not 2 <= g <= 4 for g in value):
                    raise EngineError(
                        "edge_ngrams: shingle sizes must be distinct ints "
                        "in 2..4"
                    )
            elif name == "doc_meta_cols" and set(value) & _RESERVED_COLS:
                raise EngineError(
                    f"doc_meta_cols {sorted(set(value) & _RESERVED_COLS)} "
                    "collide with reserved store columns — rename the "
                    "corpus columns"
                )
            if strict and value != getattr(stored, name):
                raise EngineError(
                    f"store at {store_path} was built with {name}="
                    f"{getattr(stored, name)}; an explicit conflicting value "
                    f"would {_CONFLICTS[name]} — rebuild or omit the value "
                    "to inherit"
                )
            out[name] = value
        if out["id_mode"] not in ("hash", "dense"):
            raise EngineError(f"unknown id_mode: {out['id_mode']}")
        if out["edge_ngrams"]:
            # search_as_you_type: the subfields derive from the content
            # column, so they ARE the store's field set
            sayt_fields = (
                content_col,
                *(f"{content_col}._{g}gram" for g in out["edge_ngrams"]),
                f"{content_col}._index_prefix",
            )
            if out["fields"] is None:
                out["fields"] = sayt_fields
            elif out["fields"] != sayt_fields:
                raise EngineError(
                    f"store at {store_path}: fields={out['fields']} "
                    f"conflicts with the edge_ngrams subfield set "
                    f"{sayt_fields}"
                )
        both = sorted(set(out["doc_meta_cols"]) & set(out["fields"] or ()))
        if both:
            # the fused tokenize pass consumes field columns (they become
            # qualified postings, operators/ids.tokenize_count_rows) — a
            # column cannot ALSO ride the doc markers; silently dropping
            # it would make doc_stats reads fail later, so refuse here
            raise EngineError(
                f"doc_meta_cols {both} are also indexed fields — project "
                "a duplicate column (e.g. .withColumn('x_meta', col('x')))"
                " and list that as the meta column"
            )
        return cls(
            **out,
            segment_docs=segment_docs or postings.DEFAULT_SEGMENT_DOCS,
        )

    def write_meta(
        self, store_path: str, stats: dict, segments_schema: dict
    ) -> None:
        """meta.json: ``stats`` (n_docs, avgdl and the optional token
        totals) around this layout, in the fixed key order readers and
        byte-level store comparisons rely on; aliases registered on the
        store (plans/manage.put_alias) carry over."""
        meta = {
            "n_docs": stats["n_docs"],
            "avgdl": stats["avgdl"],
            "segment_docs": self.segment_docs,
            "num_buckets": self.num_buckets,
            "positions": self.positions,
            "id_mode": self.id_mode,
            "lm_stats": self.lm_stats,
        }
        if stats.get("dl_sum") is not None:
            meta["dl_sum"] = int(stats["dl_sum"])
        if self.fields:
            meta["fields"] = list(self.fields)
            meta["avgdl_fields"] = stats["avgdl_fields"]
            if stats.get("field_dl_sums") is not None:
                meta["field_dl_sums"] = [
                    int(x) for x in stats["field_dl_sums"]
                ]
        if self.doc_meta_cols:
            meta["doc_meta_cols"] = list(self.doc_meta_cols)
        if self.edge_ngrams:
            meta["edge_ngrams"] = list(self.edge_ngrams)
        meta["segments_schema"] = segments_schema
        aliases = store_io.read_meta(store_path).get("aliases")
        if aliases:
            meta["aliases"] = aliases
        with open(os.path.join(store_path, "meta.json"), "w") as f:
            json.dump(meta, f)


_META_COLS = ("doc_id", "index_name", "doc_type", "parent", "version",
              "content_sha256")


def build_meta(df: DataFrame, action: str | None = None) -> DataFrame:
    """Per-record lineage for after_hook: one row per processed record with
    (doc_id, action, routing/version/sha columns) — the engine's analog of
    the ``meta`` list of {event, action, document} the reference accumulates
    per record and hands to afterHook (lib/handler.js:115-125,167; asserted
    test/handler-tests.js:268-285). A DataFrame, not a collected list — at
    100 TB the hook decides whether to aggregate, sample, or persist it."""
    cols = [c for c in _META_COLS if c in df.columns]
    if action is None and "action" in df.columns:
        return df.select(*cols, "action")
    return df.select(*cols).withColumn(
        "action", F.lit(action or "index")
    )


def invoke_after_hook(hook, result, meta_df: DataFrame):
    """Call after_hook with (result, meta) when the hook OPTS IN to the
    two-arg reference afterHook signature (lib/handler.js:167); single-arg
    hooks keep the result-only contract.

    Opt-in is explicit, not arity-counted: the hook receives meta when its
    signature has a parameter NAMED ``meta`` (any kind, defaulted or not),
    a REQUIRED second positional parameter (an unambiguous two-arg
    signature), or ``*args``. A hook like ``def hook(result, log=None)``
    — one real arg plus an unrelated optional — stays result-only instead
    of silently receiving a DataFrame in its keyword slot."""
    import inspect

    try:
        params = list(inspect.signature(hook).parameters.values())
    except (TypeError, ValueError):
        return hook(result)
    meta_param = next((p for p in params if p.name == "meta"), None)
    if meta_param is not None:
        if meta_param.kind == meta_param.KEYWORD_ONLY:
            return hook(result, meta=meta_df)
        return hook(result, meta_df)
    pos = [p for p in params
           if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)]
    var_pos = any(p.kind == p.VAR_POSITIONAL for p in params)
    required_second = len(pos) >= 2 and pos[1].default is inspect.Parameter.empty
    if var_pos or required_second:
        return hook(result, meta_df)
    return hook(result)


def dedup_latest_version(df: DataFrame) -> DataFrame:
    """External-version last-writer-wins (lib/handler.js:80-87 semantics):
    keep the highest version per doc_id. No-op when version is all-null.

    Version TIES (racing writers) resolve by a hash of the full row — an
    arbitrary but DETERMINISTIC winner, so re-runs build identical stores
    (ordering by the partition key alone would leave the tie to shuffle
    arrival order). Same policy as operators/actions.last_writer_wins.
    """
    row_hash = F.xxhash64(*[F.col(c) for c in df.columns])
    w = Window.partitionBy("doc_id").orderBy(
        F.col("version").desc_nulls_last(), row_hash.desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def build_index(
    corpus: DataFrame,
    cfg: IndexerConfig,
    store_path: str,
    *,
    key_cols: tuple[str, ...] = fieldmap.DEFAULT_KEY_COLS,
    content_col: str = "content",
    segment_docs: int | None = None,
    num_buckets: int | None = None,
    num_batches: int = 1,
    resume: bool = True,
    dedup_versions: bool = False,
    positions: bool | None = None,
    id_mode: str | None = None,
    dense_partitions: int | None = None,
    fields: tuple[str, ...] | None = None,
    lm_stats: bool | None = None,
    doc_meta_cols: tuple[str, ...] | None = None,
    edge_ngrams: tuple[int, ...] | None = None,
) -> BuildResult:
    """Build the full inverted index from a corpus DataFrame.

    ``doc_meta_cols``: extra corpus columns to carry onto the doc-stat
    markers alongside the built-in metadata (lang/ts/version/...) — ES
    stores arbitrary document fields and its aggregations bucket on
    them; the engine's agg family (plans/search.search_terms_agg and
    friends) reads whatever read_doc_stats exposes. Names are recorded
    in meta.json so readers know what to select; follows the
    inherit-or-conflict discipline of ``fields`` (a resumed build must
    not change the marker schema batch-to-batch).

    ``lm_stats=True`` additionally materializes collection-frequency
    statistics for every unigram and bigram (``lm_stats`` table) during
    the build — the index-time language-model state the phrase suggester
    (plans/search.suggest_phrase) reads at query time, so a did-you-mean
    never re-scans the corpus (ES answers suggesters from index
    statistics). Costs one extra JVM-only corpus pass per batch at build
    time and a vocabulary-sized table in the store. Like ES's ttf, the
    counts include deleted docs until a full rebuild (compaction keeps
    them — they are collection statistics, not postings). ``None``
    inherits an existing store's flag (default off), same discipline as
    ``positions``.

    ``edge_ngrams``: search_as_you_type mode (ES field type of that
    name) — additionally materialize word-shingle subfields
    ``<content>._<g>gram`` for each listed size plus an edge-prefix
    subfield ``<content>._index_prefix`` (every token's 1..10-char
    prefixes), all as ordinary qualified per-field postings in the one
    shared namespace — so type-ahead queries
    (plans/search.search_as_you_type) are pure index hits: the typed
    prefix is an exact dictionary term, no term_stats scan. Costs extra
    postings at build time (≈ |edge_ngrams| + prefix_max tokens per
    root token); mutually exclusive with ``fields``; same
    inherit-or-conflict discipline.

    ``fields``: multi-field mode — tokenize each listed column into ONE
    shared posting namespace as ``"<field>:<token>"`` terms (ES multi-field
    documents; the reference's field mapping emits them,
    lib/handler.js:100). Per-posting dl is field-local (inlined dl_bytes),
    meta records per-field avgdl, so every per-field BM25 norm is exact;
    query with ``search(..., field=...)`` / ``search.multi_match``. Follows
    the same inherit-or-conflict discipline as positions/id_mode.

    ``positions=True`` additionally stores per-(term, doc) token positions
    (delta+varbyte, concatenated per block — functions/codec.py) enabling
    exact phrase queries (plans/search.search_phrase). Costs ~1 extra byte
    per token in the store and nothing at non-phrase query time (the
    pos_bytes column is never read unless a phrase query asks for it —
    columnar pruning).

    ``positions=None`` (default) INHERITS an existing store's flag — a
    resumed re-run must not flip a positional store to non-positional (or
    vice versa) and desync meta.json from the committed batches' layout.

    ``id_mode``: ``"hash"`` (default) — doc_int = xxhash64(doc_id, batch),
    no extra shuffle, ~8 delta bytes/posting; ``"dense"`` — rank-dense ids
    via one range shuffle, ~1-2 delta bytes/posting (storage-optimal; see
    SCALE.md). None inherits an existing store's mode.

    ``num_buckets`` follows the same inherit-or-conflict discipline as
    positions/id_mode: None inherits an existing store's bucket count
    (default 64 on a fresh store); an explicit value conflicting with a
    committed store raises — a second pmod() layout would scatter a term's
    blocks across two bucket assignments and silently break the
    term_bucket pruning in plans/search._matched_blocks (term_stats keeps
    ONE bucket per term).
    """
    spark = corpus.sparkSession
    t0 = time.monotonic()
    committed = store_io.has_checkpoints(store_path)
    layout = StoreLayout.resolve(
        store_path, content_col=content_col, segment_docs=segment_docs,
        positions=positions, lm_stats=lm_stats, id_mode=id_mode,
        fields=fields, edge_ngrams=edge_ngrams, doc_meta_cols=doc_meta_cols,
        num_buckets=num_buckets,
    )

    # structured logging middleware analog (lib/handler.js:28): one JSON
    # event stream per run — see jsonlog.py
    log_event(
        LOG, "build.start", store=store_path, num_batches=num_batches,
        num_buckets=layout.num_buckets, positions=layout.positions,
        id_mode=layout.id_mode,
    )

    # --- before_hook (lib/handler.js:32-34) ---
    if cfg.before_hook:
        cfg.before_hook(corpus)

    try:
        mapped = fieldmap.apply_field_mapping(
            corpus, cfg, key_cols=key_cols, content_col=content_col
        )
        if layout.fields and not layout.edge_ngrams:
            # multi-field: the north-rule sha covers EVERY indexed field
            # (deterministic field order, unit-separator joined) — not just
            # content_col, which may not even exist on a fields corpus
            # (search_as_you_type subfields are DERIVED — the root content
            # sha already covers them)
            mapped = mapped.withColumn(
                "content_sha256", _fields_sha(layout.fields)
            )

        # --- per-record error channel (lib/handler.js:41,127-133) ---
        # ONE column-pruned aggregation answers every control question the
        # build used to spend separate jobs on: how many records error
        # (quarantine count / strict-mode probe), whether any good records
        # exist (empty-batch short-circuit), and each batch's good-record
        # count (the per-batch segment sizing that _build_batch re-counted
        # from scratch). Three corpus passes fold into one; the fold is
        # only a COUNT oracle, so it stays exact when no hook can change
        # cardinality downstream (transform_record_hook / dedup_versions
        # fall back to the explicit probes below).
        bad = mapped.filter(F.col("error").isNotNull())
        good = mapped.filter(F.col("error").isNull())
        counts_exact = (
            cfg.transform_record_hook is None and not dedup_versions
        )
        good_flag = F.col("error").isNull().cast("long")
        if num_batches == 1:
            probe = mapped.agg(
                F.count("*").alias("n"),
                F.sum(good_flag).alias("n_good"),
                F.min("error").alias("sample_err"),
            ).first()
            batch_counts = {0: int(probe["n_good"] or 0)}
        else:
            rows_p = (
                mapped.groupBy(
                    F.when(
                        F.col("error").isNull(),
                        F.pmod(
                            F.abs(F.xxhash64("doc_id")), F.lit(num_batches)
                        ),
                    ).alias("_b")
                )
                .agg(
                    F.count("*").alias("n"),
                    F.sum(good_flag).alias("n_good"),
                    F.min("error").alias("sample_err"),
                )
                .collect()
            )
            probe = {
                "n": sum(r["n"] for r in rows_p),
                "n_good": sum(int(r["n_good"] or 0) for r in rows_p),
                "sample_err": min(
                    (r["sample_err"] for r in rows_p
                     if r["sample_err"] is not None),
                    default=None,
                ),
            }
            batch_counts = {
                int(r["_b"]): int(r["n_good"] or 0)
                for r in rows_p
                if r["_b"] is not None
            }
        n_bad = int(probe["n"]) - int(probe["n_good"] or 0)
        quarantined = 0
        if cfg.record_error_hook is not None:
            quarantined = n_bad
            if quarantined:
                store_io.write_parquet(
                    bad, os.path.join(store_path, "quarantine"), mode="append"
                )
                cfg.record_error_hook(bad)
        elif n_bad:
            # strict mode: any record error fails the whole batch (min() =
            # a deterministic sample of the error messages)
            raise EngineError(probe["sample_err"])

        # --- transform hook: DataFrame→DataFrame, falsy-drop ≡ filter
        # (lib/handler.js:89-93) ---
        if cfg.transform_record_hook is not None:
            good = cfg.transform_record_hook(good)

        if dedup_versions:
            good = dedup_latest_version(good)

        meta_df = build_meta(good, action="index")
        good = fieldmap.pick_document_fields(good, cfg)

        # --- empty-batch short-circuit (lib/handler.js:138-147) ---
        if (int(probe["n_good"] or 0) == 0) if counts_exact else good.isEmpty():
            result = BuildResult(
                took_sec=0.0, n_docs=0, n_blocks=0,
                quarantined=quarantined, batches=[],
            )
            if cfg.after_hook:
                override = invoke_after_hook(cfg.after_hook, result, meta_df)
                if override is not None:
                    return override
            return result

        batch_names = []
        total_docs = 0
        total_blocks = 0
        skipped = 0
        # fresh single-batch fast path: the store's doc_stats after the loop
        # are exactly this batch's rows, so the batch's own read-back
        # aggregation can double as the finalize audit (one job instead of
        # two full doc-stat scans)
        audit_sink: dict | None = (
            {}
            if (num_batches == 1 and not committed
                and not os.path.isdir(os.path.join(store_path, "tombstones")))
            else None
        )
        for b in range(num_batches):
            name = f"b{b}"
            batch_names.append(name)
            if resume and store_io.checkpoint_exists(store_path, name):
                skipped += 1
                if audit_sink is not None:
                    audit_sink = None  # store ≠ this run's batch
                continue
            part = (
                good
                if num_batches == 1
                else good.filter(
                    F.pmod(F.abs(F.xxhash64("doc_id")), F.lit(num_batches)) == b
                )
            )
            nd, nb = _build_batch(
                part, store_path, b, name, layout,
                content_col=content_col,
                retries=cfg.retries,
                dense_partitions=dense_partitions,
                sink_options=cfg.sink_options,
                n_docs_hint=(
                    batch_counts.get(b) if counts_exact else None
                ),
                audit_sink=audit_sink,
            )
            total_docs += nd
            total_blocks += nb

        _finalize_store(
            spark, store_path, layout, precomputed_audit=audit_sink or None
        )
        result = BuildResult(
            took_sec=time.monotonic() - t0,
            n_docs=total_docs,
            n_blocks=total_blocks,
            quarantined=quarantined,
            batches=batch_names,
            skipped_batches=skipped,
        )
        log_event(
            LOG, "build.done", store=store_path,
            took_sec=round(result.took_sec, 3), n_docs=total_docs,
            n_blocks=total_blocks, quarantined=quarantined, skipped=skipped,
        )
        # --- after_hook may replace the result (lib/handler.js:164-173);
        # two-arg hooks also receive the per-record meta (lib/handler.js:167)
        if cfg.after_hook:
            override = invoke_after_hook(cfg.after_hook, result, meta_df)
            if override is not None:
                return override
        return result
    except Exception as err:  # noqa: BLE001
        # --- errorHook converts failure → normal return (lib/handler.js:174-179)
        import logging as _logging

        log_event(
            LOG, "build.error", level=_logging.ERROR, store=store_path,
            error=str(err), error_type=type(err).__name__,
        )
        if cfg.error_hook is not None:
            return cfg.error_hook(err)
        raise


def _build_batch(
    docs: DataFrame,
    store_path: str,
    batch_idx: int,
    batch_name: str,
    layout: StoreLayout,
    *,
    content_col: str,
    retries: int = 0,
    dense_partitions: int | None = None,
    sink_options: dict | None = None,
    n_docs_hint: int | None = None,
    audit_sink: dict | None = None,
) -> tuple[int, int]:
    """One resumable unit: dense IDs → doc_stats → postings → [LM grams] →
    lineage → checkpoint marker. Whole-batch retry mirrors
    lib/handler.js:149-162."""
    spark = docs.sparkSession
    attempt = 0
    while True:
        try:
            return _build_batch_once(
                docs, store_path, batch_idx, batch_name, layout,
                content_col=content_col, dense_partitions=dense_partitions,
                sink_options=sink_options, n_docs_hint=n_docs_hint,
                audit_sink=audit_sink,
            )
        except Exception:  # noqa: BLE001
            attempt += 1
            if attempt > retries:
                raise
            spark.catalog.clearCache()


def _build_batch_once(
    docs: DataFrame,
    store_path: str,
    batch_idx: int,
    batch_name: str,
    layout: StoreLayout,
    *,
    content_col: str,
    dense_partitions: int | None = None,
    sink_options: dict | None = None,
    n_docs_hint: int | None = None,
    audit_sink: dict | None = None,
) -> tuple[int, int]:
    t0 = time.monotonic()
    phases: dict[str, float] = {}
    t_prev = t0

    def mark(name: str) -> None:
        nonlocal t_prev
        now = time.monotonic()
        phases[name] = round(now - t_prev, 2)
        t_prev = now

    import math

    spark = docs.sparkSession
    fields, edge_ngrams = layout.fields, layout.edge_ngrams
    if layout.id_mode == "dense":
        # dense ids: the offsets pass is a column-pruned count aggregation
        # (cheap); the ONE full-width shuffle is the rank repartition.
        # Materialized once — both the term pass and the marker projection
        # consume the ranked frame.
        with_id, n_est = ids.assign_dense_ids(
            docs, order_col="doc_id", num_partitions=dense_partitions
        )
        if batch_idx:
            with_id = with_id.withColumn(
                "doc_int",
                F.col("doc_int")
                + F.lit(batch_idx << ids.DENSE_BATCH_SHIFT),
            )
        with_id = with_id.localCheckpoint(eager=True)
        # dense ids are contiguous → segments are exact 2^shift-doc slices
        seg_shift = max(
            1, min(63, round(math.log2(max(layout.segment_docs, 2))))
        )
    else:
        # segment sizing count: the caller's fused control aggregation
        # already knows this batch's row count (n_docs_hint) — a separate
        # count job only runs when a hook made the count unknowable
        n_est = n_docs_hint if n_docs_hint is not None else docs.count()
        with_id = docs.withColumn(
            "doc_int", F.xxhash64(F.col("doc_id"), F.lit(batch_name))
        )
        seg_shift = postings.seg_shift_for(n_est, layout.segment_docs)
    mark("count_docs")
    if n_est == 0:
        # an empty batch (small corpus, many batches) writes nothing:
        # reading back a zero-row partitioned write cannot infer a schema
        store_io.write_checkpoint(
            store_path, batch_name,
            {"docs": 0, "blocks": 0, "took_sec": 0.0, "phases": phases},
        )
        return 0, 0
    meta_src = [
        c
        for c in ("doc_id", "index_name", "doc_type", "parent",
                  "version", "content_sha256", "lang", "ts",
                  *layout.doc_meta_cols)
        if c in with_id.columns
    ]
    # SPLIT build pass (one Python crossing + one JVM projection): term
    # rows — the ~dl-per-doc-times bigger half — go through the
    # (term_bucket, seg) exchange carrying ONLY what the encoder needs;
    # doc-stat markers are a shuffle-free JVM projection (dl/field_dls via
    # the pinned analyzer's SQL form) written straight into part=doc. The
    # former fused pass shipped every marker metadata column as a NULL on
    # every term row through Arrow, the exchange and its sort (UnsafeRow
    # pays fixed width per field even for nulls) — measured ~25% of the
    # whole segment write at sf0.1. Both writes pad to one shared file
    # schema, so the on-disk layout (and every reader) is unchanged.
    term_rows = ids.tokenize_terms_rows(
        with_id, content_col=content_col, positions=layout.positions,
        fields=fields, edge_ngrams=edge_ngrams,
    )
    blocks = postings.encode_term_blocks(
        term_rows, num_buckets=layout.num_buckets, seg_shift=seg_shift,
    )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    dl_col, fd_col = ids.marker_dl_cols(content_col, fields, edge_ngrams)
    markers = (
        with_id.select(
            *meta_src,
            "doc_int",
            dl_col.alias("dl"),
            *([fd_col.alias("field_dls")] if fields else []),
        )
        .withColumn("doc_seg", F.shiftright(F.col("doc_int"), seg_shift))
        .withColumn(
            "seg", F.pmod(F.col("doc_int"), F.lit(n_shuffle)).cast("long")
        )
    )
    file_cols = postings.BLOCK_FIELDS + [
        (c, with_id.schema[c].dataType.simpleString()) for c in meta_src
    ]
    if fields:
        file_cols.append(("field_dls", "array<bigint>"))
    file_cols += [("doc_int", "bigint"), ("dl", "bigint"),
                  ("doc_seg", "bigint")]

    def _pad(df: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
        for name, typ in file_cols:
            if name not in df.columns:
                df = df.withColumn(name, F.lit(None).cast(typ))
        return df.select(*[n for n, _ in file_cols], *extra)

    seg_batch_path = os.path.join(
        store_io.segments_path(store_path), f"batch={batch_name}"
    )
    # sink_options passthrough: the reference merges its user bulk options
    # into the ES bulk sink call (lib/handler.js:151-153, test
    # handler-tests.js:1749-1788); the engine's sink is the store write, so
    # the dict lands on the DataFrameWriter (e.g. compression codec)
    #
    # The marker write, the block write, and the LM gram pass are mutually
    # independent (same source frame, disjoint output directories), so they
    # run as CONCURRENT Spark jobs (guide §2.6): the shuffle-free marker
    # projection and the JVM-only gram aggregation back-fill executors
    # while the block job's exchange + encode tail drains, instead of each
    # paying its own full job latency after the previous one finishes.
    # Overwrite-mode writes keep the whole-batch retry idempotent.
    from ..functions.concurrency import run_concurrent

    write_thunks = [
        lambda: store_io.write_parquet(
            _pad(blocks, extra=("term_bucket",)),
            os.path.join(seg_batch_path, "part=block"),
            partition_by=("term_bucket",),
            options=sink_options,
        ),
        lambda: store_io.write_parquet(
            _pad(markers),
            os.path.join(seg_batch_path, "part=doc", "term_bucket=-1"),
            options=sink_options,
        ),
    ]
    if layout.lm_stats:
        # index-time LM statistics: unigram + bigram collection frequencies
        # from one JVM-only pass over this batch's docs (operators/lm.py).
        # Part of the resumable batch unit — the checkpoint below covers it.
        from ..operators import lm as lm_ops

        grams = lm_ops.gram_counts(
            docs,
            (content_col,) if edge_ngrams else (fields or (content_col,)),
            qualify=bool(fields),
        )
        write_thunks.append(
            lambda: store_io.write_parquet(
                grams.sortWithinPartitions("gram"),
                os.path.join(store_path, "lm", f"batch={batch_name}"),
                options=sink_options,
            )
        )
    run_concurrent(*write_thunks)
    mark("segments_write")  # wall time of the overlapped writes

    # lineage + metrics from the committed blocks (read-back = what a future
    # query will see). ONE aggregation job covers doc count, block count, and
    # per-segment metrics; the lineage table itself is metadata-sized, so it
    # is written driver-side (pyarrow) instead of spending a Spark job.
    import pandas as pd

    # explicit schema (the shared padded file schema we just wrote, plus
    # the directory partition columns): skips the footer-sampling
    # schema-inference job a bare spark.read.parquet spends per read
    read_ddl = (
        ", ".join(f"`{n}` {t}" for n, t in file_cols)
        + ", part string, term_bucket bigint"
    )
    batch_df = spark.read.schema(read_ddl).parquet(seg_batch_path)
    # Audit fusion (fresh single-batch builds): the finalize audit —
    # distinct doc_int / doc_id, avg dl, per-field length sums — rides the
    # SAME read-back aggregation. Summing per-(part, seg) countDistinct is
    # exact here because equal doc_ints (and equal doc_ids, whose doc_int
    # is a pure function of doc_id within one batch) always land in the
    # same marker group by construction.
    audit_aggs = []
    n_fields = len(fields or ())
    if audit_sink is not None:
        audit_aggs = [
            F.countDistinct("doc_int").alias("_a_ids"),
            F.countDistinct("doc_id").alias("_a_doc_ids"),
            F.sum("dl").alias("_a_dl"),
            *[
                F.sum(F.col("field_dls")[i]).alias(f"_a_f{i}")
                for i in range(n_fields)
            ],
        ]
    stats = (
        batch_df.groupBy("part", "seg")
        .agg(
            F.count("*").alias("rows"),
            F.sum("n_docs").alias("postings"),
            F.sum(
                F.length("doc_bytes") + F.length("tf_bytes")
                + F.length("dl_bytes")
            ).alias("compressed_bytes"),
            *audit_aggs,
        )
        .toPandas()
    )
    n_docs = int(stats.loc[stats["part"] == "doc", "rows"].sum())
    if audit_sink is not None:
        dp = stats[stats["part"] == "doc"]
        # hand the already-resolved batch frame to the finalize so its
        # term_stats pass reuses this read (schema + file listing) instead
        # of re-resolving the segment tree (one 'load' job per read)
        audit_sink["segments_df"] = batch_df
        audit_sink.update(
            {
                "n": n_docs,
                "n_ids": int(dp["_a_ids"].sum()),
                "n_doc_ids": int(dp["_a_doc_ids"].sum()),
                "avgdl": (
                    float(dp["_a_dl"].sum()) / n_docs if n_docs else 0.0
                ),
                # exact integer token totals: the phrase suggester's LM
                # constants — recorded in meta so query time never runs a
                # doc-stat aggregation job for them
                "dl_sum": int(dp["_a_dl"].sum()),
                **{
                    f"_af{i}": (
                        float(dp[f"_a_f{i}"].sum()) / n_docs
                        if n_docs else 0.0
                    )
                    for i in range(n_fields)
                },
                **{f"_fs{i}": int(dp[f"_a_f{i}"].sum())
                   for i in range(n_fields)},
            }
        )
    bp = stats[stats["part"] == "block"]
    n_blocks = int(bp["rows"].sum())
    took = time.monotonic() - t0
    lineage = pd.DataFrame(
        {
            "seg": bp["seg"].astype("int64"),
            "blocks": bp["rows"].astype("int64"),
            "postings": bp["postings"].astype("int64"),
            "compressed_bytes": bp["compressed_bytes"].astype("int64"),
            "batch": batch_name,
            "docs": n_docs,
            "took_sec": took,
            "docs_per_sec": n_docs / took if took > 0 else 0.0,
            "postings_per_sec": bp["postings"].astype("float64")
            / max(took, 1e-9),
        }
    )
    _write_small_parquet(
        lineage, os.path.join(store_path, "lineage", f"batch={batch_name}")
    )
    mark("lineage_metrics")
    store_io.write_checkpoint(
        store_path, batch_name,
        {"docs": n_docs, "blocks": n_blocks, "took_sec": took,
         "phases": phases},
    )
    log_event(
        LOG, "build.batch", store=store_path, batch=batch_name,
        docs=n_docs, blocks=n_blocks, took_sec=round(took, 3),
        phases=phases,
    )
    return n_docs, n_blocks


def _write_small_parquet(pdf, path: str) -> None:
    """Driver-side parquet write for metadata-sized tables (lineage, empty
    dead lists) — spares a Spark job; Spark reads the result like any other
    parquet directory."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)  # overwrite semantics
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(path, "part-00000.parquet"),
    )


def _finalize_store(
    spark: SparkSession,
    store_path: str,
    layout: StoreLayout,
    precomputed_audit: dict | None = None,
    derived_stats: bool = True,
    segments_df: DataFrame | None = None,
    assume_unique: bool = False,
) -> None:
    """Resolve liveness (external versioning + tombstones → ``dead`` doc_int
    list), recompute global stats (N, avgdl over LIVE docs — per field in
    multi-field stores) and term_stats; write meta.json from ``layout``
    (``StoreLayout.write_meta``; the caller resolved or read it — finalize
    never re-reads the layout flags). Aggregates touch doc_stats and block
    metadata columns only — never the posting bytes. term_stats is written
    only after the duplicate-doc / collision audit passed, so a rejected
    batch leaves the previous term_stats in place.

    ``precomputed_audit``: fused audit stats from the batch read-back
    (fresh single-batch builds only — the caller guarantees the store's
    doc_stats are exactly that batch); skips the separate doc-stat
    aggregation job.

    ``segments_df``: an already-resolved frame over the store's whole
    segment tree — reused for the doc-stat and block reads (no re-listing
    or schema-inference jobs). ``assume_unique``: the caller guarantees no
    new doc ids entered since the last audit (post-compaction: docs were
    only REMOVED), so the collision countDistincts are skipped."""
    import pandas as pd

    seg_df = segments_df
    if seg_df is None:
        # fresh single-batch build: the whole segment tree IS the batch the
        # caller just read back — reuse that resolved frame (no re-listing,
        # no schema-inference job) for the doc-stat and block reads below
        seg_df = (precomputed_audit or {}).pop("segments_df", None)
    if seg_df is None:
        seg_df = store_io.read_store(spark, store_path)
    doc_stats = seg_df.filter(F.col("part") == "doc")
    tomb_path = os.path.join(store_path, "tombstones")
    fields = layout.fields
    if fields and "field_dls" not in doc_stats.columns:
        raise EngineError(
            f"store at {store_path} is multi-field ({fields}) but its "
            "doc_stats rows carry no field_dls — mixed-layout batches"
        )
    field_avgs = [
        F.avg(F.col("field_dls")[i]).alias(f"_af{i}")
        for i in range(len(fields or ()))
    ]

    def _derived_stats_job():
        # term_stats rebuild + lm_stats merge — block-metadata work only,
        # independent of the doc-stat audit/liveness jobs
        blocks = store_io.select_blocks(seg_df)
        # sortWithinPartitions("term"): no extra exchange (sorts the agg's
        # own output partitions), but each output file becomes term-ordered,
        # so its parquet row-group min/max stats are tight — the query
        # side's driver-side term lookup (sources/store_io.sorted_read)
        # then prunes to the row groups containing the probed terms instead
        # of scanning the vocabulary (guide §6).
        ts = postings.term_stats(blocks).sortWithinPartitions("term")
        store_io.write_parquet(ts, os.path.join(store_path, "term_stats"))
        lm_root = os.path.join(store_path, "lm")
        if layout.lm_stats and os.path.isdir(lm_root):
            batch_dirs = [
                d for d in os.listdir(lm_root) if d.startswith("batch=")
            ]
            lm_out = os.path.join(store_path, "lm_stats")
            if len(batch_dirs) == 1:
                # single-batch store: the batch's gram table IS the merged
                # table (each batch is already aggregated per gram and
                # written gram-sorted within its files) — a driver-side
                # file copy replaces the merge job + range-exchange +
                # rewrite
                import shutil

                src = os.path.join(lm_root, batch_dirs[0])
                shutil.rmtree(lm_out, ignore_errors=True)
                os.makedirs(lm_out, exist_ok=True)
                for fn in os.listdir(src):
                    if fn.endswith(".parquet"):
                        shutil.copy2(os.path.join(src, fn),
                                     os.path.join(lm_out, fn))
            else:
                # merge per-batch gram counts into ONE sorted lm_stats
                # table: row-group min/max on the per-file-sorted gram
                # column make the suggester's candidate lookups point
                # reads, not scans
                grams = (
                    spark.read.parquet(lm_root)
                    .groupBy("gram")
                    .agg(F.sum("cf").alias("cf"))
                    .sortWithinPartitions("gram")
                )
                store_io.write_parquet(grams, lm_out)

    n_fields = len(fields or ())

    def _audit() -> dict:
        # ONE aggregation fuses the collision audit (distinct doc_int ==
        # rows), duplicate-doc detection (distinct doc_id == rows), and the
        # live stats. Post-compaction (assume_unique) no new doc ids
        # entered since the pre-compaction audit — docs were only removed
        # — so the countDistinct expansion is skipped.
        audit = doc_stats.agg(
            F.count("*").alias("n"),
            *([] if assume_unique else [
                F.countDistinct("doc_int").alias("n_ids"),
                F.countDistinct("doc_id").alias("n_doc_ids"),
            ]),
            F.avg("dl").alias("avgdl"),
            F.sum("dl").alias("dl_sum"),
            *field_avgs,
            *[
                F.sum(F.col("field_dls")[i]).alias(f"_fs{i}")
                for i in range(n_fields)
            ],
        ).first().asDict()
        if assume_unique:
            audit["n_ids"] = audit["n_doc_ids"] = audit["n"]
        return audit

    derived_written = False
    if precomputed_audit is not None:
        # a fresh single-batch build hands the same numbers in from its
        # read-back aggregation and skips this job
        audit = precomputed_audit
    elif assume_unique and derived_stats:
        # the uniqueness checks below are trivially satisfied here, so the
        # term_stats rebuild (block metadata, disjoint from the doc-stat
        # audit) runs CONCURRENTLY with the aggregation (guide §2.6)
        # instead of waiting its own full job latency behind it
        from ..functions.concurrency import run_concurrent

        audit = run_concurrent(_audit, _derived_stats_job)[0]
        derived_written = True
    else:
        audit = _audit()
    if audit["n"] != audit["n_ids"]:
        if audit["n"] != audit["n_doc_ids"]:
            # the far more likely cause: the same doc_id indexed twice in
            # one batch (its doc_int is identical by construction) — the
            # caller must dedup upstream (dedup_versions=True / LWW)
            raise EngineError(
                f"duplicate doc_ids in one batch: {audit['n']} docs, "
                f"{audit['n_doc_ids']} distinct doc_ids — pass "
                "dedup_versions=True or dedup the corpus before indexing"
            )
        # doc_int is a 64-bit hash of (doc_id, batch) — injectivity must hold
        # (SURVEY.md §2.1 #9; astronomically rare below 10^9 docs per batch,
        # but a silent collision would corrupt postings)
        raise EngineError(
            f"doc_int hash collision: {audit['n']} docs, "
            f"{audit['n_ids']} distinct ids — re-salt or use dense ids"
        )

    if not os.path.isdir(tomb_path) and audit["n"] == audit["n_doc_ids"]:
        # fast path (fresh build): no tombstones, no superseded versions —
        # everything is live, no LWW window / anti-join jobs needed
        _write_small_parquet(
            pd.DataFrame({"doc_int": pd.Series([], dtype="int64")}),
            os.path.join(store_path, "dead"),
        )
        n_live, avgdl = int(audit["n"]), float(audit["avgdl"] or 0.0)
        avgdl_fields = {
            f_: float(audit[f"_af{i}"] or 0.0)
            for i, f_ in enumerate(fields or ())
        }
        # live == all markers here, so the exact token totals are valid
        # index-statistics for the suggester's LM constants
        dl_sum_meta = int(audit["dl_sum"] or 0)
        field_dl_sums_meta = [
            int(audit[f"_fs{i}"] or 0) for i in range(n_fields)
        ]
    else:
        fd_col = (
            [F.col("field_dls")]
            if fields and "field_dls" in doc_stats.columns
            else []
        )
        entries = doc_stats.select(
            "doc_id", "version", "doc_int", "dl", *fd_col,
            F.lit(False).alias("is_tomb"),
        )
        if os.path.isdir(tomb_path):
            # fixed writer schema (plans/cdc deletes select) — skip inference
            tombs = spark.read.schema(
                "doc_id string, version double"
            ).parquet(tomb_path).select(
                "doc_id", "version",
                F.lit(None).cast("long").alias("doc_int"),
                F.lit(None).cast("long").alias("dl"),
                *(
                    [F.lit(None).cast("array<bigint>").alias("field_dls")]
                    if fd_col
                    else []
                ),
                F.lit(True).alias("is_tomb"),
            )
            entries = entries.unionByName(tombs)
        # external-version LWW (lib/handler.js:80-106): highest version wins;
        # on a tie the tombstone wins (REMOVE bumped +1 upstream, so a tie
        # means a racing write — delete is pinned as the deterministic winner)
        w = Window.partitionBy("doc_id").orderBy(
            F.col("version").desc_nulls_last(),
            F.col("is_tomb").desc(),
            F.col("doc_int").desc_nulls_last(),
        )
        winners = (
            entries.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
        )
        live = winners.filter(~F.col("is_tomb")).select(
            "doc_int", "dl", *([c for c in ("field_dls",) if fd_col])
        )
        # the live subtree executes INSIDE the dead-list write job (it is
        # the anti-join's build side) — observe() collects the live stats
        # from that same execution instead of re-running the whole LWW
        # window as a second aggregation job
        from pyspark.sql import Observation

        obs = Observation("live_stats")
        live = live.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.avg("dl").alias("avgdl"),
            *(field_avgs if fd_col else []),
        )
        dead = doc_stats.select("doc_int").join(
            live.select("doc_int"), "doc_int", "left_anti"
        )
        store_io.write_parquet(dead, os.path.join(store_path, "dead"))
        live_agg = obs.get
        n_live, avgdl = int(live_agg["n"]), float(live_agg["avgdl"] or 0.0)
        avgdl_fields = (
            {
                f_: float(live_agg[f"_af{i}"] or 0.0)
                for i, f_ in enumerate(fields or ())
            }
            if fd_col
            else {}
        )
        # stores with dead markers: the suggester's LM totals span ALL
        # markers (like lm_stats, they keep deleted docs until a rebuild)
        # — live-only sums would not match, so no dl_sum keys here
        dl_sum_meta = None
        field_dl_sums_meta = None
    if not derived_stats:
        # caller immediately compacts (plans/cdc.apply_changes with
        # compact=True): only the liveness resolution above is needed —
        # term_stats / lm_stats / meta.json would be rebuilt from scratch
        # by the post-compaction finalize, so writing them here is a full
        # block-metadata scan + shuffle + write thrown away moments later
        return
    if not derived_written:
        _derived_stats_job()
    layout.write_meta(
        store_path,
        {
            "n_docs": n_live, "avgdl": avgdl, "dl_sum": dl_sum_meta,
            "avgdl_fields": avgdl_fields,
            "field_dl_sums": field_dl_sums_meta,
        },
        _tree_schema(seg_df.schema).jsonValue(),
    )


def _tree_schema(schema: ST.StructType) -> ST.StructType:
    """The segment tree's read schema, pinned in meta.json so every later
    read (sources/store_io.read_store) skips schema inference. A fresh
    single-batch build's frame reads its one ``batch=`` directory, so the
    tree's ``batch`` partition column is added ahead of ``part`` and
    ``term_bucket``, in the directory order a tree read infers."""
    if "batch" in schema.fieldNames():
        return schema
    return ST.StructType(
        [f for f in schema.fields if f.name not in ("part", "term_bucket")]
        + [ST.StructField("batch", ST.StringType(), True)]
        + [schema[c] for c in ("part", "term_bucket")]
    )


def explode_nested(
    corpus: DataFrame,
    id_col: str,
    nested_col: str,
    sep: str = "\x1f",
) -> DataFrame:
    """Child corpus for the ES ``nested`` type: one document per element
    of an ``array<struct>`` column, with ``doc_id`` =
    ``<parent id><sep><path><sep><index>`` (deterministic — rebuilds
    produce identical child ids) and ``parent`` = the owning doc's id
    (the has_parent/has_child linkage plans/search.search_nested joins
    on). The element's struct fields flatten to top-level columns; build
    the child store with ``fields=<subfields>`` and
    ``IndexerConfig(id_field="doc_id", parent_field="parent")``.

    ES hides these per-element child documents inside the Lucene segment
    (the reference ships arbitrarily nested documents ES indexes this
    way); the engine makes the child store explicit — posexplode is one
    narrow projection, no shuffle."""
    return corpus.select(
        F.col(id_col).cast("string").alias("_parent"),
        F.posexplode(F.col(nested_col)).alias("_idx", "_elem"),
    ).select(
        F.concat_ws(
            sep, F.col("_parent"), F.lit(nested_col),
            F.col("_idx").cast("string"),
        ).alias("doc_id"),
        F.col("_parent").alias("parent"),
        "_elem.*",
    )


def _fields_sha(fields: tuple[str, ...]):
    """sha256 over every indexed field of a multi-field doc, in field
    order, unit-separator joined, nulls as empty strings."""
    return F.sha2(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(f_).cast("string"), F.lit(""))
                for f_ in fields
            ],
        ),
        256,
    )


def verify_sha256(corpus: DataFrame, cfg: IndexerConfig, store_path: str,
                  key_cols: tuple[str, ...] = fieldmap.DEFAULT_KEY_COLS,
                  content_col: str = "content",
                  fields: tuple[str, ...] | None = None) -> int:
    """North-rule invariant: per-row content sha256 equality between ingested
    and indexed documents. Returns the number of mismatches (0 = pass).

    Recomputes sha256 from the source and inner-joins the committed doc_stats
    on doc_id; any hash inequality or missing doc counts as a mismatch.
    ``fields=None`` reads a multi-field store's field list from meta.json so
    the recomputation covers the same columns the build hashed.
    """
    spark = corpus.sparkSession
    if fields is None:
        fields = StoreLayout.read(store_path).fields
    mapped = fieldmap.apply_field_mapping(
        corpus, cfg, key_cols=key_cols, content_col=content_col
    ).filter(F.col("error").isNull())
    if fields:
        mapped = mapped.withColumn("content_sha256", _fields_sha(fields))
    source = mapped.select(
        "doc_id", F.col("content_sha256").alias("src_sha")
    )
    indexed = store_io.read_doc_stats(spark, store_path)
    dead_path = os.path.join(store_path, "dead")
    if os.path.isdir(dead_path):
        indexed = indexed.join(
            spark.read.parquet(dead_path), "doc_int", "left_anti"
        )
    indexed = indexed.select(
        "doc_id", F.col("content_sha256").alias("idx_sha")
    )
    joined = source.join(indexed, "doc_id", "left")
    return joined.filter(
        F.col("idx_sha").isNull() | (F.col("idx_sha") != F.col("src_sha"))
    ).count()
