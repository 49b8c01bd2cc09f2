"""The two workloads. Each is a closed loop with one client: the next op
starts only after the previous one returned and was checked.

- query: single WAND term (OR and AND), bool, phrase, prefix and fuzzy
  queries against a prebuilt positional store, plus one batched WAND
  ``search()`` per cycle.
- cdc: raw DynamoDB stream micro-batches decoded and applied with
  ``plans.cdc.apply_changes(compact=False)``, one query after each batch and
  ``compact_store`` every few batches (and once at the end of a run that
  did not reach one).

Every answer is checked against ``reference.Reference``."""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass
from typing import Callable

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dynamo2es_lambda_spark import IndexerConfig
from dynamo2es_lambda_spark.operators import actions, fieldmap
from dynamo2es_lambda_spark.plans import build, cdc, search
from dynamo2es_lambda_spark.sources import dynamo_json, store_io
from dynamo2es_lambda_spark.streaming.apply_cdc import EVENT_SCHEMA

import probes
from inputs import ChangeStream, Inputs, QueryMix, doc_ids
from reference import Reference, same_ranking

K = 10
MAX_EXPANSIONS = 50
NUM_BUCKETS = 8
QUERY_DOCS = 5_000
BATCH_QUERIES = 12
CDC_DOCS = 2_000
CDC_BATCH_EVENTS = 200
COMPACT_EVERY = 3
MIN_OPS = 2          # a traced cdc run needs a traced and an untraced apply
CYCLE_OPS = 7        # ops in one query cycle
# version_field drives external-version last-writer-wins, and the error
# hook quarantines bad records instead of failing the batch (checked to be 0)
CFG = IndexerConfig(index="code", version_field="version",
                    record_error_hook=lambda df: None)


class Run:
    """State of one benchmark run: inputs, samples, checks and the tracer."""

    def __init__(self, spark, seed: int, seconds: float, tracer,
                 work: str, cores: int) -> None:
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seconds, self.cores = seconds, cores
        self.gen = Inputs(seed)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.op_latency: dict[tuple[str, bool], list[float]] = \
            defaultdict(list)    # by (kind, traced)
        self.builds: list[dict] = []
        self.store = ""          # the store the run ends on
        self.texts: list[str] = []
        self.ref: Reference | None = None
        self.corpus_pdf = self.mix = self.cdc = None
        self.setup_phases: dict[str, float] = {}
        self._dirs = itertools.count()
        self._t_phase = time.perf_counter()

    def phase_done(self, name: str) -> None:
        """Record how long the set-up phase that just ended took."""
        now = time.perf_counter()
        self.setup_phases[name] = now - self._t_phase
        self._t_phase = now

    def fresh_dir(self, name: str) -> str:
        return os.path.join(self.work, f"{name}-{next(self._dirs)}")

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def window(self, min_ops: int):
        """Op indexes until --seconds have passed (at least min_ops)."""
        deadline = time.perf_counter() + self.seconds
        for i in itertools.count():
            if i >= min_ops and time.perf_counter() >= deadline:
                return
            yield i

    def guarded(self, what: str, fn: Callable[[], None]) -> None:
        """Run one op; an exception counts as a failed op."""
        try:
            fn()
        except Exception as e:  # the loop must go on and report the failure
            self.check(False, f"{what}: {type(e).__name__}: {e}"[:300])

    # ---- calls into the engine ---------------------------------------
    def write_corpus(self, pdf: pd.DataFrame, name: str):
        """Write the corpus as 2 x cores parquet files; return its frame."""
        path = self.fresh_dir(name)
        os.makedirs(path)
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        parts = 2 * self.cores
        step = -(-table.num_rows // parts)
        for j in range(parts):
            pq.write_table(table.slice(j * step, step),
                           os.path.join(path, f"part-{j:05d}.parquet"))
        return self.spark.read.parquet(path)

    def build(self, corpus, n_docs: int, positions: bool,
              want_postings: int | None) -> float:
        """One fresh build_index call, checked against the expected doc
        count and lineage postings; returns its wall time."""
        path = self.fresh_dir("store")
        with self.tracer.span("plans.build.build_index"):
            t0 = time.perf_counter()
            res = build.build_index(corpus, CFG, path,
                                    num_buckets=NUM_BUCKETS, resume=False,
                                    positions=positions)
            dt = time.perf_counter() - t0
        postings = probes.lineage_postings(path)
        self.check(res.n_docs == n_docs and res.quarantined == 0
                   and postings == (want_postings or postings),
                   f"build: docs {res.n_docs}/{n_docs}, postings "
                   f"{postings}/{want_postings}, "
                   f"quarantined {res.quarantined}")
        with open(os.path.join(store_io.checkpoint_dir(path),
                               f"{res.batches[0]}.json")) as f:
            phases = json.load(f)["phases"]
        self.builds.append({"seconds": dt, "phases": phases})
        if self.store and self.store != path:
            shutil.rmtree(self.store, ignore_errors=True)
        self.store = path
        return dt

    def search(self, q: "Query") -> float:
        """One search call (plan, then collect), checked; returns latency."""
        t0 = time.perf_counter()
        with self.tracer.span("plans.search.plan"):
            df = q.call(self.spark, search.load_store(self.store))
        with self.tracer.span("plans.search.exec"):
            rows = df.collect()
        t2 = time.perf_counter()
        by_qid = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
            by_qid[r["qid"]].append((r["doc_id"], r["score"]))
        for qid, want in enumerate(q.want()):
            got = by_qid.get(qid, [])
            self.check(same_ranking(got, want, K) and q.extra(got),
                       f"{q.kind} {q.text!r}: got {got[:3]} want {want[:3]}")
        return t2 - t0

    def measured(self, kind: str, i: int, fn: Callable[[], float],
                 repeatable: bool = True) -> bool:
        """Run op i and record its latency and CPU time by kind; returns
        whether a traced execution ran. In a traced run a repeatable op
        runs twice, untraced and traced in alternating order, so tracing
        overhead is measured on the same op; an op that changes the store
        runs once, traced when i is even."""
        if not self.tracer.on:
            plan = [False]
        elif repeatable:
            plan = [False, True] if i % 2 == 0 else [True, False]
        else:
            plan = [i % 2 == 0]
        for traced in plan:
            cpu0 = probes.process_tree_cpu_s()
            with self.tracer.op(kind, i, traced):
                dt = fn()
            cpu = probes.process_tree_cpu_s() - cpu0
            self.op_latency[kind, traced].append(dt)
            if not traced or len(plan) == 1:
                self.samples[kind].append(dt)
                self.samples[f"{kind}.cpu"].append(cpu)
        return True in plan


@dataclass
class Query:
    kind: str
    text: str
    call: Callable          # (spark, store) -> DataFrame
    want: Callable          # () -> one reference ranking per qid
    extra: Callable = lambda got: True


def term_query(ref: Reference, mode: str, text: str) -> Query:
    frame = pd.DataFrame({"qid": [0], "query": [text]})
    return Query(
        "term", text,
        lambda spark, st: search.search(spark, st, frame, k=K, mode=mode,
                                        algo="wand"),
        lambda: [ref.topk(text, K, mode)])


def batch_query(ref: Reference, texts: list[str]) -> Query:
    frame = pd.DataFrame({"qid": range(len(texts)), "query": texts})
    return Query(
        "batch", " | ".join(texts),
        lambda spark, st: search.search(spark, st, frame, k=K, algo="wand"),
        lambda: [ref.topk(t, K) for t in texts])


def bool_query(ref: Reference, must: str, should: str, must_not: str):
    frame = pd.DataFrame({"qid": [0], "must": [must], "should": [should],
                          "must_not": [must_not]})
    return Query(
        "bool", f"+{must} {should} -{must_not}",
        lambda spark, st: search.search_bool(spark, st, frame, k=K),
        lambda: [ref.bool_topk(must, should, must_not, K)])


def phrase_query(ref: Reference, text: str) -> Query:
    frame = pd.DataFrame({"qid": [0], "query": [text]})
    return Query(
        "phrase", text,
        lambda spark, st: search.search_phrase(spark, st, frame, k=K),
        lambda: [ref.phrase_topk(text, K)])


def prefix_query(ref: Reference, prefix: str) -> Query:
    frame = pd.DataFrame({"qid": [0], "prefix": [prefix]})
    return Query(
        "prefix", prefix,
        lambda spark, st: search.search_prefix(
            spark, st, frame, k=K, max_expansions=MAX_EXPANSIONS),
        lambda: [ref.prefix_topk(prefix, K, MAX_EXPANSIONS)])


def fuzzy_query(ref: Reference, term: str) -> Query:
    frame = pd.DataFrame({"qid": [0], "term": [term]})
    return Query(
        "fuzzy", term,
        lambda spark, st: search.search_fuzzy(
            spark, st, frame, k=K, max_edits=1,
            max_expansions=MAX_EXPANSIONS),
        lambda: [ref.fuzzy_topk(term, K, 1, MAX_EXPANSIONS)])


def query_cycle(mix: QueryMix) -> list[Query]:
    """One cycle: a WAND OR and a WAND AND term query, bool, phrase, prefix
    and fuzzy, then one batched WAND call holding all the cycle's term
    queries plus more drawn the same way."""
    ref = mix.ref
    terms = mix.term_queries()
    ops = [term_query(ref, *terms[0]),
           bool_query(ref, *mix.bool_query()),
           term_query(ref, *terms[1]),
           phrase_query(ref, mix.phrase()),
           prefix_query(ref, mix.prefix()),
           fuzzy_query(ref, mix.fuzzy())]
    texts = [t for _m, t in terms]
    while len(texts) < BATCH_QUERIES:
        texts += [t for _m, t in mix.term_queries()]
    ops.append(batch_query(ref, texts[:BATCH_QUERIES]))
    return ops


# ---- CDC -------------------------------------------------------------
class Cdc:
    """Applies a seeded change stream to the run's store, checking the
    apply summary, a follow-up query and each compaction."""

    def __init__(self, run: Run, corpus_pdf: pd.DataFrame) -> None:
        self.run = run
        self.stream = ChangeStream(run.gen, corpus_pdf)

    def apply(self, raws: list[str],
              span: str = "plans.cdc.apply_changes") -> dict:
        """Raw stream JSON → decoded events → applied batch (one op)."""
        run = self.run
        events = dynamo_json.decode_stream_events(
            run.spark.createDataFrame(pd.DataFrame({"record_json": raws})),
            EVENT_SCHEMA)
        with run.tracer.span(span):
            return cdc.apply_changes(events, CFG, run.store, compact=False)

    def load(self) -> None:
        """Create the store from the initial load's INSERT records."""
        raws = self.stream.initial_load()
        s = self.apply(raws, span="plans.cdc.initial_load")
        self.run.check(s["upserts"] == len(raws) and s["quarantined"] == 0,
                       f"initial load summary {s}")

    def step(self, i: int, measured: bool = True,
             probe: bool = False) -> None:
        """One micro-batch, its follow-up query and, every COMPACT_EVERY
        batches, a compaction. ``probe`` also times decode and routing."""
        run = self.run
        raws, exp = self.stream.batch(CDC_BATCH_EVENTS)
        holder = {}

        def op() -> float:
            t0 = time.perf_counter()
            holder["summary"] = self.apply(raws)
            return time.perf_counter() - t0

        if measured:
            probe = run.measured("cdc", i, op, repeatable=False)
            run.samples["cdc.events"].append(len(raws))
        else:
            op()
        s = holder["summary"]
        run.check(s["upserts"] == len(exp["upserts"])
                  and s["deletes"] == len(exp["removed"])
                  and s["quarantined"] == 0, f"cdc summary {s}")
        self.stream.commit(exp, run.ref)
        if probe:
            self.probe_layers(raws)

        text, found, gone = self.stream.follow_up(exp)
        seg_root = store_io.segments_path(run.store)
        run.samples["cdc.batch_dirs"].append(len(
            [d for d in os.listdir(seg_root) if d.startswith("batch=")]))
        run.samples["cdc.dead_frac"].append(
            store_io.parquet_num_rows(os.path.join(run.store, "dead"))
            / max(1, run.ref.n_live))
        q = term_query(run.ref, "or", text)
        q.extra = lambda got: (found in {d for d, _ in got}
                               and gone not in {d for d, _ in got})
        if measured:
            run.measured("cdc.query", i, lambda: run.search(q))
        else:
            run.search(q)
        if self.stream.n_batches % COMPACT_EVERY == 0:
            self.compact()

    def compact(self) -> None:
        run = self.run
        with run.tracer.span("plans.cdc.compact_store"):
            t0 = time.perf_counter()
            cdc.compact_store(run.spark, run.store)
            run.samples["cdc.compact"].append(time.perf_counter() - t0)
        run.ref.compact()
        n = store_io.read_meta(run.store).get("n_docs")
        run.check(n == run.ref.n_live, f"compact: n_docs {n}/{run.ref.n_live}")

    def probe_layers(self, raws: list[str]) -> None:
        """Traced runs only: time the decode and routing layers on their
        own, outside the op, on the batch just applied."""
        run = self.run
        raw_df = run.spark.createDataFrame(pd.DataFrame({"record_json": raws}))
        with run.tracer.span("sources.dynamo_json.decode_stream_events"):
            events = dynamo_json.decode_stream_events(raw_df, EVENT_SCHEMA)
            events = events.localCheckpoint(eager=True)
        with run.tracer.span("operators.route"):
            n = actions.dispatch(
                fieldmap.apply_field_mapping(events, CFG)).count()
        run.check(n == len(raws), f"route: {n}/{len(raws)} events")


# ---- workloads ---------------------------------------------------------
def _corpus(run: Run, n: int):
    pdf = run.gen.docs(n)
    run.texts = pdf["content"].tolist()
    run.ref = Reference(doc_ids(pdf), run.texts)
    run.phase_done("reference")
    corpus = run.write_corpus(pdf, "corpus")
    run.phase_done("corpus")
    return pdf, corpus


def setup_query(run: Run) -> None:
    pdf, corpus = _corpus(run, QUERY_DOCS)
    run.corpus_pdf = pdf
    run.build(corpus, QUERY_DOCS, positions=True,
              want_postings=run.ref.live_postings())
    run.phase_done("base store")
    run.mix = QueryMix(run.gen, run.ref)


def loop_query(run: Run) -> None:
    ops = itertools.chain.from_iterable(
        query_cycle(run.mix) for _ in itertools.count())
    # at least one whole cycle, so every op kind and a batch are measured
    for i, q in zip(run.window(min_ops=CYCLE_OPS), ops):
        kind = "batch" if q.kind == "batch" else "query"

        def op(q=q, kind=kind, i=i):
            run.measured(kind, i, lambda: run.search(q))
            if kind == "query":
                run.samples[f"query.{q.kind}"].append(run.samples[kind][-1])
            else:
                run.samples["batch.queries"].append(BATCH_QUERIES)
        run.guarded(q.kind, op)


def setup_cdc(run: Run) -> None:
    run.corpus_pdf = run.gen.docs(CDC_DOCS)
    run.texts = run.corpus_pdf["content"].tolist()
    run.ref = Reference(doc_ids(run.corpus_pdf), run.texts)
    run.phase_done("reference")
    run.store = run.fresh_dir("store")
    run.cdc = Cdc(run, run.corpus_pdf)
    run.cdc.load()
    run.phase_done("initial load")


def loop_cdc(run: Run) -> None:
    for i in run.window(min_ops=MIN_OPS if run.tracer.on else 1):
        run.guarded("cdc", lambda: run.cdc.step(i))


def probe_other_layers(run: Run, workload: str) -> None:
    """Traced runs only: reach once, after the measured window, the layers
    the workload's loop did not: a CDC batch plus compaction on the query
    store; on the cdc store a compaction (when the window had none) and a
    build_index of the cdc corpus."""
    if workload == "cdc" and not run.samples["cdc.compact"]:
        run.guarded("compact", run.cdc.compact)
    if workload == "query":
        probe = Cdc(run, run.corpus_pdf)
        run.guarded("probe cdc", lambda: probe.step(-1, measured=False,
                                                    probe=True))
        run.guarded("probe compact", probe.compact)
    else:
        store, ref = run.store, run.ref
        run.ref = Reference(doc_ids(run.corpus_pdf), run.texts)
        corpus = run.write_corpus(run.corpus_pdf, "probe-corpus")
        run.store = ""   # keep the churned store: it is the one measured
        run.guarded("probe build", lambda: run.build(
            corpus, CDC_DOCS, positions=False,
            want_postings=run.ref.live_postings()))
        shutil.rmtree(run.store, ignore_errors=True)
        run.store, run.ref = store, ref


WORKLOADS = {
    "query": (setup_query, loop_query),
    "cdc": (setup_cdc, loop_cdc),
}


# ---- metrics -------------------------------------------------------------
def median(xs) -> float:
    return float(statistics.median(xs))


def end_to_end(run: Run, workload: str, setup_s: float) -> dict[str, float]:
    """Gated metrics. Besides set-up time they are CPU-based: the CPU
    seconds the process tree spends per op swing less with the load other
    tenants put on a shared host than wall times do. Wall latencies are in
    the report."""
    s = run.samples
    if workload == "query":
        items, cpu = s["batch.queries"], s["batch.cpu"]
    else:
        items, cpu = s["cdc.events"], s["cdc.cpu"]
    n_bytes, _files = probes.store_size(run.store)
    return {
        "setup_s": setup_s,
        "op_cpu_ms": 1e3 * median(s[f"{workload}.cpu"]),
        "work_per_cpu_s": sum(items) / sum(cpu),
        "store_bytes_per_posting": n_bytes / run.ref.live_postings(),
    }


def figures(run: Run, workload: str) -> dict[str, tuple[float, str, int]]:
    """The workload's named figures for the report: (value, unit, n)."""
    s, out = run.samples, {}

    def ms(name, xs):
        if xs:
            out[name] = (1e3 * median(xs), "ms", len(xs))

    if workload == "query":
        ms("query.p50_ms", s["query"])
        ms("query.term_p50_ms", s["query.term"])
        ms("query.bool_p50_ms", s["query.bool"])
        ms("query.phrase_p50_ms", s["query.phrase"])
        ms("query.expand_p50_ms", s["query.prefix"] + s["query.fuzzy"])
        if s["batch"]:
            out["query.batch_qps"] = (median(
                [n / t for n, t in zip(s["batch.queries"], s["batch"])]),
                "queries/s", len(s["batch"]))
    else:
        ms("cdc.apply_p50_ms", s["cdc"])
        out["cdc.events_per_s"] = (sum(s["cdc.events"]) / sum(s["cdc"]),
                                   "events/s", len(s["cdc"]))
        ms("cdc.compact_ms", s["cdc.compact"])
        ms("cdc.query_p50_ms", s["cdc.query"])
    return out


def per_layer(run: Run, workload: str, env: dict,
              kernels: dict[str, float]) -> dict[str, float]:
    """The per-layer metrics of a traced run, from its spans and probes."""
    tr = run.tracer

    def jobs(sp):
        return set().union(*(set(s["jobs"]) for s in tr.subtree(sp)))

    def tasks(sp):
        return sum(s["tasks"] for s in tr.subtree(sp))

    def durations(name):
        return [s["end"] - s["start"] for s in tr.named(name)]

    def med_jobs(name):
        return median([len(jobs(s)) for s in tr.named(name)])

    ops = tr.named(f"op.{workload}")
    plans_, execs = tr.named("plans.search.plan"), tr.named("plans.search.exec")
    n_bytes, n_files = probes.store_size(run.store)
    out = {
        "spark.jobs_per_op": median([len(jobs(s)) for s in ops]),
        "spark.tasks_per_op": median([tasks(s) for s in ops]),
        "spark.empty_job_ms": env["empty_job_ms"],
        "spark.calibration_ms": env["calibration_ms"],
        "plans.build.call_s": median(durations("plans.build.build_index")),
        "plans.build.jobs": med_jobs("plans.build.build_index"),
        "plans.search.plan_ms": 1e3 * median(durations("plans.search.plan")),
        "plans.search.exec_ms": 1e3 * median(durations("plans.search.exec")),
        "plans.search.jobs": median([len(jobs(p)) + len(jobs(e))
                                     for p, e in zip(plans_, execs)]),
        "plans.cdc.apply_s": median(durations("plans.cdc.apply_changes")),
        "plans.cdc.apply_jobs": med_jobs("plans.cdc.apply_changes"),
        "plans.cdc.compact_s": median(durations("plans.cdc.compact_store")),
        "plans.cdc.compact_jobs": med_jobs("plans.cdc.compact_store"),
        "plans.cdc.batch_dirs": median(run.samples["cdc.batch_dirs"]),
        "plans.cdc.dead_frac": median(run.samples["cdc.dead_frac"]),
        "sources.dynamo_json.decode_s": median(
            durations("sources.dynamo_json.decode_stream_events")),
        "operators.route_s": median(durations("operators.route")),
        "sources.store_io.store_bytes": n_bytes,
        "sources.store_io.store_files": n_files,
        "trace.overhead_ms": 1e3 * (median(run.op_latency[workload, True])
                                    - median(run.op_latency[workload, False])),
        "bench.self_ms_per_op": 1e3 * median([s["self"] for s in ops]),
    }
    # the engine records phases to 10 ms; as shares of the call they keep
    # the call's full resolution
    for phase in ("segments_write", "lineage_metrics"):
        out[f"plans.build.{phase}_share"] = median(
            [b["phases"][phase] / b["seconds"] for b in run.builds])
    out.update(kernels)
    return out
