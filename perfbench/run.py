"""Benchmark of the dynamo2es_lambda_spark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload {query,cdc} --seed N \
        --seconds S --trace {0,1}

One process, one client, one Spark session on ``local[N]`` with N <= nproc.
The run sets up (session, seeded corpus, base store), measures its workload
for ``--seconds`` as a closed loop, checks every answer against a
single-process BM25 reference, and prints a report followed by one JSON
line: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
A traced run also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
MAX_CORES = 4
CALIBRATION_ROWS = 50_000_000


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name → unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("query", "cdc"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(cores: int, work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # the JVM ignored its closed stdin
            proc.kill()
            proc.wait()


def env_stamp(spark, cores: int) -> dict:
    """Environment of the run. Reported, never gated: this host's clock
    speed drifts, which the pure-JVM calibration job shows."""
    import pyarrow
    import pyspark

    def timed(fn, reps):
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return 1e3 * statistics.median(times)

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "local_n": cores,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "empty_job_ms": timed(
            lambda: spark.range(0, 1, 1, 1).count(), 5),
        "calibration_ms": timed(
            lambda: spark.range(CALIBRATION_ROWS)
            .selectExpr("sum(id * 3 + 1)").collect(), 3),
    }


def report(workload, args, run, env, figures, metrics, units, table):
    lines = [f"perfbench {workload} seed={args.seed} "
             f"seconds={args.seconds:g} trace={args.trace}",
             "env " + json.dumps(env),
             "setup " + json.dumps(
                 {k: round(v, 3) for k, v in run.setup_phases.items()})]
    failed_frac = run.failed / max(1, run.attempted)
    lines.append(f"  {'failed_frac':40s} {failed_frac:14.6g} ratio "
                 f"({run.failed}/{run.attempted})")
    for name, (value, unit, n) in figures.items():
        lines.append(f"  {name:40s} {value:14.6g} {unit} (n={n})")
    for name, value in metrics.items():
        lines.append(f"  {name:40s} {value:14.6g} {units[name]}")
    if table:
        lines.append("build phases (s) " + json.dumps(
            [b["phases"] for b in run.builds]))
        lines.append(f"  {'layer (span)':40s} {'count':>6s} {'total_s':>9s} "
                     f"{'self_s':>9s} {'median_s':>9s} {'jobs':>6s} "
                     f"{'tasks':>7s}")
        for name, row in sorted(table.items()):
            lines.append(
                f"  {name:40s} {row['count']:6d} {row['total_s']:9.3f} "
                f"{row['self_s']:9.3f} {row['median_s']:9.3f} "
                f"{row['jobs']:6d} {row['tasks']:7d}")
    for f in run.failures:
        lines.append(f"  FAILED {f}")
    print("\n".join(lines), flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    # the Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(1, ROOT)
    try:
        import dynamo2es_lambda_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import probes
    import workloads
    from tracing import Tracer

    work = os.path.join(WORK, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    spark = start_session(cores, work)
    try:
        tracer = Tracer(spark, bool(args.trace))
        run = workloads.Run(spark, args.seed, args.seconds, tracer, work,
                            cores)
        run.setup_phases["session"] = time.perf_counter() - t_start
        setup, loop = workloads.WORKLOADS[args.workload]
        setup(run)
        setup_s = time.perf_counter() - t_start
        loop(run)
        if args.trace:
            workloads.probe_other_layers(run, args.workload)
        env = env_stamp(spark, cores)
        figures = workloads.figures(run, args.workload)
        table = None
        if args.trace:
            tracer.finish()
            kernels = probes.kernels(run.texts, run.store)
            metrics = workloads.per_layer(run, args.workload, env, kernels)
            units = metric_units()[1]
            table = tracer.layer_table()
            os.makedirs(OUT, exist_ok=True)
            tracer.write(
                os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"),
                {"env": env, "metrics": metrics, "layers": table})
        else:
            metrics = workloads.end_to_end(run, args.workload, setup_s)
            units = metric_units()[0]
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(WORK):
            os.rmdir(WORK)
    report(args.workload, args, run, env, figures, metrics, units, table)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
