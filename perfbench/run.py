"""Layered benchmark for sybil_spark.

    python3 perfbench/run.py --workload dashboard|pipeline --seed N \\
        --seconds S --trace 0|1 [--sf 0.1]

Run from the root of a checkout. The run generates its inputs from the
seed, starts a local[$SPARK_GRAFT_CPUS] session (default: the cores
this process may use), sets up three times, warms up once, then runs
whole rounds of the workload's ops (one client, closed loop) until at
least S seconds of rounds have passed, checks every answer, and prints
two JSON lines: a detail record (environment, probes, per-op times,
every ingest/stream outcome) and, last, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (BENCHMARK.json
`end_to_end`); with --trace 1 they are the per-layer ones, read from
spans around the benchmark's calls and from Spark's status store.
Every file the run writes lives under a temporary directory inside
the checkout (`.perfbench_tmp/`), removed at exit. Exit code 0 means
every op ran and every answer matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: session set-ups per run; setup_s reports their median
SETUP_REPS = 3

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_p90_s": "s",
                    "ops_per_s": "1/s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict:
    from workloads import PIPELINE_OPS
    units = {
        "query.build_s": "s", "query.build_jobs": "count",
        "exec.collect_s": "s", "exec.jobs": "count", "exec.tasks": "count",
        "exec.driver_gap_s": "s", "exec.task_s": "s", "exec.cpu_s": "s",
        "exec.gc_s": "s", "exec.shuffle_read_bytes": "bytes",
        "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
        "exec.python_task_s": "s",
    }
    units.update({f"op.{n}_s": "s" for n in PIPELINE_OPS})
    units.update({
        "table.read_s": "s", "ingest.append_s": "s",
        "ingest.landing_bytes": "ratio", "ingest.rows_per_s": "rows/s",
        "ingest.fresh_query_p50_s": "s", "ingest.space_amp": "ratio",
        "compact.digest_s": "s", "compact.digests": "count",
        "compact.rows_per_block": "rows", "compact.write_amp": "ratio",
        "query_cache.plan_s": "s", "query_cache.hit_ratio": "ratio",
        "query_cache.uncached": "count",
        "query_cache.cached_query_p50_s": "s",
        "stream.batch_s": "s", "stream.jobs_per_batch": "count",
        "stream.add_batch_s": "s", "stream.query_planning_s": "s",
        "stream.wal_commit_s": "s", "stream.latest_offset_s": "s",
        "trace.overhead_s": "s",
    })
    return units


class Ctx:
    """What one run's workload needs: session, inputs, seeded RNG."""

    def __init__(self, seed, sf, data, work, cpus):
        import numpy as np
        self.seed, self.sf, self.data, self.work = seed, sf, data, work
        self.cpus = cpus
        self.rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
        self.spark = None
        self.tracer = None


def pin_environment(work: str) -> None:
    """Before any JVM or worker exists: workers import sybil_spark from
    this checkout, and every temp/spill/local file stays in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def start_session(work: str, cpus: int):
    from sybil_spark.session import get_spark
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a pre-touched fixed heap keeps peak RSS independent of when
        # the collector happens to run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-Xms2g -XX:+AlwaysPreTouch",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut the py4j gateway down and wait until the JVM and every
    process it started (Python workers) have exited: the JVM exits
    when its stdin closes."""
    from pyspark import SparkContext

    import tracing
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    kids = [proc.pid] + tracing.descendants(proc.pid) if proc else []
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(tracing.alive(p) for p in kids):
        if time.monotonic() > deadline:
            raise TimeoutError("Spark processes still running")
        time.sleep(0.05)


def run(args, work: str, cpus: int) -> tuple[dict, dict]:
    import datagen
    import tracing
    import workloads

    import pyspark
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "sf": args.sf, "cpus": cpus, "trace": args.trace,
                    "python": sys.version.split()[0],
                    "spark": pyspark.__version__}
    detail["probes_before"] = tracing.probes()
    ctx = Ctx(args.seed, args.sf, os.path.join(work, "data"), work, cpus)
    cls = workloads.WORKLOADS[args.workload]
    t0 = time.perf_counter()
    datagen.write_tables(ctx.data, args.seed, args.sf, cls.tables)
    detail["datagen_s"] = time.perf_counter() - t0
    wl = cls(ctx)
    wl.start_oracles()

    spark = None
    try:
        with tracing.PeakRss() as rss:
            reps = []
            for i in range(SETUP_REPS):
                t0 = time.perf_counter()
                spark = start_session(work, cpus)
                ctx.spark = spark
                wl.register(spark)
                reps.append(time.perf_counter() - t0)
                if i < SETUP_REPS - 1:
                    spark.stop()
            ctx.tracer = tracing.Tracer(spark, enabled=bool(args.trace))
            if args.trace and hasattr(wl, "trace_cache_plan"):
                wl.trace_cache_plan()
            t0 = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t0
            ctx.tracer.reset()

            ops, wall, rounds = [], 0.0, 0
            while rounds == 0 or wall < args.seconds:
                got, dt, op_warm_s = wl.round(wl.order(), timed=True)
                ops += got
                wall += dt
                warm_s += op_warm_s
                rounds += 1
            failures = wl.check()
    finally:
        wl.close()
        if spark is not None:
            spark.stop()
        stop_jvm()
    detail["probes_after"] = tracing.probes()

    failed_ops = sum(1 for _, _, ok in ops if not ok)
    attempted = len(ops)
    detail.update({
        "setup_reps_s": reps, "warm_s": warm_s, "rounds": rounds,
        "timed_wall_s": wall,
        "peak_rss_parts_mb": {k: v / 2**20 for k, v in rss.parts.items()},
        "ops": [[n, round(dt, 6), ok] for n, dt, ok in ops],
        "check_failures": failures,
        "fail_ratio": (failed_ops + len(failures)) / attempted,
    })
    detail.update(wl.outcome_metrics())
    if getattr(wl, "stream_hash", None):
        detail["stream_output_sha1"] = wl.stream_hash

    if args.trace:
        metrics = dict.fromkeys(per_layer_units(), 0.0)
        metrics.update(wl.exec_metrics())
        metrics.update(wl.layer_metrics())
        metrics.update(wl.outcome_metrics())
        metrics["trace.overhead_s"] = tracing.median(ctx.tracer.overhead_s)
        detail["op_trace"] = [tracing.op_record(r) for r in ctx.tracer.ops]
        units = per_layer_units()
    else:
        metrics = workloads.op_summary(ops, wall)
        metrics["setup_s"] = tracing.median(reps) + warm_s
        metrics["peak_rss_mb"] = rss.peak / 2**20
        units = END_TO_END_UNITS
    result = {
        "correct": not failures and failed_ops == 0,
        "attempted": attempted,
        "failed": failed_ops + len(failures),
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }
    return detail, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["dashboard", "pipeline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=0.1)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sybil_spark", "__init__.py")):
        print(f"perfbench: no sybil_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        pin_environment(work)
        detail, result = run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
