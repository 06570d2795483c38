"""Per-job/stage breakdown for one corpus query — the local stand-in
for the Spark UI's Jobs/Stages pages (guide §1.1/§7.1).

Runs the query once (plus an optional warmup), then prints every job
the query ran with its wall time and stage task-time totals, via the
status API listener data. Plan-time jobs (skew probes, localCheckpoint
materializations, 1-row stats collects) show up as separate jobs —
exactly the breakdown the bench number hides. Each rep also prints
its build time (the `QUERIES[name](spark, sf_dir)` call, before the
collect) and the py4j round trips that build made: driver chatter
that no job list shows. The header says whether PySpark's DataFrame
debugging is on in the measured process: it adds ~10 round trips to
every Column call, so counts taken with it on (any session not made
by `session.get_spark`) are not comparable with counts taken off.

Usage: python tools/profile_query.py [sf_dir] <query> [--reps N]
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@contextmanager
def py4j_round_trips():
    """Yield a one-element list counting the py4j commands sent inside
    the block, memory (object-release) commands excluded: when those
    fire depends on the garbage collector, not on the code measured.
    It holds None when py4j has no ClientServerConnection.send_command
    to hook, and stays 0 when the gateway uses another connection
    class."""
    try:
        from py4j.clientserver import ClientServerConnection as conn
        from py4j.protocol import MEMORY_COMMAND_NAME
    except ImportError:
        conn = None
    if not hasattr(conn, "send_command"):
        yield [None]
        return
    n = [0]
    orig = conn.send_command

    def counted(self, command):
        n[0] += not command.startswith(MEMORY_COMMAND_NAME)
        return orig(self, command)

    conn.send_command = counted
    try:
        yield n
    finally:
        conn.send_command = orig


def dataframe_debugging() -> bool:
    """Whether PySpark records a call site on every Column/DataFrame
    call in this process (`spark.python.sql.dataFrameDebugging.enabled`
    of the session active at the first such call; read once)."""
    from pyspark.errors.utils import is_debugging_enabled
    return is_debugging_enabled()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 2
    for a in sys.argv[1:]:
        if a.startswith("--reps"):
            reps = int(a.split("=", 1)[1])
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    name = args[0]

    from sybil_spark.corpus import QUERIES
    from sybil_spark.operators._util import unpersist_unscoped
    from sybil_spark.session import get_spark

    spark = get_spark("profile", extra_conf={"spark.ui.enabled": "false"})
    sc = spark.sparkContext
    print(f"dataframe debugging: {'on' if dataframe_debugging() else 'off'}")
    # same warmups as bench.py so the first profiled rep is
    # steady-state; read whichever table the dir has (perfbench's
    # generated dirs have no region.parquet)
    tables = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    if tables:
        spark.read.parquet(os.path.join(sf_dir, tables[0])).count()
    (spark.range(8).repartition(8)
          .mapInPandas(lambda it: (pdf for pdf in it), "id long").count())

    fn = QUERIES[name]
    for rep in range(reps):
        before_jobs = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
        sc.setJobDescription(f"{name} rep{rep}")
        t0 = time.time()
        with py4j_round_trips() as calls:
            df = fn(spark, sf_dir)
        build = time.time() - t0
        df.collect()
        wall = time.time() - t0
        unpersist_unscoped()
        tracker = sc._jsc.sc().statusTracker()
        jobs = sorted(set(tracker.getJobIdsForGroup(None)) - set(before_jobs))
        print(f"== {name} rep {rep}: wall {wall:.3f}s, build {build:.3f}s"
              f" ({calls[0]} py4j round trips), {len(jobs)} jobs ==")
        store = sc._jsc.sc().statusStore()
        jlist = store.jobsList(None)
        n = jlist.size()
        by_id = {}
        for i in range(n):
            jd = jlist.apply(i)
            by_id[jd.jobId()] = jd
        for j in jobs:
            jd = by_id.get(j)
            if jd is None:
                print(f"  job {j}  ?")
                continue
            try:
                sub = jd.submissionTime().get().getTime()
                comp = jd.completionTime().get().getTime()
                dur = f"{comp - sub}ms"
            except Exception:
                dur = "?"
            ids = jd.stageIds()
            sids = [ids.apply(i) for i in range(ids.size())]
            st_parts = []
            for s in sorted(sids):
                try:
                    sd = store.lastStageAttempt(int(s))
                    st_parts.append(
                        f"s{s}:{sd.numCompleteTasks()}t/"
                        f"{sd.executorRunTime()}ms:"
                        f"{sd.name()[:40]}")
                except Exception:
                    st_parts.append(f"s{s}:?")
            print(f"  job {j}  {dur:>8}  {'; '.join(st_parts)}")
    spark.stop()


if __name__ == "__main__":
    main()
