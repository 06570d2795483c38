"""Measurement helpers: spans, Spark status-store reads, memory and
contention probes.

Spans are recorded only around the benchmark's own calls into the
program's public functions; nothing inside `sybil_spark` is patched
except where noted (the query-cache planner is wrapped at its module
attribute so its real CachePlan can be read). With tracing off every
helper here is a cheap no-op, so the untraced run measures the program
alone.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager

#: operation-graph node names of the stages that cross into Python
#: workers (Arrow/pandas UDF exchanges and plain Python UDFs)
_PY_NODE = re.compile(r"InPandas|EvalPython|PythonRDD|ArrowPython|PythonUDF")


class Tracer:
    """Spans and per-op Spark statistics for one benchmark run.

    `span(name)` times a block; `op(group)` tags every Spark job the
    block submits with a job group and, when tracing, reads the jobs'
    and stages' statistics from the status store once the block ends.
    The time spent reading the store is kept in `overhead_s`."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[tuple[str, float, float, str | None]] = []
        self.ops: list[dict] = []
        self.overhead_s: list[float] = []
        self._parent: str | None = None
        self._n = 0
        #: when True, ops still get a job group but nothing is recorded
        self.paused = False

    def reset(self) -> None:
        """Forget everything recorded so far (the warm-up)."""
        self.spans.clear()
        self.ops.clear()
        self.overhead_s.clear()

    @property
    def recording(self) -> bool:
        return self.enabled and not self.paused

    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield
            return
        parent, self._parent = self._parent, name
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter(), parent))
            self._parent = parent

    def span_s(self, name: str) -> list[float]:
        return [e - s for n, s, e, _ in self.spans if n == name]

    @contextmanager
    def op(self, name: str):
        """Run one op under its own job group. Traced: yields a dict
        the caller fills with phase boundaries (`build_end`, wall
        clock seconds) and which is then completed with job/stage
        totals and appended to `ops`."""
        self._n += 1
        group = f"bench-{self._n}-{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        rec = {"name": name, "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            sc.setJobGroup(None, None)
            if self.recording:
                t0 = time.perf_counter()
                rec.update(job_stats(self.spark, group,
                                     rec.get("build_end")))
                self.ops.append(rec)
                self.overhead_s.append(time.perf_counter() - t0)


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def job_stats(spark, group: str, build_end: float | None) -> dict:
    """Totals over every job of one job group from the live status
    store (kept without the UI). Jobs submitted before `build_end` are
    build-time jobs: eager work done while the DataFrame was being
    constructed. `intervals` are the jobs' [submit, complete] times."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = {"jobs": 0, "build_jobs": 0, "tasks": 0, "task_s": 0.0,
           "cpu_s": 0.0, "gc_s": 0.0, "python_task_s": 0.0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "intervals": []}
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        sub, done = _ms(jd.submissionTime()), _ms(jd.completionTime())
        out["jobs"] += 1
        if build_end is not None and sub is not None and sub < build_end:
            out["build_jobs"] += 1
        if sub is not None and done is not None:
            out["intervals"].append((sub, done))
        ids = jd.stageIds()
        for i in range(ids.size()):
            sid = int(ids.apply(i))
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage never attempted (skipped)
                continue
            if sd.numCompleteTasks() == 0:
                continue
            run_s = sd.executorRunTime() / 1000.0
            out["tasks"] += sd.numCompleteTasks()
            out["task_s"] += run_s
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1000.0
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += (sd.memoryBytesSpilled()
                                   + sd.diskBytesSpilled())
            dot = graph.makeDotFile(store.operationGraphForStage(sid))
            if _PY_NODE.search(dot):
                out["python_task_s"] += run_s
    return out


def uncovered_s(start: float, end: float, intervals) -> float:
    """Seconds of [start, end] covered by none of `intervals`: driver
    time spent planning, scheduling and fetching between jobs."""
    cut = sorted((max(s, start), min(e, end)) for s, e in intervals
                 if e > start and s < end)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in cut:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end - start) - covered)


def op_record(rec: dict) -> dict:
    """One traced op for the detail record: phase walls, driver gap and
    the job/stage totals, without the raw job intervals."""
    out = {k: v for k, v in rec.items() if k != "intervals"}
    if "build_end" in rec:
        out["build_s"] = rec["build_end"] - rec["start"]
        out["collect_s"] = rec["end"] - rec["build_end"]
        out["driver_gap_s"] = uncovered_s(rec["build_end"], rec["end"],
                                          rec["intervals"])
    return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1])."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


# -- memory -------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str, int]]:
    """{pid: (ppid, command name, resident bytes)} from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        out[int(d)] = (ppid, st[st.index("(") + 1:st.rindex(")")],
                       pages * page)
    return out


def descendants(root: int, table=None) -> list[int]:
    """Every live process below `root`."""
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def alive(pid: int) -> bool:
    """True while `pid` runs (an exited, unreaped zombie does not)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return False
    return st[st.rindex(")") + 2] != "Z"


def _tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of `root` and all its descendants (driver Python,
    the JVM it launched and the JVM's Python workers), summed per
    command name."""
    table = _proc_table()
    out: dict[str, int] = {}
    for p in [root] + descendants(root, table):
        if p not in table:
            continue
        ppid, comm, rss = table[p]
        if p != root and ppid in table and table[ppid][2] == rss:
            continue   # forked, not yet exec'd: the parent's pages again
        out[comm] = out.get(comm, 0) + rss
    return out


class PeakRss:
    """Background sampler of the process tree's resident memory; keeps
    the peak total and its split by command name."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = _tree_rss(os.getpid())
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.parts = total, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self._sample()


# -- contention probes ---------------------------------------------------

#: one probe child: import first, then wait for the start line so all
#: children run the loop at the same time
_PROBE_CHILD = ("import sys; from bench import quiet_probe; "
                "sys.stdin.readline(); print(quiet_probe())")


def probes() -> dict:
    """bench.py's single-thread `quiet_probe`, and the same loop in
    one process per core at once (median seconds): a host whose other
    cores are busy reads slow on the second even when the first looks
    idle."""
    import subprocess

    from bench import quiet_probe
    single = quiet_probe()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    kids = [subprocess.Popen([sys.executable, "-c", _PROBE_CHILD], cwd=root,
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             text=True)
            for _ in range(len(os.sched_getaffinity(0)))]
    for k in kids:
        k.stdin.write("go\n")
        k.stdin.flush()
    par = [float(k.communicate(timeout=120)[0]) for k in kids]
    return {"probe_s": single, "probe_par_s": median(par)}
