"""Fast self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Runs both workloads untraced and traced on tiny inputs and asserts that
each run exits 0, reports correct answers, and prints exactly the
metrics BENCHMARK.json names, each finite and with its unit. Then runs
the benchmark in a directory holding only BENCHMARK.json and
perfbench/ and asserts that it fails without printing a result.
Takes about two minutes on 4 cores.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(p, want: dict[str, str], label: str) -> None:
    assert p.returncode == 0, f"{label}: exit {p.returncode}\n{p.stderr[-3000:]}"
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] is True and res["failed"] == 0, (label, res)
    assert res["attempted"] >= 1, (label, res)
    got = res["metrics"]
    assert set(got) == set(want), (label, sorted(set(got) ^ set(want)))
    for name, m in got.items():
        assert m["unit"] == want[name], (label, name, m)
        assert isinstance(m["value"], (int, float)), (label, name, m)
        assert math.isfinite(m["value"]), (label, name, m)
    print(f"ok  {label}: {len(got)} metrics, {res['attempted']} ops")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        for trace, want in ((0, e2e), (1, layers)):
            check_result(run(ROOT, w["name"], trace), want,
                         f"{w['name']} trace={trace}")

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=base)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, spec["workloads"][0]["name"], 0)
        assert p.returncode != 0 and not p.stdout.strip(), p.stdout
        print("ok  bare directory: exit", p.returncode, "and no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
