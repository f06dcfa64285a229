"""sf0.001 smoke run: the traced and untraced runs execute the same ops.

Starts two benchmark processes (about a minute and a half on 4 cores).
"""

import json
import os
import subprocess
import sys

from conftest import BENCH
from workloads import WORKLOADS

ROOT = os.path.dirname(BENCH)


def _run(trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           "interactive", "--seed", "7", "--seconds", "0", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert last["correct"] and last["failed"] == 0
    path = os.path.join(ROOT, ".perfbench", f"report-interactive-seed7-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def _per_pass(report: dict) -> list[list[str]]:
    passes: dict[int, list[str]] = {}
    for pid, name in report["ops"]:
        passes.setdefault(pid, []).append(name)
    return [passes[k] for k in sorted(passes)]


def test_traced_and_untraced_runs_execute_the_same_op_sequence():
    untraced, traced = _run(0), _run(1)
    want = list(WORKLOADS["interactive"].entries)
    u, t = _per_pass(untraced), _per_pass(traced)
    assert all(ops == want for ops in u + t)
    # a traced run alternates untraced and traced warm passes, ABBA
    kinds = [p["traced"] for p in traced["passes"]]
    assert kinds[0] and kinds[1:7] == [False, True, True, False, False, True]
    assert t[: len(u)] == u
