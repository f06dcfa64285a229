#!/usr/bin/env python3
"""Benchmark: seeded workloads through the query registry, from outside.

Run from the repository root::

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

One run is one process and one client (a closed loop).  It derives
the seed's input tables from the test data (``gen.py``), sets up the
engine (registry import, session build, table registration), runs the
workload's registry entries once in the fresh session (the cold
pass) and then again and again (warm passes) until ``--seconds`` have
passed, at least ``MIN_WARM`` times.
Each entry is built through ``REGISTRY[name].fn(spark, input_dir)`` and
executed with a ``noop`` write.  After the passes, the last pass's
outputs are collected and compared with their DuckDB oracle on the same
input.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` wraps each
layer's public functions (``layers.py``), alternates untraced and
traced warm passes and prints the per-layer metrics, including the
tracing overhead.  Earlier lines are a readable table; the last line is
one JSON object.  The exit code is 1 when an output mismatches its
oracle or an entry raised, 2 when the program cannot be imported.

Everything the run writes goes under ``.perfbench/`` in the repository
root: the generated input, Spark's local and temp directories (removed
at exit), and a JSON report plus, for traced runs, the spans.
"""

from __future__ import annotations

import argparse
import importlib.util
import itertools
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import stats
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "childhoodcancerdatainitiative_prefect_pipeline_spark"
MIN_WARM = 3


@dataclass
class Pass:
    id: int
    traced: bool
    seconds: float = 0.0
    op_seconds: dict[str, float] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)
    hot_bucket_warnings: int = 0


def _seed(text: str) -> int:
    seed = int(text)
    if seed < 0:
        raise argparse.ArgumentTypeError("the seed must be 0 or more")
    return seed


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=_seed, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def loadavg() -> list[float]:
    return list(os.getloadavg())


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) ticks of the machine's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


def rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid``, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    """One benchmark run: set-up, passes, gate, teardown."""

    def __init__(self, args, work_dir: str) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.work = work_dir
        self.input_dir = os.path.join(work_dir, "input")
        self.local_dir = os.path.join(work_dir, "spark-local")
        self.spark = None
        self.passes: list[Pass] = []
        # the current pass's outputs, for the gate; earlier passes' are
        # dropped so that the run holds no more of the session's plans
        # and checkpoints than one pass does
        self.frames: dict = {}
        self.ops: list[tuple[int, str]] = []
        self.context: dict = {}
        self.setup: dict[str, float] = {}
        self.tracer = None

    # -- set-up ----------------------------------------------------------
    def set_up(self) -> None:
        t = time.perf_counter()
        from childhoodcancerdatainitiative_prefect_pipeline_spark import queries
        from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import (
            load_testdata,
        )
        from childhoodcancerdatainitiative_prefect_pipeline_spark.session import (
            build_session,
        )

        self.setup["import_s"] = time.perf_counter() - t
        self.registry = queries.REGISTRY
        missing = [
            e for e in self.workload.entries
            if e not in self.registry or self.registry[e].oracle is None
        ]
        if missing:
            raise SystemExit(f"entries without a registry oracle: {missing}")

        import gen

        t = time.perf_counter()
        counts = gen.generate(self.input_dir, self.args.seed)
        self.context["gen_s"] = time.perf_counter() - t
        self.context["sf"] = gen.SF
        self.context["rows"] = counts

        t = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
                f"{os.environ['TMPDIR']} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.setup["build_s"] = time.perf_counter() - t
        t = time.perf_counter()
        load_testdata(self.spark, self.input_dir)
        self.setup["register_s"] = time.perf_counter() - t
        self.context["spark"] = self.spark.version

    # -- passes ----------------------------------------------------------
    def run_op(self, p: Pass, name: str) -> None:
        from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.dedup import (
            check_hot_buckets,
        )

        fn = self.registry[name].fn
        self.ops.append((p.id, name))
        t = time.perf_counter()
        try:
            if self.tracer is None:
                df = fn(self.spark, self.input_dir)
                df.write.format("noop").mode("overwrite").save()
            else:
                df = self.tracer.op(name, lambda: fn(self.spark, self.input_dir))
            self.frames[name] = df
        except Exception as ex:  # noqa: BLE001 — counted as failed, run goes on
            p.errors[name] = f"{type(ex).__name__}: {ex}"
        p.op_seconds[name] = time.perf_counter() - t
        p.hot_bucket_warnings += len(check_hot_buckets(emit=lambda _msg: None))

    def run_pass(self, traced: bool) -> None:
        p = Pass(len(self.passes), traced)
        self.frames = {}
        if self.tracer:
            self.tracer.begin_pass(p)
        t = time.perf_counter()
        for name in self.workload.entries:
            self.run_op(p, name)
        p.seconds = time.perf_counter() - t
        if self.tracer:
            self.tracer.end_pass(p)
        self.passes.append(p)

    def run_passes(self) -> None:
        traced = self.tracer is not None
        self.run_pass(traced)  # cold
        start = time.perf_counter()
        # a traced run alternates untraced and traced warm passes in
        # ABBA order, so that passes still getting faster favour neither
        order = itertools.cycle((False, True, True, False) if traced else (False,))
        while True:
            self.run_pass(next(order))
            kinds = [p.traced for p in self.passes[1:]]
            untraced = kinds.count(False)
            if (
                untraced >= MIN_WARM
                and kinds.count(True) == (untraced if traced else 0)
                and time.perf_counter() - start >= self.args.seconds
            ):
                return

    # -- correctness -----------------------------------------------------
    def gate(self) -> dict[str, str]:
        """Entry -> how its last output differs from the oracle's.

        Entries that raised in some pass are failed already and not
        compared again.
        """
        import oracle

        raised = {n for p in self.passes for n in p.errors}
        mismatches = {}
        for name in self.workload.entries:
            if name in raised:
                continue
            df = self.frames[name]
            rows = [tuple(r) for r in df.collect()]
            ocols, orows = oracle.oracle_rows(
                self.input_dir, self.registry[name].oracle
            )
            why = oracle.mismatch(df.columns, rows, ocols, orows)
            if why:
                mismatches[name] = why
        return mismatches

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        jvm = rss_mb(SparkContext._gateway.proc.pid)
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        return jvm + py

    def tear_down(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                proc = gw.proc
                gw.shutdown()
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
                SparkContext._gateway = SparkContext._jvm = None


def untraced_warm(r: Runner) -> list[float]:
    return [p.seconds for p in r.passes[1:] if not p.traced]


def end_to_end(r: Runner) -> dict[str, tuple[float, str]]:
    warm = untraced_warm(r)
    return {
        "setup_s": (sum(r.setup.values()), "s"),
        "cold_pass_s": (r.passes[0].seconds, "s"),
        "warm_pass_s": (statistics.median(warm), "s"),
        "drift_ratio": (stats.drift_ratio(warm), "ratio"),
        "peak_rss_mb": (r.context["peak_rss_mb"], "MiB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    if importlib.util.find_spec(PKG) is None:
        print(f"cannot import {PKG} from {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    nproc = len(os.sched_getaffinity(0))
    # set, not defaulted: every run measures the same configuration
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # the engine's 8g default lets the driver heap grow to ~7 GB on
    # these small inputs, so peak RSS would follow the collector's heap
    # sizing; 1g makes the passes collector-bound
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # overrides an inherited SPARK_LOCAL_DIRS, which wins over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM would write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    r = Runner(args, work)
    r.context.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        nproc=nproc,
        spark_graft_cpus=os.environ["SPARK_GRAFT_CPUS"],
        driver_mem=os.environ["SPARK_GRAFT_DRIVER_MEM"],
        python=platform.python_version(),
        loadavg_start=loadavg(),
    )
    ticks = cpu_ticks()
    try:
        r.set_up()
        if args.trace:
            from tracer import Tracer

            r.tracer = Tracer(r)
        r.run_passes()
        mismatches = r.gate()
        r.context["peak_rss_mb"] = r.peak_rss_mb()
        if r.tracer:
            layer = r.tracer.metrics()
    finally:
        try:
            r.tear_down()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    r.context["loadavg_end"] = loadavg()
    total, steal = (b - a for a, b in zip(ticks, cpu_ticks()))
    r.context["steal_pct"] = 100 * steal / max(total, 1)

    metrics = layer if args.trace else end_to_end(r)
    attempted = len(r.ops)
    failures = {
        name: f"pass {p.id}: {err}" for p in r.passes for name, err in p.errors.items()
    }
    failed = len(failures) + len(mismatches)
    failures.update(mismatches)
    report = {
        "context": r.context,
        "setup": r.setup,
        "passes": [
            {"id": p.id, "traced": p.traced, "s": p.seconds, "ops": p.op_seconds,
             "hot_bucket_warnings": p.hot_bucket_warnings}
            for p in r.passes
        ],
        "ops": r.ops,
        "failures": failures,
        "metrics": metrics,
    }
    out = os.path.join(ROOT, ".perfbench")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out, f"report-{name}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    if r.tracer:
        r.tracer.rec.dump(os.path.join(out, f"spans-{name}.json"))

    for k in ("seed", "rows", "nproc", "spark_graft_cpus", "driver_mem", "spark", "python",
              "loadavg_start", "loadavg_end", "steal_pct", "gen_s"):
        print(f"# {k}: {r.context[k]}")
    for entry, why in failures.items():
        print(f"# FAILED {entry}: {why}")
    print(f"{'failed_ratio':40s} {failed / attempted:12.6f} ratio")
    warm = untraced_warm(r)
    print(f"# warm passes: n={len(warm)} iqr={stats.iqr(warm):.6f} s")
    for k, (v, unit) in metrics.items():
        print(f"{k:40s} {v:12.6f} {unit}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
