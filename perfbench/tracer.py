"""The traced run: spans around each layer, figures per layer.

A traced warm pass records, per registry entry, the span tree::

    op:<entry>
      queries.construct          REGISTRY[entry].fn(spark, input_dir)
        catalog.load_testdata, plans.<flow>, operators.graph.<fn>,
        dataframe.checkpoint (also on the dashboard's worker threads)
      executor.write             the noop write

Untraced passes of the same run go through the same code with the
recorder off, so the two kinds differ only by the tracing itself; the
median traced pass over the median untraced pass is the overhead.

Jobs are read from the status store after every pass and assigned to
spans by their submission time.  Catalyst figures come from the query
executions Spark ran in the pass (the noop writes and the eager jobs of
construction), each read from its own ``QueryPlanningTracker`` when it
finishes; the benchmark plans nothing itself.
"""

from __future__ import annotations

import os
import re
import statistics

import layers
from pyspark.java_gateway import ensure_callback_server_started
from spans import Recorder, Span, covered
from workloads import all_entries

# A job submitted within this many ms of a span's edges belongs to it:
# the JVM stamps jobs in whole milliseconds.
EDGE_MS = 1


_CODEGEN = re.compile(r"^\*\(\d+\) ")


def plan_counts(tree: str) -> tuple[int, int]:
    """(nodes, exchanges) of an executed plan's tree string.

    An adaptive plan prints its final plan and then its initial plan,
    one level deeper than the adaptive node; only the final plan counts.
    """
    nodes = exchanges = 0
    skip_from = None
    for line in tree.splitlines():
        body = line.lstrip(" :+-")
        depth = len(line) - len(body)
        if skip_from is not None and depth >= skip_from:
            continue
        skip_from = None
        if body.startswith("== Initial Plan =="):
            skip_from = depth
        if not body or body.startswith("=="):
            continue
        nodes += 1
        name = _CODEGEN.sub("", body).split(" ", 1)[0]
        exchanges += name in ("Exchange", "BroadcastExchange")
    return nodes, exchanges


class PlanListener:
    """Planning figures of each query execution Spark finishes.

    A py4j callback, registered with the session's
    ``ExecutionListenerManager`` for the traced passes only.  It reads
    the phases the execution's own ``QueryPlanningTracker`` measured and
    the executed plan at once, and keeps no reference to the
    ``QueryExecution``: one kept until the pass ends keeps its plans and
    checkpointed RDDs alive, and the storage figures would count them.
    Its py4j calls are not counted as the program's.
    """

    def __init__(self, counters: layers.Counters) -> None:
        self.counters = counters
        self.figures: list[tuple[float, float, int, int]] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802
        with self.counters.uncounted():
            self._read(qe)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        with self.counters.uncounted():
            self._read(qe)

    def _read(self, qe) -> None:
        phases = qe.tracker().phases()
        optimized, planned = phases.get("optimization"), phases.get("planning")
        if not planned.isDefined():
            return  # failed before planning: there is no plan to read
        optimize_s = optimized.get().durationMs() / 1000 if optimized.isDefined() else 0.0
        nodes, exchanges = plan_counts(qe.executedPlan().treeString())
        self.figures.append((optimize_s, planned.get().durationMs() / 1000, nodes, exchanges))

    def take(self) -> dict[str, float]:
        """Sums over the executions read since the last call."""
        figs, self.figures = self.figures, []
        keys = ("optimize_s", "physical_s", "nodes", "exchanges")
        return {k: sum(f[i] for f in figs) for i, k in enumerate(keys)}

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, runner) -> None:
        self.runner = runner
        self.spark = runner.spark
        self.rec = Recorder()
        self.counters = layers.install(self.rec, self.spark)
        self.reader = layers.JobReader(self.spark)
        self.reader.new_jobs()  # jobs of the set-up are not a pass's
        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self.listener = PlanListener(self.counters)
        self.listeners = self.spark._jsparkSession.listenerManager()
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.per_pass: dict[int, dict] = {}
        self.plan: dict[int, dict[str, float]] = {}
        self.storage: dict[str, float] = {}

    # -- one op ----------------------------------------------------------
    def op(self, name: str, construct):
        rec = self.rec
        with rec.span(f"op:{name}"):
            with rec.span("queries.construct"):
                df = construct()
            with rec.span("executor.write"):
                df.write.format("noop").mode("overwrite").save()
        return df

    # -- pass bookkeeping --------------------------------------------------
    def begin_pass(self, p) -> None:
        self.rec.pass_id = p.id
        self.rec.active = p.traced
        self._handles = layers.handle_cache_size()
        if p.traced:
            self.listeners.register(self.listener)

    def end_pass(self, p) -> None:
        self.rec.active = False
        jobs, stages = self.reader.new_jobs()  # drains the listener bus
        if p.traced:
            self.listeners.unregister(self.listener)
            self.plan[p.id] = self.listener.take()
        self.storage = layers.storage(self.spark, self.runner.local_dir)
        if not p.traced:
            return
        worst = max(stages.values(), key=lambda s: s.run_s, default=None)
        self.per_pass[p.id] = {
            "seconds": p.seconds,
            "jobs": jobs,
            "stages": stages,
            "handle_misses": layers.handle_cache_size() - self._handles,
            "task_skew": self.reader.task_skew(worst) if worst else 1.0,
            "hot_bucket_warnings": p.hot_bucket_warnings,
        }

    # -- figures -----------------------------------------------------------
    def _pass_figures(self, pid: int, d: dict) -> dict[str, float]:
        spans = [s for s in self.rec.spans if s.pass_id == pid and s.end]
        by_id = {s.id: s for s in spans}
        jobs, stages = d["jobs"], d["stages"]

        def within(span: Span) -> list:
            lo, hi = span.start * 1000 - EDGE_MS, span.end * 1000 + EDGE_MS
            return [j for j in jobs if lo <= j.submitted_ms <= hi]

        def dur(name: str) -> float:
            return sum(s.end - s.start for s in spans if s.name == name)

        def top(prefix: str) -> list[Span]:
            """Spans named ``prefix...`` not nested in another such span."""
            out = []
            for s in spans:
                if not s.name.startswith(prefix):
                    continue
                a = by_id.get(s.parent)
                while a is not None and not a.name.startswith(prefix):
                    a = by_id.get(a.parent)
                if a is None:
                    out.append(s)
            return out

        inclusive = _inclusive_counts(spans, self.counters.by_span)
        cons = [s for s in spans if s.name == "queries.construct"]
        cons_jobs = [j for s in cons for j in within(s)]
        job_wall = sum(
            covered(
                [(j.submitted_ms / 1000, j.completed_ms / 1000) for j in within(s)],
                s.start,
                s.end,
            )
            for s in cons
        )
        f = {
            "catalog.load_calls": len([s for s in spans if s.name == "catalog.load_testdata"]),
            "catalog.load_s": sum(s.end - s.start for s in top("catalog.load_testdata")),
            "catalog.handle_misses": d["handle_misses"],
            "queries.construct_s": dur("queries.construct"),
            "queries.construct_py_s": dur("queries.construct") - job_wall,
            "queries.eager_jobs": len(cons_jobs),
            "queries.py4j.calls": sum(inclusive[s.id].get("py4j", 0) for s in cons),
            "catalyst.optimize_s": self.plan[pid]["optimize_s"],
            "catalyst.physical_s": self.plan[pid]["physical_s"],
            "catalyst.plan_nodes": self.plan[pid]["nodes"],
            "catalyst.exchanges": self.plan[pid]["exchanges"],
        }
        st = list(stages.values())
        cpu = sum(s.cpu_s for s in st)
        f.update({
            "executor.jobs": len(jobs),
            "executor.stages": len(st),
            "executor.tasks": sum(s.tasks for s in st),
            "executor.cpu_s": cpu,
            "executor.run_s": sum(s.run_s for s in st),
            "executor.gc_s": sum(s.gc_s for s in st),
            "executor.shuffle_read_mb": sum(s.shuffle_read_mb for s in st),
            "executor.shuffle_write_mb": sum(s.shuffle_write_mb for s in st),
            "executor.spill_mb": sum(s.spill_mb for s in st),
            "executor.task_skew": d["task_skew"],
            "executor.busy_ratio": cpu / (d["seconds"] * self.cores),
        })
        for flow in layers.FLOWS:
            fs = top(f"plans.{flow}")
            fj = {j.id for s in fs for j in within(s)}
            f[f"plans.{flow}.s"] = sum(s.end - s.start for s in fs)
            f[f"plans.{flow}.jobs"] = len(fj)
            f[f"plans.{flow}.shuffle_write_mb"] = sum(
                stages[sid].shuffle_write_mb
                for j in jobs if j.id in fj
                for sid in j.stages if sid in stages
            )
        g = top("operators.graph.")
        calls = max(len(g), 1)
        f.update({
            "operators.graph.calls": len(g),
            "operators.graph.call_s": sum(s.end - s.start for s in g),
            "operators.graph.jobs_per_call": len({j.id for s in g for j in within(s)}) / calls,
            "operators.graph.checkpoints": sum(inclusive[s.id].get("checkpoints", 0) for s in g),
            "operators.graph.conf_sets": sum(inclusive[s.id].get("conf_sets", 0) for s in g),
            "operators.dedup.hot_bucket_warnings": d["hot_bucket_warnings"],
        })
        return f

    def metrics(self) -> dict[str, tuple[float, str]]:
        """Per-layer figures: medians over traced warm passes, and the rest."""
        r = self.runner
        warm = [pid for pid in self.per_pass if pid > 0]
        figs = [self._pass_figures(pid, self.per_pass[pid]) for pid in warm]
        out: dict[str, tuple[float, str]] = {
            "session.import_s": (r.setup["import_s"], "s"),
            "session.build_s": (r.setup["build_s"], "s"),
            "session.register_s": (r.setup["register_s"], "s"),
        }
        for k in figs[0]:
            out[k] = (statistics.median([f[k] for f in figs]), _unit(k))
        cold = self.plan[0]
        out["catalyst.cold_plan_s"] = (cold["optimize_s"] + cold["physical_s"], "s")
        for entry in all_entries():
            secs = [
                p.op_seconds[entry] for p in r.passes[1:]
                if not p.traced and entry in p.op_seconds
            ]
            out[f"op.{entry}.p50_s"] = (statistics.median(secs) if secs else 0.0, "s")
        for k, v in self.storage.items():
            out[f"storage.{k}"] = (v, _unit(k))
        untraced = [p.seconds for p in r.passes[1:] if not p.traced]
        traced = [p.seconds for p in r.passes[1:] if p.traced]
        u, t = statistics.median(untraced), statistics.median(traced)
        out["trace.untraced_warm_pass_s"] = (u, "s")
        out["trace.traced_warm_pass_s"] = (t, "s")
        out["trace.overhead_ratio"] = (t / u - 1, "ratio")
        return out


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith(("_ratio", "_skew", "_per_call")):
        return "ratio"
    return "count"


def _inclusive_counts(
    spans: list[Span], by_span: dict[int, dict[str, int]]
) -> dict[int, dict[str, int]]:
    """Span id -> its own counts plus those of all its descendants."""
    out = {s.id: dict(by_span.get(s.id, {})) for s in spans}
    parent = {s.id: s.parent for s in spans}
    for s in spans:
        a = parent.get(s.id)
        own = by_span.get(s.id, {})
        while a is not None and a in out:
            for k, v in own.items():
                out[a][k] = out[a].get(k, 0) + v
            a = parent.get(a)
    return out
