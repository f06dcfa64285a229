"""Per-layer instrumentation, installed from outside the program.

Only the traced run calls :func:`install`.  It wraps the public
functions of each layer in place (module attributes, and registry
entries that hold the function itself) so that every call opens a span
in the :class:`~spans.Recorder`; the program's files are not touched.

Layers and what is wrapped:

- ``catalog``: ``catalog.load_testdata``; handle misses are the growth
  of ``catalog._read_table``'s memo.
- ``plans``: ``plans.sra.ccdi_to_sra``, ``plans.dcf.ccdi_to_dcf_index``,
  ``plans.cds.cds_metadata``, ``plans.catalog_stats.catalog_stats``.
- ``operators.graph``: ``pagerank``, ``connected_components``,
  ``connected_components_star``, ``k_core``, ``triangle_counts``.
- ``checkpoints``: ``DataFrame.localCheckpoint`` / ``checkpoint``,
  counted and spanned; ``conf_sets``: ``RuntimeConfig.set``, counted.
- ``py4j``: the gateway client's ``send_command``, counted per span:
  the calls of the program's threads, not the deletes py4j's finalizer
  thread sends for dropped objects nor the tracer's own reads.

Executor and storage figures are read from Spark's status store after
a pass (:class:`JobReader`, :func:`storage`); they need no wrapping.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.clientserver import FinalizerWorker
from py4j.protocol import Py4JJavaError
from spans import Recorder

PKG = "childhoodcancerdatainitiative_prefect_pipeline_spark"

FLOWS = {
    "sra": ("plans.sra", "ccdi_to_sra"),
    "dcf": ("plans.dcf", "ccdi_to_dcf_index"),
    "cds": ("plans.cds", "cds_metadata"),
    "catalog_stats": ("plans.catalog_stats", "catalog_stats"),
}
GRAPH_FUNCS = (
    "pagerank",
    "connected_components",
    "connected_components_star",
    "k_core",
    "triangle_counts",
)


@dataclass
class Counters:
    """Event counts keyed by the id of the innermost open span."""

    by_span: dict[int, dict[str, int]] = field(default_factory=dict)
    lock: threading.Lock = field(default_factory=threading.Lock)
    tracer_thread: threading.local = field(default_factory=threading.local)

    @contextmanager
    def uncounted(self):
        """Calls the tracer itself makes in this block are not counted."""
        self.tracer_thread.busy = True
        try:
            yield
        finally:
            self.tracer_thread.busy = False

    def bump(self, rec: Recorder, what: str) -> None:
        if (
            not rec.active
            or getattr(self.tracer_thread, "busy", False)
            or isinstance(threading.current_thread(), FinalizerWorker)
        ):
            return
        span = rec.current()
        if span is None:
            return
        with self.lock:
            c = self.by_span.setdefault(span.id, {})
            c[what] = c.get(what, 0) + 1


def _replace_everywhere(orig, wrapper) -> None:
    """Point every package-module global and registry entry at ``wrapper``."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith(PKG) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)
    registry = sys.modules[f"{PKG}.queries"].REGISTRY
    for q in registry.values():
        if q.fn is orig:
            q.fn = wrapper


def _spanned(rec: Recorder, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with rec.span(name):
            return fn(*args, **kwargs)

    return wrapper


def _counted(rec: Recorder, counters: Counters, what: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        counters.bump(rec, what)
        return fn(*args, **kwargs)

    return wrapper


def install(rec: Recorder, spark) -> Counters:
    """Wrap every layer's public functions; return the event counters."""
    import importlib

    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.conf import RuntimeConfig

    counters = Counters()
    catalog = importlib.import_module(f"{PKG}.catalog")
    _replace_everywhere(
        catalog.load_testdata,
        _spanned(rec, "catalog.load_testdata", catalog.load_testdata),
    )
    for flow, (mod, fn) in FLOWS.items():
        m = importlib.import_module(f"{PKG}.{mod}")
        orig = getattr(m, fn)
        _replace_everywhere(orig, _spanned(rec, f"plans.{flow}", orig))
    graph = importlib.import_module(f"{PKG}.operators.graph")
    for fn in GRAPH_FUNCS:
        orig = getattr(graph, fn)
        _replace_everywhere(orig, _spanned(rec, f"operators.graph.{fn}", orig))
    # checkpoints also get a span: the dashboard runs them on its worker
    # threads, where they overlap each other inside the entry's span
    for meth in ("localCheckpoint", "checkpoint"):
        orig = _spanned(rec, "dataframe.checkpoint", getattr(DataFrame, meth))
        setattr(DataFrame, meth, _counted(rec, counters, "checkpoints", orig))
    RuntimeConfig.set = _counted(rec, counters, "conf_sets", RuntimeConfig.set)
    client = spark.sparkContext._gateway._gateway_client
    client.send_command = _counted(rec, counters, "py4j", client.send_command)
    return counters


def handle_cache_size() -> int:
    """Entries in ``catalog._read_table``'s table-handle memo."""
    catalog = sys.modules[f"{PKG}.catalog"]
    return len(catalog._read_table.__dict__.get("_cache", {}))


@dataclass
class Job:
    id: int
    submitted_ms: int
    completed_ms: int
    stages: list[int]


@dataclass
class Stage:
    id: int
    attempt: int
    tasks: int
    cpu_s: float
    run_s: float
    gc_s: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    spill_mb: float


class JobReader:
    """Reads jobs and stages finished since the last call.

    Uses ``SparkContext.statusStore``, which Spark fills with the UI
    turned off too.  The status listener runs asynchronously, so each
    read first waits for the listener bus to drain.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.last_job = -1
        self.seen_stages: set[int] = set()

    def new_jobs(self) -> tuple[list[Job], dict[int, Stage]]:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        seq = store.jobsList(None)
        jobs = []
        for i in range(seq.size()):  # newest first
            j = seq.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break
            sub, end, ids = j.submissionTime(), j.completionTime(), j.stageIds()
            jobs.append(
                Job(
                    jid,
                    sub.get().getTime() if sub.isDefined() else 0,
                    end.get().getTime() if end.isDefined() else 0,
                    [ids.apply(k) for k in range(ids.size())],
                )
            )
        jobs.reverse()
        if jobs:
            self.last_job = jobs[-1].id
        stages = {}
        for sid in sorted({s for j in jobs for s in j.stages} - self.seen_stages):
            self.seen_stages.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            stages[sid] = Stage(
                id=sid,
                attempt=sd.attemptId(),
                tasks=sd.numTasks(),
                cpu_s=sd.executorCpuTime() / 1e9,
                run_s=sd.executorRunTime() / 1e3,
                gc_s=sd.jvmGcTime() / 1e3,
                shuffle_read_mb=sd.shuffleReadBytes() / 2**20,
                shuffle_write_mb=sd.shuffleWriteBytes() / 2**20,
                spill_mb=sd.diskBytesSpilled() / 2**20,
            )
        return jobs, stages

    def task_skew(self, stage: Stage) -> float:
        """Max / median task run time of one stage (1.0 if not measurable)."""
        jvm = self.sc._jvm
        q = self.sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        opt = self.jsc.statusStore().taskSummary(stage.id, stage.attempt, q)
        if not opt.isDefined():
            return 1.0
        dist = opt.get().duration()
        med, mx = dist.apply(0), dist.apply(1)
        return mx / med if med > 0 else 1.0


def storage(spark, local_dir: str) -> dict[str, float]:
    """What the session holds: persisted RDDs, their bytes, local-dir bytes."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mem = disk = 0
    for info in infos:
        mem += info.memSize()
        disk += info.diskSize()
    local = 0
    for root, _, files in os.walk(local_dir):
        for f in files:
            try:
                local += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass  # removed while walking
    return {
        "persisted_rdds": jsc.getPersistentRDDs().size(),
        "mem_mb": mem / 2**20,
        "disk_mb": disk / 2**20,
        "local_dir_mb": local / 2**20,
    }
