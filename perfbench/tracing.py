"""The benchmark's traced run: spans, Catalyst phases and Spark metrics.

Spans are recorded from the benchmark's own code, around calls into the
engine's modules: the benchmark replaces a module attribute with a timing
wrapper while a traced pass runs, and puts the original back afterwards.
The Catalyst listener is likewise registered only during traced passes.
Each span sets a Spark job group, so every Spark job is attributed to the
span that fired it. Spans stay in memory and are written out when the run
ends.

Everything Spark measured is read after the timed region: job and stage
metrics from the status store, scan-file counts from the SQL status store,
and Catalyst phase times from a QueryExecutionListener (for a write, the
write command's QueryExecution).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import time
from dataclasses import dataclass, field

PKG = "real_big_data_project_spark"

# (module, attribute, span name). A span's layer is the text before the dot.
PATCH_POINTS = (
    (f"{PKG}.__main__", "_register_tables", "sources.register"),
    (f"{PKG}.__main__", "_read_any", "sources.feed_read"),
    (f"{PKG}.sources.registry", "load_table", "sources.feed_read"),
    (f"{PKG}.sources.sinks", "write_time_partitioned", "sources.write"),
    (f"{PKG}.pipeline", "run_pipeline", "pipeline.run_pipeline"),
    (f"{PKG}.datapipe.corpus", "with_near_duplicates",
     "datapipe.with_near_duplicates"),
    (f"{PKG}.datapipe.corpus", "selection_signals",
     "datapipe.selection_signals"),
    (f"{PKG}.datapipe.dedup_text", "minhash_lsh_candidates",
     "datapipe.minhash_lsh_candidates"),
    (f"{PKG}.datapipe.components", "dedup_components",
     "datapipe.dedup_components"),
)
GROUP_PREFIX = "perfbench"


@dataclass
class Span:
    id: int
    name: str
    rid: str
    parent: int | None
    start: float            # time.time() seconds, comparable with Spark's clock
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder for one run. The engine is patched only while a traced
    pass runs (`start` .. `stop`); outside one it runs unchanged."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = False
        self.rid = ""
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._listed: dict[str, int] = {}
        self.windows: list[tuple[float, float]] = []   # traced passes

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, self.rid,
                  parent.id if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"{GROUP_PREFIX}:{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{GROUP_PREFIX}:{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if sp is not None:
                self._count(name, sp, args, kwargs, out)
            return out
        return traced

    def _count(self, name, sp: Span, args, kwargs, out) -> None:
        """Counts at the boundary, taken after the span closed so they stay
        out of its time."""
        if name == "sources.register":
            tables_dir = args[1]
            if tables_dir not in self._listed:
                self._listed[tables_dir] = sum(
                    1 for t in out for _ in _data_files(os.path.join(tables_dir, t)))
            sp.counts["files_listed"] = self._listed[tables_dir]
        elif name == "sources.write":
            path = args[1] if len(args) > 1 else kwargs["path"]
            files = list(_data_files(path))
            sp.counts["files_written"] = len(files)
            sp.counts["bytes_written"] = sum(os.path.getsize(f) for f in files)

    def start(self) -> None:
        """Patch the engine and record spans until `stop`."""
        self.install()
        self.enabled = True

    def stop(self) -> None:
        self.enabled = False
        self.uninstall()

    @contextlib.contextmanager
    def tracing(self, rid: str):
        self.rid = rid
        self.start()
        try:
            yield
        finally:
            self.stop()

    # -- patching ------------------------------------------------------------

    def install(self) -> None:
        """Replace every patch point (and the catalog lookup that hands out
        query builders) with a span wrapper."""
        for mod_name, attr, name in PATCH_POINTS:
            self._patch(importlib.import_module(mod_name), attr,
                        lambda fn, name=name: self.wrap(fn, name))
        plans = importlib.import_module(f"{PKG}.plans")
        self._patch(plans, "queries_map", lambda fn: functools.wraps(fn)(
            lambda: {k: self.wrap(b, "plans.build") for k, b in fn().items()}))

    def _patch(self, mod, attr, make) -> None:
        orig = getattr(mod, attr)
        self._patched.append((mod, attr, orig))
        setattr(mod, attr, make(orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()


def _data_files(path: str):
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                yield os.path.join(root, f)


# ---------------------------------------------------------------------------
# Catalyst phases
# ---------------------------------------------------------------------------

PHASES = ("analysis", "optimization", "planning")


class CatalystListener:
    """py4j implementation of Spark's QueryExecutionListener: records the
    Catalyst phase summaries of every finished query. For a write, the
    QueryExecution Spark reports is the write command's, which owns the
    optimization and planning of the written plan."""

    def __init__(self):
        self.events: list[dict] = []

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 (Java name)
        self._record(qe)

    def onFailure(self, func, qe, exc):  # noqa: N802
        self._record(qe)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        ev = {}
        for p in PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                s = opt.get()
                ev[p] = (s.startTimeMs() / 1e3, s.durationMs() / 1e3)
        self.events.append(ev)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_listener(spark, listener: CatalystListener) -> None:
    """Register `listener` for the next traced pass only: every query run
    while it is registered pays a py4j callback."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    spark._jsparkSession.listenerManager().register(listener)


def unregister_listener(spark, listener: CatalystListener) -> None:
    """Deliver the pending events, then unregister."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    spark._jsparkSession.listenerManager().unregister(listener)


def catalyst_totals(listener: CatalystListener,
                    windows: list[tuple[float, float]]) -> dict[str, float]:
    """Phase seconds of the queries whose phase started inside a window."""
    tot = {p: 0.0 for p in PHASES}
    for ev in listener.events:
        for p, (start, dur) in ev.items():
            if any(a <= start <= b for a, b in windows):
                tot[p] += dur
    return tot


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def _scala(sc):
    return sc._jvm.scala.jdk.javaapi.CollectionConverters


def spark_jobs(sc) -> list[dict]:
    """Every job the status store holds: id, group, interval, stage ids."""
    conv = _scala(sc)
    out = []
    for j in conv.asJava(sc._jsc.sc().statusStore().jobsList(None)):
        group = j.jobGroup()
        sub, comp = j.submissionTime(), j.completionTime()
        stages = j.stageIds().mkString(",")
        out.append({
            "id": j.jobId(),
            "group": group.get() if group.isDefined() else None,
            "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "end": comp.get().getTime() / 1e3 if comp.isDefined() else None,
            "stages": [int(s) for s in stages.split(",")] if stages else [],
            "status": j.status().toString(),
        })
    return out


STAGE_FIELDS = ("numCompleteTasks", "numFailedTasks", "executorRunTime",
                "executorCpuTime", "jvmGcTime", "inputBytes", "inputRecords",
                "outputBytes", "outputRecords", "shuffleReadBytes",
                "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")


def spark_stages(sc) -> dict[int, dict]:
    """Per-stage task metrics (summed over attempts) of stages that ran."""
    conv = _scala(sc)
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = conv.asJava(sc._jsc.sc().statusStore().stageList(
        None, False, False, no_quantiles, sc._jvm.java.util.ArrayList()))
    out: dict[int, dict] = {}
    for s in stages:
        if s.status().toString() == "SKIPPED":
            continue
        rec = out.setdefault(s.stageId(), {f: 0 for f in STAGE_FIELDS})
        for f in STAGE_FIELDS:
            rec[f] += getattr(s, f)()
    return out


def sql_files_read(spark, windows: list[tuple[float, float]]) -> int:
    """Sum of the scans' "number of files read" over SQL executions that
    started inside a window."""
    sc = spark.sparkContext
    conv = _scala(sc)
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for e in conv.asJava(store.executionsList()):
        if not any(a <= e.submissionTime() / 1e3 <= b for a, b in windows):
            continue
        ids = {m.accumulatorId() for m in conv.asJava(e.metrics())
               if m.name() == "number of files read"}
        if not ids:
            continue
        values = conv.asJava(store.executionMetrics(e.executionId()))
        for k in ids:
            v = values.get(k)
            if v:
                total += int(str(v).replace(",", ""))
    return total


def codegen_compiles(sc) -> int:
    """Classes Janino has compiled so far in this JVM (whole-stage and
    expression codegen); a class found in Spark's codegen cache is not
    compiled again."""
    metrics = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of it its children cover. The
    children's intervals are clipped to the parent and merged, so a child
    that overlaps a sibling or outlives its parent is not subtracted twice;
    its time is then counted twice, which `reconcile` reports."""
    by_id = {s.id: s for s in spans}
    covered: dict[int, list[tuple[float, float]]] = {s.id: [] for s in spans}
    for s in spans:
        p = by_id.get(s.parent)
        if p is not None:
            a, b = max(s.start, p.start), min(s.end, p.end)
            if a < b:
                covered[p.id].append((a, b))
    return {s.id: s.duration - union_seconds(covered[s.id]) for s in spans}


def reconcile(spans: list[Span], walls: dict[str, float]) -> dict[str, float]:
    """Per request: |sum of its spans' self times - the wall time the
    client measured around it| / wall. A request whose spans miss part of
    it (no root span) reads below its wall; a span recorded twice or
    escaping its parent reads above it."""
    selfs = self_times(spans)
    total = {rid: 0.0 for rid in walls}
    for s in spans:
        if s.rid in total:
            total[s.rid] += selfs[s.id]
    return {rid: abs(total[rid] - w) / w for rid, w in walls.items()}
