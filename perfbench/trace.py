"""Spans around the engine's layers, with Spark counters per span.

A traced iteration runs with the engine's layer entry points wrapped (see
:func:`instrument`). Each wrapper opens a span, gives it its own Spark job
group, calls the layer and materializes a lazy DataFrame result inside the
span, so the layer's jobs run under its group. Spans live in memory; after
the iteration :meth:`Tracer.resolve` reads, per span, the jobs of its group
from the status tracker, their stages from the status store and the
``MapInPandas`` metrics from the SQL status store. All three are readable
with the Spark UI disabled.

Times are self times: a span's wall excludes its child spans, so the walls
of all spans of an iteration add up to the part of the iteration spent
inside some layer.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

SPANS = (
    "convert",
    "wrap",
    "pyramid.build",
    "pyramid.quantize",
    "table_io.run_stage",
    "pyramid.enable_serving",
    "pyramid.get_tile",
    "pyramid.get_tiles",
    "tile_one_shot",
    "spatial_join.cover",
    "spatial_join.point_cells",
    "spatial_join.pip",
    "spatial_join.knn",
)
FIELDS = ("wall_s", "jobs", "tasks", "task_s", "shuffle_mb", "py_rows",
          "py_s", "py_boot_s", "driver_s")
FIELD_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "task_s": "s",
               "shuffle_mb": "MB", "py_rows": "count", "py_s": "s",
               "py_boot_s": "s", "driver_s": "s"}

_PY_ROWS = "number of output rows"
_PY_RUN = "time to run Python workers"
_PY_BOOT = ("time to start Python workers", "time to initialize Python workers")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    bytes_written: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return max(0.0, self.end - self.start - self.child_s)


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> number (durations in seconds).

    Single values read like ``1,000`` or ``35 ms``; task-aggregated ones
    like ``total (min, med, max (stageId: taskId))\\n4.3 s (...)``, whose
    total is the first value of the last line.
    """
    line = text.strip().splitlines()[-1]
    head = line.split(" (")[0].strip()
    parts = head.split()
    value = float(parts[0].replace(",", ""))
    unit = parts[1] if len(parts) > 1 else ""
    scale = {"": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
             "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3}
    return value * scale[unit]


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._prefix = f"perfbench-{os.getpid()}"
        self._seen_exec: set[int] = set()
        self.outputs: dict = {}  # last materialized result per layer

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 f"{self._prefix}-{len(self.spans)}", time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.end - s.start
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------------ counters

    def resolve(self, spans: list[Span]) -> None:
        """Fill ``counters`` of the given (finished) spans from Spark."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        job_span: dict[int, Span] = {}
        for s in spans:
            c = dict.fromkeys(FIELDS, 0.0)
            intervals = []
            for j in tracker.getJobIdsForGroup(s.group):
                job_span[j] = s
                jd = store.job(j)
                c["jobs"] += 1
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    intervals.append((jd.submissionTime().get().getTime() / 1e3,
                                      jd.completionTime().get().getTime() / 1e3))
                stage_ids = jd.stageIds()
                for i in range(stage_ids.size()):
                    try:
                        sd = store.lastStageAttempt(stage_ids.apply(i))
                    except Py4JJavaError:  # skipped stage: never submitted
                        continue
                    c["tasks"] += sd.numCompleteTasks()
                    c["task_s"] += sd.executorRunTime() / 1e3
                    c["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
            c["wall_s"] = s.self_s
            c["driver_s"] = max(0.0, s.self_s - interval_union(intervals))
            s.counters = c
        self._python_metrics(job_span)

    def _python_metrics(self, job_span: dict[int, Span]) -> None:
        """Add MapInPandas row and time metrics of the SQL executions whose
        jobs belong to the given spans."""
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid in self._seen_exec:
                continue
            jobs = [int(j) for j in str(e.jobs().keys().mkString(",")).split(",") if j]
            owner = next((job_span[j] for j in jobs if j in job_span), None)
            if owner is None:
                continue
            self._seen_exec.add(eid)
            nodes = sql.planGraph(eid).allNodes()
            wanted: dict[int, str] = {}
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if node.name() != "MapInPandas":
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    wanted[int(ms.apply(m).accumulatorId())] = ms.apply(m).name()
            if not wanted:
                continue
            values = dict(conv.asJava(sql.executionMetrics(eid)))
            c = owner.counters
            for acc, name in wanted.items():
                text = values.get(acc)
                if text is None:
                    continue
                if name == _PY_ROWS:
                    c["py_rows"] += parse_metric(text)
                elif name == _PY_RUN:
                    c["py_s"] += parse_metric(text)
                elif name in _PY_BOOT:
                    c["py_boot_s"] += parse_metric(text)


def aggregate(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per layer name: counters summed over its spans, plus ``calls``."""
    out = {name: dict(dict.fromkeys(FIELDS, 0.0), calls=0, bytes_mb=0.0)
           for name in SPANS}
    for s in spans:
        agg = out[s.name]
        agg["calls"] += 1
        agg["bytes_mb"] += s.bytes_written / 1e6
        for k in FIELDS:
            agg[k] += s.counters.get(k, 0.0)
    return out


# ------------------------------------------------------------ instrumentation


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _wrap(tracer: Tracer, name: str, fn, materialize: bool):
    from pyspark.sql import DataFrame

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            out = fn(*args, **kwargs)
            # a layer that hands back one of its own inputs did no work
            if (materialize and isinstance(out, DataFrame)
                    and not any(out is a for a in args)):
                out = out.localCheckpoint(eager=True)
                tracer.outputs[name] = out
            return out

    return wrapper


def _wrap_run_stage(tracer: Tracer, fn):
    @functools.wraps(fn)
    def wrapper(self, name, *args, **kwargs):
        path = os.path.join(self.workdir, name)
        with tracer.span("table_io.run_stage") as s:
            before = _dir_bytes(path)
            out = fn(self, name, *args, **kwargs)
            s.bytes_written = max(0, _dir_bytes(path) - before)
            return out

    return wrapper


@contextmanager
def instrument(tracer: Tracer):
    """Wrap every traced layer entry point for the duration of the block.

    Module-level names are patched where the engine looks them up: the
    workloads convert through the convert module, the pyramid module
    imports ``wrap_features`` and ``quantize`` by name, and the PIP join
    calls the cell helpers through its own module globals.
    """
    from geojson_vt_cpp_spark.operators import convert as CV
    from geojson_vt_cpp_spark.operators import pyramid as PY
    from geojson_vt_cpp_spark.operators import spatial_join as SJ
    from geojson_vt_cpp_spark.operators import tile_one_shot as TO
    from geojson_vt_cpp_spark.sources import table_io as TIO

    TP = PY.TilePyramid
    patches = [
        (CV, "extract_features", "convert", True),
        (PY, "wrap_features", "wrap", True),
        (TP, "_build", "pyramid.build", False),
        (PY, "quantize", "pyramid.quantize", True),
        (TP, "enable_serving", "pyramid.enable_serving", False),
        (TP, "get_tile", "pyramid.get_tile", False),
        (TP, "get_tiles", "pyramid.get_tiles", True),
        (TO, "geojson_to_tile_df", "tile_one_shot", True),
        (SJ, "polygon_cover_cells", "spatial_join.cover", True),
        (SJ, "point_cells", "spatial_join.point_cells", True),
        (SJ, "point_in_polygon_join", "spatial_join.pip", True),
        (SJ, "knn_join", "spatial_join.knn", True),
    ]
    saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _, _ in patches]
    saved.append((TIO.TableIO, "run_stage", TIO.TableIO.__dict__["run_stage"]))
    try:
        for owner, attr, span, mat in patches:
            setattr(owner, attr, _wrap(tracer, span, owner.__dict__[attr], mat))
        TIO.TableIO.run_stage = _wrap_run_stage(tracer, TIO.TableIO.run_stage)
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)
