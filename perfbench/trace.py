"""Spans and Spark counters per engine layer, for the traced run.

``Tracer.span(layer, name)`` records one span: wall interval, self time
(minus child spans), and the Spark jobs launched while it was the
innermost open span. Each span sets its own job group, so its jobs are
identifiable in Spark's own tooling; attribution itself uses job-id
ranges (every job id created between a span's open and close that no
child span claimed), which also catches jobs that run under another
group, such as a streaming query's micro-batch jobs.

Counters are read from ``statusTracker()`` and
``statusStore().lastStageAttempt()`` when the span closes, after the
listener bus has drained. A job id in a span's range that the status
store no longer holds (evicted: Spark keeps 1,000 jobs by default) fails
the run with ``TraceError`` instead of under-reporting.

``instrument(tracer)`` wraps the public functions of each layer module
from outside the package, so the package source is untouched.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PACKAGE = "ntd_gtfs_to_socrata_spark"
LAYERS = ("session", "sources", "plans", "operators", "queries", "streaming", "sinks", "action")
# layer -> packages whose public functions are spans of that layer
LAYER_PACKAGES = {
    "sources": f"{PACKAGE}.sources",
    "plans": f"{PACKAGE}.plans",
    "operators": f"{PACKAGE}.operators",
    "streaming": f"{PACKAGE}.streaming",
}
LAYER_COUNTERS = (
    "busy_s", "driver_s", "jobs", "stages", "tasks", "exec_run_s", "core_util",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
    "output_bytes", "failed",
)
# the session layer launches no Spark jobs
SESSION_COUNTERS = ("busy_s", "driver_s", "failed")


class TraceError(RuntimeError):
    """The status store lost jobs a span launched; counters would be low."""


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_ms: int = 0
    job_wall_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    failed_jobs: int = 0
    job_intervals: list = field(default_factory=list)

    def add(self, other: StageTotals) -> None:
        for k, v in vars(other).items():
            if k == "job_intervals":
                self.job_intervals.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


class JobReader:
    """Reads job and stage counters for a range of job ids."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.seen_stages: set[int] = set()

    def next_job_id(self) -> int:
        return self.jsc.dagScheduler().nextJobId()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def read(self, job_ids) -> StageTotals:
        """Counters of the given (finished) jobs. A stage shared by several
        jobs is counted once; skipped stages are not counted."""
        tracker = self.sc.statusTracker()
        t = StageTotals()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                raise TraceError(f"job {jid} is missing from the status store")
            jd = self.store.job(jid)
            t.jobs += 1
            if info.status == "FAILED":
                t.failed_jobs += 1
            start, end = jd.submissionTime(), jd.completionTime()
            if start.isDefined() and end.isDefined():
                s, e = start.get().getTime(), end.get().getTime()
                t.job_wall_ms += e - s
                t.job_intervals.append((s / 1000.0, e / 1000.0))
            for sid in info.stageIds:
                if sid in self.seen_stages:
                    continue
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError as e:
                    raise TraceError(f"stage {sid} is missing from the status store") from e
                if sd.status().toString() == "SKIPPED":
                    continue
                self.seen_stages.add(sid)
                t.stages += 1
                t.tasks += sd.numTasks()
                t.exec_run_ms += sd.executorRunTime()
                t.input_bytes += sd.inputBytes()
                t.output_bytes += sd.outputBytes()
                t.shuffle_read_bytes += sd.shuffleReadBytes()
                t.shuffle_write_bytes += sd.shuffleWriteBytes()
                t.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return t


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    t0: float
    first_job: int
    t1: float = 0.0
    child_s: float = 0.0
    failed: int = 0
    totals: StageTotals = field(default_factory=StageTotals)

    @property
    def self_s(self) -> float:
        return (self.t1 - self.t0) - self.child_s

    def driver_s(self) -> float:
        """Self time while none of this span's own jobs was running."""
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(self.totals.job_intervals):
            s, e = max(s, self.t0), min(e, self.t1)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return max(0.0, self.self_s - busy)

    def to_json(self) -> dict:
        counts = {k: v for k, v in vars(self.totals).items() if k != "job_intervals"}
        return {
            "id": self.sid, "layer": self.layer, "name": self.name,
            "parent": self.parent, "start": self.t0, "end": self.t1,
            "self_s": self.self_s, "failed": self.failed, **counts,
        }


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.reader = JobReader(spark)
        self.stack: list[Span] = []
        self.spans: list[Span] = []
        self.claimed: set[int] = set()
        self.enabled = True  # off: wrapped functions run without spans
        self._ids = 0

    def add_span(self, layer: str, name: str, t0: float, t1: float) -> None:
        """A span measured before the tracer existed (session start)."""
        self._ids += 1
        self.spans.append(Span(self._ids, layer, name, None, t0, 0, t1))

    @contextmanager
    def span(self, layer: str, name: str):
        self._ids += 1
        parent = self.stack[-1] if self.stack else None
        self.reader.drain()
        rec = Span(self._ids, layer, name, parent.sid if parent else None,
                   time.time(), self.reader.next_job_id())
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{rec.sid}", f"{layer}:{name}")
        self.stack.append(rec)
        try:
            yield rec
        except Exception:
            rec.failed += 1
            raise
        finally:
            rec.t1 = time.time()
            self.stack.pop()
            if parent is not None:
                sc.setJobGroup(f"perfbench-{parent.sid}", f"{parent.layer}:{parent.name}")
                parent.child_s += rec.t1 - rec.t0
            else:
                sc._jsc.clearJobGroup()
            self._claim(rec)
            self.spans.append(rec)

    def _claim(self, rec: Span) -> None:
        """Attribute every job created since ``rec`` opened that no child
        span claimed (children close first and claim their own)."""
        self.reader.drain()
        ids = [j for j in range(rec.first_job, self.reader.next_job_id()) if j not in self.claimed]
        rec.totals = self.reader.read(ids)
        self.claimed.update(ids)


def layer_metrics(spans: list[Span], cores: int) -> dict[str, float]:
    """Per-layer sums over the given spans, as ``<layer>.<counter>``."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        t = StageTotals()
        for s in mine:
            t.add(s.totals)
        vals = {
            "busy_s": sum(s.self_s for s in mine),
            "driver_s": sum(s.driver_s() for s in mine),
            "jobs": t.jobs,
            "stages": t.stages,
            "tasks": t.tasks,
            "exec_run_s": t.exec_run_ms / 1000.0,
            "core_util": t.exec_run_ms / (t.job_wall_ms * cores) if t.job_wall_ms else 0.0,
            "shuffle_read_bytes": t.shuffle_read_bytes,
            "shuffle_write_bytes": t.shuffle_write_bytes,
            "spill_bytes": t.spill_bytes,
            "input_bytes": t.input_bytes,
            "output_bytes": t.output_bytes,
            "failed": sum(s.failed for s in mine) + t.failed_jobs,
        }
        names = SESSION_COUNTERS if layer == "session" else LAYER_COUNTERS
        for k in names:
            out[f"{layer}.{k}"] = vals[k]
    return out


def _public_functions(module) -> list:
    return [
        obj for name, obj in vars(module).items()
        if not name.startswith("_")
        and inspect.isfunction(obj)
        and obj.__module__ == module.__name__
        and not hasattr(obj, "evalType")  # a Spark UDF object
    ]


def _wrap(tracer: Tracer, layer: str, fn):
    label = f"{fn.__module__.removeprefix(PACKAGE + '.')}.{fn.__qualname__}"

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(layer, label):
            return fn(*args, **kwargs)

    return traced


def instrument(tracer: Tracer) -> None:
    """Wrap each layer's public functions and every sink's ``write``,
    then rebind every reference the package modules hold to the
    originals (``from x import f`` copies)."""
    wrapped: dict[int, object] = {}
    targets: list[tuple[str, object]] = []
    for layer, pkg_name in LAYER_PACKAGES.items():
        pkg = importlib.import_module(pkg_name)
        mods = [pkg]
        for info in pkgutil.iter_modules(pkg.__path__):
            try:
                mods.append(importlib.import_module(f"{pkg_name}.{info.name}"))
            except ImportError:  # optional dependency missing; nothing to trace
                continue
        for mod in mods:
            targets.extend((layer, fn) for fn in _public_functions(mod))
    io_mod = importlib.import_module(f"{PACKAGE}.io")
    targets.append(("sources", io_mod.load_table))
    for layer, fn in targets:
        wrapped.setdefault(id(fn), _wrap(tracer, layer, fn))

    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            w = wrapped.get(id(val))
            if w is not None and inspect.isfunction(val):
                setattr(mod, attr, w)

    sinks = importlib.import_module(f"{PACKAGE}.sinks")
    for cls in vars(sinks).values():
        if inspect.isclass(cls) and cls.__module__ == sinks.__name__ and "write" in vars(cls):
            cls.write = _wrap(tracer, "sinks", vars(cls)["write"])
