"""Tracing for the benchmark's traced run, and the per-layer metrics.

Three sources feed the per-layer metrics of one traced run:

* ``Tracer`` wraps the public functions of the ``sources``, ``operators``,
  ``output`` and ``cache`` modules and the public methods of their classes
  (and rebinds every name already imported from them elsewhere, including
  in ``__spark_entry__``) and keeps one span per call: name, start, end,
  parent;
* ``EventLog`` reads Spark's uncompressed event log and maps each job to
  the query execution that caused it, by ``spark.jobGroup.id`` or, for
  jobs started off the driver thread (streaming), by submission time;
* ``stream_listener`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress report.

``layer_metrics`` folds them into one value per metric and timed pass and
reports the median over passes.
"""
from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

TRACED_PACKAGES = (
    "flatbread_spark.sources", "flatbread_spark.operators", "flatbread_spark.output",
)
TRACED_MODULES = ("flatbread_spark.cache",)
MB = 1e6

# SQL metric names (TaskEnd accumulables, Spark 4.1) of the Python/Arrow
# evaluators and of the file scan
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_OUT = "data sent to Python workers"
PY_IN = "data returned from Python workers"
SCAN_TIME = "scan time"
# the listener-bus thread that writes the event log (Spark's AsyncEventQueue
# threads are named spark-listener-group-<queue>)
EVENT_LOG_THREAD = "spark-listener-group-eventLog"


# ------------------------------------------------------------------ spans
@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def layer(self) -> str:
        parts = self.name.split(".")
        return parts[1] if parts[0] == "flatbread_spark" else parts[0]


class Tracer:
    """Times every call of the wrapped functions while ``active``.

    Spans are kept in memory (``spans``) and written out by the caller."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _SpanContext(self, name)

    def _open(self, name: str) -> Span:
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sp = Span(len(self.spans), name, time.time(),
                      parent=stack[-1] if stack else None)
            self.spans.append(sp)
        stack.append(sp.id)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._local.stack.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            sp = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(sp)

        return traced

    def install(self) -> int:
        """Wrap the traced modules' public functions and their classes'
        public methods, and rebind every module global and class attribute
        that refers to one of the functions. Returns the number of wrapped
        module-level functions."""
        modules = [importlib.import_module(m) for m in TRACED_MODULES]
        for pkg_name in TRACED_PACKAGES:
            pkg = importlib.import_module(pkg_name)
            modules.append(pkg)
            for info in pkgutil.iter_modules(pkg.__path__):
                modules.append(importlib.import_module(f"{pkg_name}.{info.name}"))
        wrapped: dict[int, object] = {}
        for mod in modules:
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrapped[id(obj)] = self._wrap(obj, f"{mod.__name__}.{attr}")
                elif inspect.isclass(obj):
                    # the output layer is classes (TableSpecBuilder, ...)
                    for m_name, m in list(vars(obj).items()):
                        if not m_name.startswith("_") and inspect.isfunction(m):
                            new = self._wrap(m, f"{mod.__name__}.{attr}.{m_name}")
                            self._restore.append((obj, m_name, m))
                            setattr(obj, m_name, new)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith("flatbread_spark") or name == "__spark_entry__"):
                continue
            self._rebind(mod, wrapped)
            for obj in list(vars(mod).values()):
                if inspect.isclass(obj) and obj.__module__.startswith("flatbread_spark"):
                    self._rebind(obj, wrapped)
        return len(wrapped)

    def _rebind(self, owner, wrapped: dict[int, object]) -> None:
        for attr, obj in list(vars(owner).items()):
            new = wrapped.get(id(obj))
            if new is not None:
                self._restore.append((owner, attr, obj))
                setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, obj in reversed(self._restore):
            setattr(owner, attr, obj)
        self._restore.clear()

    def to_json(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent} for s in self.spans]


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.sp = tracer, name, None

    def __enter__(self) -> Span | None:
        if self.tracer.active:
            self.sp = self.tracer._open(self.name)
        return self.sp

    def __exit__(self, *exc) -> None:
        if self.sp is not None:
            self.tracer._close(self.sp)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent in child:
            child[s.parent] += s.end - s.start
    return {s.id: (s.end - s.start) - child[s.id] for s in spans}


def _outer_time(spans: list[Span], module: str) -> float:
    """Wall time of ``module``'s spans (its functions and its classes'
    methods) not nested in another of its spans."""
    by_id = {s.id: s for s in spans}
    prefix = module + "."
    total = 0.0
    for s in spans:
        if not s.name.startswith(prefix):
            continue
        p = by_id.get(s.parent)
        while p is not None and not p.name.startswith(prefix):
            p = by_id.get(p.parent)
        if p is None:
            total += s.end - s.start
    return total


# -------------------------------------------------------------- event log
@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    complete: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage: int
    run_ms: float
    cpu_ms: float
    deser_ms: float
    gc_ms: float
    result_bytes: float
    shuffle_write: float
    shuffle_read: float
    fetch_wait_ms: float
    spill_bytes: float
    input_bytes: float
    input_rows: float
    sql: dict[str, float]


class EventLog:
    """Jobs and finished tasks of one uncompressed Spark event log.

    Tasks are counted from TaskEnd events: the status tracker's per-stage
    task counts include skipped stages."""

    def __init__(self, lines) -> None:
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0, stages=list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]].complete = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                self.tasks.append(_task(ev))

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path, encoding="utf-8") as f:
            return cls(f)

    def stage_jobs(self) -> dict[int, int]:
        # a stage listed by several jobs (a reused shuffle) runs in the first
        owner: dict[int, int] = {}
        for job in sorted(self.jobs.values(), key=lambda j: j.id):
            for st in job.stages:
                owner.setdefault(st, job.id)
        return owner


def _task(ev: dict) -> Task:
    m = ev["Task Metrics"]
    sr, sw, inp = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"], m["Input Metrics"]
    sql: dict[str, float] = {}
    for acc in ev["Task Info"].get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if name in (PY_RUN, PY_START, PY_INIT, PY_OUT, PY_IN, SCAN_TIME) and upd is not None:
            sql[name] = sql.get(name, 0.0) + float(upd)
    return Task(
        stage=ev["Stage ID"],
        run_ms=m["Executor Run Time"],
        cpu_ms=m["Executor CPU Time"] / 1e6,
        deser_ms=m["Executor Deserialize Time"],
        gc_ms=m["JVM GC Time"],
        result_bytes=m["Result Size"],
        shuffle_write=sw["Shuffle Bytes Written"],
        shuffle_read=sr["Remote Bytes Read"] + sr["Local Bytes Read"],
        fetch_wait_ms=sr["Fetch Wait Time"],
        spill_bytes=m["Disk Bytes Spilled"],
        input_bytes=inp["Bytes Read"],
        input_rows=inp["Records Read"],
        sql=sql,
    )


def assign_jobs(log: EventLog, executions: list[dict]) -> dict[int, int]:
    """Map job id -> index into ``executions``: by job group when the job
    carries an execution's group, else by submission inside its window."""
    by_group = {e["group"]: i for i, e in enumerate(executions)}
    owner: dict[int, int] = {}
    for job in log.jobs.values():
        if job.group in by_group:
            owner[job.id] = by_group[job.group]
            continue
        for i, e in enumerate(executions):
            if e["start"] <= job.submit <= e["end"]:
                owner[job.id] = i
                break
    return owner


def _busy(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            total += (cur_hi - cur_lo) if cur_hi is not None else 0.0
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    return total + ((cur_hi - cur_lo) if cur_hi is not None else 0.0)


def thread_cpu_clock(spark, name: str):
    """A function returning the CPU seconds used so far by the driver JVM's
    thread ``name``."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    (tid,) = [t.getId() for t in jvm.java.lang.Thread.getAllStackTraces().keySet()
              if t.getName() == name]
    return lambda: mx.getThreadCpuTime(tid) / 1e9


# -------------------------------------------------------------- streaming
def stream_listener():
    """A ``StreamingQueryListener`` that keeps each progress report as a
    plain dict in its ``progress`` list."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.progress.append({
                "time": time.time(),
                "rows": p.numInputRows,
                "batch_ms": p.batchDuration,
                "state_rows_updated": sum(s.numRowsUpdated for s in p.stateOperators),
                "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return StreamProgress()


# ---------------------------------------------------------------- metrics
def layer_metrics(
    executions: list[dict],
    passes: list[dict],
    log: EventLog,
    spans: list[Span],
    progress: list[dict],
    cores: int,
    op_modules,
) -> dict[str, float]:
    """One value per per-layer metric: the median over ``passes``.

    ``executions``: one dict per timed query execution with ``pass``,
    ``group``, ``start``, ``built``, ``end`` (epoch s), ``jobs``,
    ``internal_jobs`` and ``cached_mb``. ``passes``: dicts with ``index``
    (the executions' ``pass``), ``start`` and ``end`` (epoch s)."""
    owner = assign_jobs(log, executions)
    stage_job = log.stage_jobs()
    selft = self_times(spans)
    per_pass: dict[str, list[float]] = {}
    for ps in passes:
        ex_ids = {i for i, e in enumerate(executions) if e["pass"] == ps["index"]}
        exs = [executions[i] for i in sorted(ex_ids)]
        wall = ps["end"] - ps["start"]
        jobs = [j for j in log.jobs.values() if owner.get(j.id) in ex_ids]
        job_ids = {j.id for j in jobs}
        tasks = [t for t in log.tasks if stage_job.get(t.stage) in job_ids]
        sps = [s for s in spans if ps["start"] <= s.start <= ps["end"]]
        # progress reports reach the listener asynchronously, just after
        # the batch they describe
        prog = [g for g in progress if ps["start"] <= g["time"] <= ps["end"] + 1.0]
        run_ms = sum(t.run_ms for t in tasks)
        m = {
            "entry.build_s": sum(e["built"] - e["start"] for e in exs),
            "entry.collect_s": sum(e["end"] - e["built"] for e in exs),
            "session.jobs": sum(e["jobs"] for e in exs),
            "session.internal_jobs": sum(e["internal_jobs"] for e in exs),
            "session.driver_gap_s": wall - _busy(
                [(j.submit, j.complete or ps["end"]) for j in jobs],
                ps["start"], ps["end"]),
            "session.tasks": len(tasks),
            "session.task_run_ms": run_ms,
            "session.task_cpu_ms": sum(t.cpu_ms for t in tasks),
            "session.task_deser_ms": sum(t.deser_ms for t in tasks),
            "session.gc_ms": sum(t.gc_ms for t in tasks),
            "session.core_util": run_ms / (wall * 1000.0 * cores),
            "session.shuffle_write_mb": sum(t.shuffle_write for t in tasks) / MB,
            "session.shuffle_read_mb": sum(t.shuffle_read for t in tasks) / MB,
            "session.fetch_wait_ms": sum(t.fetch_wait_ms for t in tasks),
            "session.spill_mb": sum(t.spill_bytes for t in tasks) / MB,
            "session.result_mb": sum(t.result_bytes for t in tasks) / MB,
            "sources.input_mb": sum(t.input_bytes for t in tasks) / MB,
            "sources.input_rows": sum(t.input_rows for t in tasks),
            "sources.scan_ms": sum(t.sql.get(SCAN_TIME, 0.0) for t in tasks),
            "sources.pivot_s": _outer_time(sps, "flatbread_spark.sources.pivot"),
            "functions.python_run_ms": sum(t.sql.get(PY_RUN, 0.0) for t in tasks),
            "functions.python_start_ms": sum(
                t.sql.get(PY_START, 0.0) + t.sql.get(PY_INIT, 0.0) for t in tasks),
            "functions.python_bytes_out": sum(t.sql.get(PY_OUT, 0.0) for t in tasks),
            "functions.python_bytes_in": sum(t.sql.get(PY_IN, 0.0) for t in tasks),
            "streaming.batches": len(prog),
            "streaming.input_rows": sum(g["rows"] for g in prog),
            "streaming.batch_ms": sum(g["batch_ms"] for g in prog),
            "streaming.state_rows_updated": sum(g["state_rows_updated"] for g in prog),
            "streaming.state_commit_ms": sum(g["state_commit_ms"] for g in prog),
            "cache.pins": sum(1 for s in sps if s.name in (
                "flatbread_spark.cache.pin", "flatbread_spark.cache.register")),
            "cache.cached_mb": max((e["cached_mb"] for e in exs), default=0.0),
            "output.tablespec_s": _outer_time(sps, "flatbread_spark.output.tablespec"),
        }
        for mod in op_modules:
            m[f"operators.{mod}_s"] = _outer_time(sps, f"flatbread_spark.operators.{mod}")
        for layer in ("entry", "sources", "operators", "output", "cache"):
            m[f"{layer}.self_s"] = sum(selft[s.id] for s in sps if s.layer == layer)
        for k, v in m.items():
            per_pass.setdefault(k, []).append(float(v))
    return {k: statistics.median(v) for k, v in per_pass.items()}
