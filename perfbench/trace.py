"""Traced runs: spans around calls into the engine's public entry points,
each call under its own Spark job group, and per-group figures read from
Spark's own event log.

The wrappers are installed from the benchmark's side, by replacing module
and class attributes for the length of the run; nothing inside
``rove_spark`` is instrumented. A span records name, start, end, parent and
the id of the benchmark operation (request) it belongs to. Spans stay in
memory; the event log is parsed once, after the session has stopped and
Spark has flushed it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

#: (module, attribute path, span name): the public entry points a traced run
#: times. A function imported by name into other rove_spark modules is
#: replaced there too.
ENTRY_POINTS = [
    ("rove_spark.plans.engine", "Engine.run_job", "engine.run_job"),
    ("rove_spark.plans.engine", "Engine.run_pipeline", "engine.run_pipeline"),
    ("rove_spark.plans.engine", "Engine.query_range", "engine.query_range"),
    ("rove_spark.sources.tables", "PartitionedTable.overwrite_partitions", "tables.overwrite_partitions"),
    ("rove_spark.sources.switch", "DataSwitch.fetch", "switch.fetch"),
    ("rove_spark.service", "parse_validate_request", "service.parse"),
    ("rove_spark.service", "RoveService.validate", "service.validate"),
    ("rove_spark.operators.rollup", "retention_compact", "rollup.retention_compact"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "dataframe.collect"),
]

#: job groups of the benchmark's spans
GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str
    group: str
    start: float
    end: float = 0.0
    #: for generator calls: time spent inside the generator's own steps
    busy: float | None = None
    #: epoch seconds at ``start``, to line spans up with the event log
    wall: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def window(self) -> tuple[float, float]:
        return self.wall, self.wall + self.seconds


@dataclass
class Tracer:
    sc: object
    spans: list[Span] = field(default_factory=list)
    #: id of the benchmark operation in flight (one client, so at most one);
    #: spans opened on other threads, e.g. the HTTP handler's, take it
    request: str = ""
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _undo: list = field(default_factory=list)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _enter(self, span: Span) -> None:
        self._stack().append(span)
        self.sc.setJobGroup(span.group, span.name)

    def _leave(self, span: Span) -> None:
        stack = self._stack()
        stack.remove(span)
        if stack:
            self.sc.setJobGroup(stack[-1].group, stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        request = parent.request if parent else self.request
        span = Span(sid, name, parent.id if parent else None, request,
                    f"{GROUP_PREFIX}{sid}", time.perf_counter(), wall=time.time())
        self._enter(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._leave(span)
        self.spans.append(span)

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    @contextmanager
    def operation(self, request: str, name: str = "op"):
        """The benchmark's own span around one operation: ``op`` for the
        timed loop's, another name for the traced run's extra ones."""
        self.request = request
        try:
            with self.span(name) as sp:
                yield sp
        finally:
            self.request = ""

    # -- wrappers -----------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self
        if inspect.isgeneratorfunction(fn):
            # the span covers the generator's life; ``busy`` only its own
            # steps, not what the consumer does between them
            @functools.wraps(fn)
            def gen_wrapper(*a, **kw):
                sp = tracer.open(name)
                sp.busy = 0.0
                try:
                    gen = fn(*a, **kw)
                    while True:
                        t0 = time.perf_counter()
                        try:
                            item = next(gen)
                        except StopIteration:
                            return
                        finally:
                            sp.busy += time.perf_counter() - t0
                        tracer._leave(sp)
                        try:
                            yield item
                        finally:
                            tracer._enter(sp)
                finally:
                    tracer.close(sp)

            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return wrapper

    def install(self) -> None:
        importlib.import_module("rove_spark.plans.driver_queries")
        for module_name, path, name in ENTRY_POINTS:
            module = importlib.import_module(module_name)
            owner_name, _, attr = path.rpartition(".")
            owner = getattr(module, owner_name) if owner_name else module
            original = owner.__dict__[attr]
            wrapped = self._wrap(original, name)
            self._set(owner, attr, wrapped)
            if not owner_name:  # also where it was imported by name
                for mod_name, mod in list(sys.modules.items()):
                    if mod_name.startswith("rove_spark") and mod is not module:
                        for k, v in list(vars(mod).items()):
                            if v is original:
                                self._set(mod, k, wrapped)

    def _set(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, value in reversed(self._undo):
            setattr(owner, attr, value)
        self._undo.clear()

    def of_request(self, request: str) -> list[Span]:
        return [s for s in self.spans if s.request == request]

    def subtree(self, roots: list[Span]) -> list[Span]:
        """``roots`` and every span opened inside one of them: a call's
        jobs include those its nested calls ran under their own groups
        (``.first()`` at plan-build time runs as a ``dataframe.collect``)."""
        ids = {s.id for s in roots}
        out = list(roots)
        grown = True
        while grown:
            grown = False
            for s in self.spans:
                if s.parent in ids and s.id not in ids:
                    ids.add(s.id)
                    out.append(s)
                    grown = True
        return out


# ------------------------------------------------------------ event log --

_PYTHON_OPS = (
    "Pandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF", "PythonRDD",
    "MapInArrow", "ArrowWindowPython", "PythonMapInArrow",
)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    python_stage_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    #: from the SQL metrics of file-scan plan nodes
    files_read: int = 0
    rows_scanned: int = 0

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class Job:
    group: str | None
    submitted: float  # epoch seconds
    stats: GroupStats = field(default_factory=GroupStats)


@dataclass
class EventLog:
    jobs: dict[int, Job]

    def stats(self, spans, window: tuple[float, float] | None = None) -> GroupStats:
        """Totals over the jobs run under the spans' job groups; with a
        ``window`` (epoch seconds) also over jobs submitted in it under no
        group of ours, e.g. a streaming query's micro-batches, which Spark
        runs under the query's own group."""
        groups = {s.group for s in spans}
        out = GroupStats()
        for job in self.jobs.values():
            mine = job.group in groups
            stray = (
                window is not None
                and not (job.group or "").startswith(GROUP_PREFIX)
                and window[0] <= job.submitted <= window[1]
            )
            if mine or stray:
                out.add(job.stats)
        return out


def read_event_log(log_dir: Path) -> EventLog:
    """Every job with its group, submission time and the totals of its
    completed stages and their tasks."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    python_stages: set[int] = set()
    # accumulator ids of the file-scan nodes' "files read" / "output rows";
    # "files read" is a driver-side metric, posted per SQL execution before
    # the execution's first job starts
    scan_metric: dict[int, str] = {}
    exec_job: dict[int, Job] = {}
    driver_updates: list[tuple[int, int, int]] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000.0)
                job.stats.jobs = 1
                jobs[ev["Job ID"]] = job
                if "spark.sql.execution.id" in props:
                    exec_job.setdefault(int(props["spark.sql.execution.id"]), job)
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job
                for info in ev.get("Stage Infos", []):
                    if any(op in json.dumps(info.get("RDD Info", [])) for op in _PYTHON_OPS):
                        python_stages.add(info["Stage ID"])
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _scan_metrics(ev["sparkPlanInfo"], scan_metric)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates.extend((ev["executionId"], a, v) for a, v in ev["accumUpdates"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                job = stage_job.get(info["Stage ID"])
                if job is None:
                    continue
                g = job.stats
                g.stages += 1
                for acc in info.get("Accumulables", []):
                    field_name = scan_metric.get(acc.get("ID"))
                    if field_name is not None:
                        setattr(g, field_name, getattr(g, field_name) + int(acc["Value"]))
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                g = job.stats
                g.tasks += 1
                run_s = m["Executor Run Time"] / 1000.0
                g.executor_run_s += run_s
                g.executor_cpu_s += m["Executor CPU Time"] / 1e9
                if ev["Stage ID"] in python_stages:
                    g.python_stage_s += run_s
                sr = m.get("Shuffle Read Metrics", {})
                g.shuffle_read_mb += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
                g.shuffle_write_mb += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                ) / 2**20
                g.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
                g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                info = ev["Task Info"]
                duration = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                g.scheduler_delay_s += max(
                    0.0,
                    duration
                    - run_s
                    - m.get("Executor Deserialize Time", 0) / 1000.0
                    - m.get("Result Serialization Time", 0) / 1000.0
                    - info.get("Getting Result Time", 0) / 1000.0,
                )
    for exec_id, acc, value in driver_updates:
        field_name, job = scan_metric.get(acc), exec_job.get(exec_id)
        if field_name is not None and job is not None:
            setattr(job.stats, field_name, getattr(job.stats, field_name) + int(value))
    return EventLog(jobs)


def _scan_metrics(node: dict, out: dict[int, str]) -> None:
    if node.get("nodeName", "").startswith(("Scan ", "FileScan", "BatchScan")):
        for m in node.get("metrics", []):
            if m["name"] == "number of files read":
                out[m["accumulatorId"]] = "files_read"
            elif m["name"] == "number of output rows":
                out[m["accumulatorId"]] = "rows_scanned"
    for child in node.get("children", []):
        _scan_metrics(child, out)
