"""Span recorder and Spark status-store reader for the traced run.

Spans come from the benchmark's own code: :meth:`Recorder.wrap_layers`
replaces the public functions of the named package modules with thin
wrappers, by setting module attributes in this process (and every alias
of the same function object in other package modules, such as the
``load`` that ``queries`` imports from ``sources``). Nothing in the
package is edited. Spans stay in memory; :meth:`Recorder.dump` writes
them out once.

After a traced pass, :func:`read_jobs` and :func:`read_executions` read
what Spark recorded: jobs from the core status store's ``jobsList``, and
per-execution operator metrics from the SQL status store. Both work with
``spark.ui.enabled=false``. Each job and execution is attributed to the
innermost span open at its submission time.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PACKAGE = "metrocloud_data_pipeline_spark"

# Layer names are the package's module names.
LAYERS = (
    "queries",
    "llm.text",
    "llm.similarity",
    "llm.dedup",
    "llm.curation",
    "operators.analytics",
    "operators.temporal",
    "operators.observability",
    "operators.ingest",
    "operators.maintenance",
    "operators.quality",
    "functions.partitioning",
    "sources",
    "streaming.pipeline",
)


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    op: int | None = None
    result: int | None = None  # integer return values (rows inserted)
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return max(0.0, self.end - self.start - self.children_s)


class Recorder:
    """In-memory span store; one per traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, layer: str, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            span = Span(len(self.spans), layer, name, stack[-1].sid if stack else None,
                        threading.get_ident(), time.time())
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        stack.pop()
        if stack:
            stack[-1].children_s += span.end - span.start

    @contextmanager
    def span(self, layer: str, name: str):
        s = self.open(layer, name)
        try:
            yield s
        finally:
            self.close(s)

    def _wrap(self, fn, layer: str):
        rec = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = rec.open(layer, fn.__name__)
            try:
                out = fn(*args, **kwargs)
            finally:
                rec.close(span)
            if isinstance(out, int) and not isinstance(out, bool):
                span.result = out
            return out

        return traced

    def wrap_layers(self, layers=LAYERS) -> int:
        """Wrap every public function defined in each layer's module (or
        package), and rebind every alias of it in loaded package modules.
        Returns the number of functions wrapped."""
        mods = {n: m for n, m in sys.modules.items() if n.startswith(PACKAGE) and m is not None}
        wrapped: dict[int, object] = {}
        for layer in layers:
            prefix = f"{PACKAGE}.{layer}"
            for mod_name, mod in mods.items():
                if mod_name != prefix and not mod_name.startswith(prefix + "."):
                    continue
                for name, fn in inspect.getmembers(mod, inspect.isfunction):
                    if name.startswith("_") or fn.__module__ != mod_name or id(fn) in wrapped:
                        continue
                    wrapped[id(fn)] = self._wrap(fn, layer)
        for mod in mods.values():
            for name, value in list(vars(mod).items()):
                if id(value) in wrapped and inspect.isfunction(value):
                    self._patched.append((mod, name, value))
                    setattr(mod, name, wrapped[id(value)])
        return len(wrapped)

    def unwrap(self) -> None:
        for mod, name, value in reversed(self._patched):
            setattr(mod, name, value)
        self._patched.clear()

    def innermost(self, t: float) -> Span | None:
        """The innermost span open at wall-clock time ``t`` (ms resolution)."""
        best = None
        for s in self.spans:
            if s.start - 0.001 <= t <= s.end + 0.001 and (best is None or s.start >= best.start):
                best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# --- status store ---------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submitted: float
    stages: int
    tasks: int


def drain_listener_bus(spark) -> None:
    """Block until the status listeners have seen every posted event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def read_jobs(spark, after_job_id: int) -> list[Job]:
    """Jobs with an id above ``after_job_id``, oldest first."""
    drain_listener_bus(spark)
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)  # newest first
    jobs = []
    for i in range(seq.size()):
        j = seq.apply(i)
        jid = j.jobId()
        if jid <= after_job_id:
            break
        sub = j.submissionTime()
        jobs.append(Job(
            jid,
            sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
            j.stageIds().size() - j.numSkippedStages(),
            j.numTasks() - j.numSkippedTasks(),
        ))
    return jobs[::-1]


def last_job_id(spark) -> int:
    drain_listener_bus(spark)
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return seq.apply(0).jobId() if seq.size() else -1


# SQL metric name -> (per-layer metric, kind). "max" keeps the largest
# value seen; everything else is summed.
SQL_METRICS = {
    "scan time": ("scan.time_s", "time"),
    "size of files read": ("scan.bytes", "size"),
    "shuffle bytes written": ("exchange.shuffle_bytes", "size"),
    "shuffle records written": ("exchange.shuffle_records", "count"),
    "fetch wait time": ("exchange.fetch_wait_s", "time"),
    "time to build": ("exchange.broadcast_build_s", "time"),
    "duration": ("operator.codegen_s", "time"),
    "time in aggregation build": ("operator.agg_build_s", "time"),
    "peak memory": ("operator.peak_mem_mb", "max"),
    "spill size": ("operator.spill_bytes", "size"),
    "time to run Python workers": ("python.worker_s", "time"),
    "data sent to Python workers": ("python.bytes_sent", "size"),
    "data returned from Python workers": ("python.bytes_returned", "size"),
    "number of written files": ("sink.files_written", "count"),
    "written output": ("sink.bytes_written", "size"),
    "task commit time": ("sink.commit_s", "time"),
    "job commit time": ("sink.commit_s", "time"),
}
SQL_LAYER_METRICS = sorted({m for m, _ in SQL_METRICS.values()})

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4, "PiB": 1024**5}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric_value(text: str) -> float:
    """Parse one rendered SQL metric value: a single value ("12.3 KiB",
    "403 ms", "1,234") or the multi-task form whose first line is
    "total (min, med, max ...)" and whose second line starts with the
    total. Sizes come back in bytes, times in seconds."""
    lines = [ln for ln in text.strip().split("\n") if ln.strip()]
    if lines and lines[0].startswith("total ("):
        lines = lines[1:]
    m = _NUM.match(lines[0].strip()) if lines else None
    if m is None:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    if unit:
        raise ValueError(f"unknown unit {unit!r} in SQL metric value {text!r}")
    return num


_DOT_LABEL = re.compile(r'label="(.*?)"(?: tooltip=|\];|;)')
_MULTI = re.compile(r"^(.*?):? total \(min, med, max")


def _dot_metrics(dot: str):
    """(metric name, rendered value) pairs from a plan graph's DOT text.

    SparkPlanGraph renders each metric as "name: value", or, when
    several tasks ran, as "name total (min, med, max ...)" followed by a
    line of values (codegen clusters write "name: total (...)")."""
    for label in _DOT_LABEL.findall(dot):
        lines = label.encode().decode("unicode_escape").replace("<br>", "\n").split("\n")
        i = 0
        while i < len(lines):
            m = _MULTI.match(lines[i])
            if m and i + 1 < len(lines):
                yield m.group(1), "total (\n" + lines[i + 1]
                i += 2
                continue
            if ": " in lines[i]:
                yield tuple(lines[i].split(": ", 1))
            i += 1


@dataclass
class Execution:
    execution_id: int
    submitted: float
    metrics: dict[str, float] = field(default_factory=dict)


def read_executions(spark, after_execution_id: int) -> list[Execution]:
    """SQL executions with an id above ``after_execution_id``, each with
    its operator metrics rolled up into the per-layer names."""
    drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    seq = store.executionsList()  # oldest first
    out = []
    for i in reversed(range(seq.size())):
        e = seq.apply(i)
        eid = e.executionId()
        if eid <= after_execution_id:
            break
        dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
        ex = Execution(eid, e.submissionTime() / 1000.0)
        for name, value in _dot_metrics(dot):
            if name not in SQL_METRICS:
                continue
            metric, kind = SQL_METRICS[name]
            v = parse_metric_value(value)
            if kind == "max":
                ex.metrics[metric] = max(ex.metrics.get(metric, 0.0), v / 1024**2)
            else:
                ex.metrics[metric] = ex.metrics.get(metric, 0.0) + v
        out.append(ex)
    return out[::-1]


def last_execution_id(spark) -> int:
    drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    seq = store.executionsList()
    return seq.apply(seq.size() - 1).executionId() if seq.size() else -1
