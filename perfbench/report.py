"""Metric computation: end-to-end metrics from the untraced passes, and
per-layer metrics from the traced passes (spans, jobs, SQL executions).

Per-layer values are means per operation (a registry key, or one ingest
micro-batch) unless the name says otherwise. See README.md.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass

import tracer
import workloads

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
}

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "queries.build_s": ("s", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "queries.exec_s": ("s", "lower"),
    "queries.exec_jobs": ("count", "lower"),
    **{f"{layer}.self_s": ("s", "lower") for layer in tracer.LAYERS},
    **{f"{layer}.jobs": ("count", "lower") for layer in tracer.LAYERS},
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "scan.time_s": ("s", "lower"),
    "scan.bytes": ("bytes", "lower"),
    "exchange.shuffle_bytes": ("bytes", "lower"),
    "exchange.shuffle_records": ("count", "lower"),
    "exchange.fetch_wait_s": ("s", "lower"),
    "exchange.broadcast_build_s": ("s", "lower"),
    "operator.codegen_s": ("s", "lower"),
    "operator.agg_build_s": ("s", "lower"),
    "operator.peak_mem_mb": ("MB", "lower"),
    "operator.spill_bytes": ("bytes", "lower"),
    "python.worker_s": ("s", "lower"),
    "python.bytes_sent": ("bytes", "lower"),
    "python.bytes_returned": ("bytes", "lower"),
    "sink.files_written": ("count", "lower"),
    "sink.bytes_written": ("bytes", "lower"),
    "sink.commit_s": ("s", "lower"),
    "operators.maintenance.rows_offered": ("rows", "higher"),
    "operators.maintenance.rows_inserted": ("rows", "higher"),
    "operators.maintenance.insert_ratio": ("fraction", "higher"),
    "streaming.jobs_per_batch": ("count", "lower"),
    "streaming.trigger_overhead_s": ("s", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.spans": ("count", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.read_s": ("s", "lower"),
    "memory.peak_rss_mb": ("MB", "lower"),
    "setup.session_s": ("s", "lower"),
    "setup.warmup_s": ("s", "lower"),
    "error_rate": ("fraction", "lower"),
}


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def pass_wall_s(passes) -> float:
    """One pass over the workload's operations, as the sum of each
    operation's median latency over the passes."""
    return sum(workloads.key_medians(passes).values()) or statistics.median(p.wall for p in passes)


def end_to_end(passes, setup_s: float) -> dict:
    medians = list(workloads.key_medians(passes).values()) or [p.wall for p in passes]
    values = {
        "setup_s": setup_s,
        "wall_s": pass_wall_s(passes),
        "query_p50_s": statistics.median(medians),
    }
    return {k: _m(v, END_TO_END[k]) for k, v in values.items()}


@dataclass
class TracedRun:
    workload: object
    rec: tracer.Recorder
    passes: list
    jobs: list
    executions: list
    read_s: float
    span_cost_s: float

    def dump(self, path: str) -> None:
        self.rec.dump(path)

    def metrics(self, session_s: float, warmup_s: float, rss_mb: float, error_rate: float) -> dict:
        ops = [op for p in self.passes for op in p.ops if op.error is None]
        n = max(len(ops), 1)

        def op_of(t: float):
            for op in ops:
                if op.start - 0.001 <= t <= op.end + 0.001:
                    return op
            return None

        v: dict[str, float] = {name: 0.0 for name in PER_LAYER}
        jobs = [(j, op_of(j.submitted)) for j in self.jobs]
        jobs = [(j, op) for j, op in jobs if op is not None]
        v["spark.jobs"] = len(jobs) / n
        v["spark.stages"] = sum(j.stages for j, _ in jobs) / n
        v["spark.tasks"] = sum(j.tasks for j, _ in jobs) / n
        for j, _ in jobs:
            span = self.rec.innermost(j.submitted)
            if span is not None and span.layer in tracer.LAYERS:
                v[f"{span.layer}.jobs"] += 1 / n
        for s in self.rec.spans:
            if s.layer in tracer.LAYERS:
                v[f"{s.layer}.self_s"] += s.self_s / n

        query_ops = [op for op in ops if op.build_end]
        if query_ops:
            v["queries.build_s"] = sum(op.build_end - op.start for op in query_ops) / n
            v["queries.exec_s"] = sum(op.end - op.build_end for op in query_ops) / n
            v["queries.build_jobs"] = sum(1 for j, op in jobs if j.submitted <= op.build_end) / n
            v["queries.exec_jobs"] = sum(1 for j, op in jobs if j.submitted > op.build_end) / n

        per_op_peak: dict[int, float] = {}
        for ex in self.executions:
            op = op_of(ex.submitted)
            if op is None:
                continue
            for name, value in ex.metrics.items():
                if name == "operator.peak_mem_mb":
                    per_op_peak[id(op)] = max(per_op_peak.get(id(op), 0.0), value)
                else:
                    v[name] += value / n
        v["operator.peak_mem_mb"] = sum(per_op_peak.values()) / n

        batches = [op for op in ops if "add_batch_s" in op.extra]
        if batches:
            v["streaming.jobs_per_batch"] = len(jobs) / len(batches)
            v["streaming.trigger_overhead_s"] = statistics.mean(
                op.latency - op.extra["add_batch_s"] for op in batches)
            offered = self.workload.expect.readings_offered * len(self.passes)
            inserted = sum(s.result or 0 for s in self.rec.spans if s.name == "idempotent_append")
            v["operators.maintenance.rows_offered"] = offered
            v["operators.maintenance.rows_inserted"] = inserted
            v["operators.maintenance.insert_ratio"] = inserted / offered if offered else 0.0

        v["trace.wall_s"] = pass_wall_s(self.passes)
        v["trace.spans"] = len(self.rec.spans) / n
        v["trace.overhead_s"] = len(self.rec.spans) * self.span_cost_s / len(self.passes)
        v["trace.read_s"] = self.read_s
        v["memory.peak_rss_mb"] = rss_mb
        v["setup.session_s"] = session_s
        v["setup.warmup_s"] = warmup_s
        v["error_rate"] = error_rate
        return {k: _m(val, PER_LAYER[k][0]) for k, val in v.items()}


def span_cost_s(samples: int = 20000) -> float:
    """Time one wrapped call adds over a plain call, in this process."""

    def noop():
        return None

    rec = tracer.Recorder()
    traced = rec._wrap(noop, "bench")
    t = time.perf_counter()
    for _ in range(samples):
        noop()
    plain = time.perf_counter() - t
    t = time.perf_counter()
    for _ in range(samples):
        traced()
    return max(0.0, (time.perf_counter() - t - plain) / samples)


def traced_passes(spark, wl, data_dir: str, seconds: float) -> TracedRun:
    """Whole passes with spans recorded until ``seconds`` have passed,
    then one read of the status stores, outside the timed region."""
    last_exec, last_job = tracer.last_execution_id(spark), tracer.last_job_id(spark)
    rec = tracer.Recorder()
    rec.wrap_layers()
    try:
        passes = workloads.run_passes(spark, wl, data_dir, seconds, rec)
    finally:
        rec.unwrap()
    t = time.time()
    jobs = tracer.read_jobs(spark, last_job)
    executions = tracer.read_executions(spark, last_exec)
    run = TracedRun(wl, rec, passes, jobs, executions, time.time() - t, span_cost_s())
    ops = [op for p in passes for op in p.ops]
    for s in rec.spans:
        s.op = next((i for i, op in enumerate(ops) if op.start - 0.001 <= s.start <= op.end + 0.001), None)
    if hasattr(wl, "replay_batches"):  # rows each micro-batch inserted, for the replay check
        for p in passes:
            batch_of = {id(op): op.extra.get("batch_id") for op in p.ops}
            p.extra["inserted_by_batch"] = {
                batch_of[id(ops[s.op])]: s.result or 0
                for s in rec.spans
                if s.name == "idempotent_append" and s.op is not None and id(ops[s.op]) in batch_of
            }
            p.extra["replay_batches"] = wl.replay_batches()
    return run
