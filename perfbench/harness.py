"""Closed-loop driver shared by the workloads: one client issues the next
request only when the previous one has returned.

In a traced run (``--trace 1``) whole request cycles alternate between
traced and untraced, so one run yields both the per-layer numbers (from
the traced cycles) and the tracing overhead (traced minus untraced
median latency).  Counters are read from Spark's status stores between
requests, outside the timed region.
"""

from __future__ import annotations

import os
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from tracing import Tracer, median
from sparkstats import SparkStats, python_metrics


@dataclass
class Op:
    """One request; ``run(ctx)`` returns its response."""

    cycle: int
    kind: str
    run: object
    params: dict = field(default_factory=dict)


@dataclass
class OpRecord:
    kind: str
    latency_s: float
    rows: int
    traced: bool
    params: dict
    result: object = None
    failed: bool = False
    cycle: int = 0
    layer: dict = field(default_factory=dict)


class Ctx:
    def __init__(self, spark, work: str, trace: bool, cores: int):
        self.spark = spark
        self.work = work
        self.trace = trace
        self.cores = cores
        self.tracer = Tracer(enabled=False)
        self.stats = SparkStats(spark) if trace else None
        self.records: list[OpRecord] = []
        self._groups: list[str] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        """A layer span; with ``jobs`` the Spark jobs started inside it
        (and not inside a child span with its own group) are attributed
        to it through a job group."""
        with self.tracer.span(name, **attrs) as s:
            if s is None or not jobs:
                yield s
                return
            sc = self.spark.sparkContext
            group = f"r{s.rid}.s{s.sid}"
            s.attrs["group"] = group
            self._groups.append(group)
            sc.setJobGroup(group, name)
            try:
                yield s
            finally:
                self._groups.pop()
                if self._groups:
                    sc.setJobGroup(self._groups[-1], "parent")

    def span_jobs(self, s) -> list[int]:
        return self.stats.jobs_of([s.attrs["group"]]) if "group" in s.attrs else []

    def op_spans(self, rid: int):
        return [s for s in self.tracer.spans if s.rid == rid]


def run_loop(ctx: Ctx, ops, seconds: float, rows_of, derive) -> float:
    """Run ``ops`` until ``seconds`` have passed; returns the measured wall
    time.  After each request, outside its timing, ``rows_of(rec)`` counts
    the rows it returned or accepted and, for a traced request,
    ``derive(ctx, rec, spans)`` fills ``rec.layer``."""
    sc = ctx.spark.sparkContext
    t_start = time.perf_counter()
    deadline = t_start + seconds
    for op in ops:
        traced = ctx.trace and op.cycle % 2 == 0
        ctx.tracer.enabled = traced
        ctx.tracer.rid += 1
        t0 = time.perf_counter()
        result, failed = None, False
        try:
            with ctx.span("op", jobs=True, kind=op.kind):
                result = op.run(ctx)
        except Exception:
            # a failed request is counted, not fatal: the loop keeps going
            traceback.print_exc()
            failed = True
        lat = time.perf_counter() - t0
        ctx.tracer.enabled = False
        rec = OpRecord(op.kind, lat, 0, traced, op.params, result, failed,
                       op.cycle)
        ctx.records.append(rec)
        if not failed:
            rec.rows = rows_of(rec)
        if traced and not failed:
            sc.setJobGroup("idle", "between requests")
            ctx.stats.drain()
            derive(ctx, rec, ctx.op_spans(ctx.tracer.rid))
        if time.perf_counter() >= deadline:
            break
    return time.perf_counter() - t_start


def whole_cycles(records: list[OpRecord], cycle_len: int) -> list[OpRecord]:
    """The requests of the cycles that completed before the loop stopped
    (all requests if none did).  Every cycle has the same composition, so
    figures over whole cycles do not depend on which requests of a
    partial last cycle happened to fit."""
    counts: dict[int, int] = {}
    for r in records:
        counts[r.cycle] = counts.get(r.cycle, 0) + 1
    done = [r for r in records if counts[r.cycle] == cycle_len]
    return done or records


def op_layer_common(ctx: Ctx, rec: OpRecord, spans, result_rows: int,
                    dfs: list) -> dict:
    """Layer metrics every request has: catalog, execution, Python kernels
    (from the executed plans of ``dfs``) and trace bookkeeping."""
    root = next(s for s in spans if s.name == "op")
    wall_ms = root.dur * 1000.0
    groups = [s.attrs["group"] for s in spans if "group" in s.attrs]
    ex = ctx.stats.exec_stats(ctx.stats.jobs_of(groups))
    cat = [s for s in spans if s.name == "catalog.load"]
    py = dict.fromkeys(("bytes_sent", "bytes_received", "rows"), 0)
    for df in dfs:
        for k, v in python_metrics(df).items():
            py[k] += v
    out = {
        "catalog.load_ms": sum(s.dur for s in cat) * 1000.0,
        "catalog.calls": len(cat),
        "catalog.jobs": sum(len(ctx.span_jobs(s)) for s in cat),
        "exec.jobs": ex.jobs,
        "exec.stages": ex.stages,
        "exec.tasks": ex.tasks,
        "exec.executor_run_ms": ex.executor_run_ms,
        "exec.gc_ms": ex.gc_ms,
        "exec.idle_share": 1.0 - ex.executor_run_ms / (wall_ms * ctx.cores),
        "exec.shuffle_read_bytes": ex.shuffle_read_bytes,
        "exec.shuffle_write_bytes": ex.shuffle_write_bytes,
        "exec.spill_bytes": ex.spill_bytes,
        "exec.input_rows_per_result_row": ex.input_rows / max(1, result_rows),
        "python.bytes_sent": py["bytes_sent"],
        "python.bytes_received": py["bytes_received"],
        "python.rows": py["rows"],
        "trace.unattributed_share": ctx.tracer.self_time(root) / root.dur,
        "trace.spans": len(spans),
    }
    return out


def job_free_ms(ctx: Ctx, s) -> float:
    """A span's wall time minus the wall time of the Spark jobs it ran."""
    return max(0.0, s.dur * 1000.0 - ctx.stats.job_ms(ctx.span_jobs(s)))


def layer_medians(records: list[OpRecord], names: list[str]) -> dict[str, float]:
    """Per-layer metric = median over the traced requests that exercised
    the layer (0 when none did)."""
    out = {}
    for n in names:
        vals = [r.layer[n] for r in records if r.traced and n in r.layer]
        out[n] = float(median(vals)) if vals else 0.0
    return out


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) of the parquet files under ``path``."""
    total = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dp, f))
                files += 1
    return total, files
