"""Benchmark entry point.

    python3 perfbench/run.py --workload tick_mix --seed 1 --seconds 20 --trace 0

Run from the repository root.  One process, one client, a closed loop
for ``--seconds``.  With ``--trace 0`` the last stdout line is a JSON
object carrying every end-to-end metric; with ``--trace 1`` it carries the
per-layer metrics (see README.md).  Earlier stdout lines are a readable
summary that names every metric with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# one table size per workload; more cores than this only add scheduling noise
CORES = min(4, os.cpu_count() or 1)
SETUP_REPS = 3
HEAP = "1g"

END_TO_END = [
    ("setup_s", "s"), ("throughput_ops_s", "1/s"), ("rows_per_s", "1/s"),
    ("latency_p50_ms", "ms"), ("write_amp", "ratio"), ("space_amp", "ratio"),
    ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("catalog.load_ms", "ms"), ("catalog.calls", "count"),
    ("catalog.jobs", "count"), ("engine.build_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("exec.jobs", "count"),
    ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.executor_run_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.idle_share", "ratio"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.input_rows_per_result_row", "ratio"),
    ("python.bytes_sent", "bytes"), ("python.bytes_received", "bytes"),
    ("python.rows", "count"), ("prep.build_ms", "ms"),
    ("render.self_ms", "ms"), ("render.bytes_per_row", "bytes"),
    ("collect.transfer_ms", "ms"), ("write.upsert_build_ms", "ms"),
    ("write.s", "s"), ("write.bytes", "bytes"), ("write.files", "count"),
    ("replay.rows", "count"), ("compact.s", "s"),
    ("compact.bytes_rewritten", "bytes"), ("compact.files_before", "count"),
    ("compact.files_after", "count"), ("rollup.ohlcv_ms", "ms"),
    ("trace.overhead_ms", "ms"), ("trace.unattributed_share", "ratio"),
    ("trace.spans", "count"),
]


WORKLOADS = ["tick_mix", "prep_batch", "tick_serve", "tick_ingest"]


def workload_class(name: str):
    """``tick_mix`` and ``prep_batch`` are the workloads BENCHMARK.json
    runs; ``tick_serve`` and ``tick_ingest`` are the two halves of
    ``tick_mix`` on their own, for focused runs."""
    from wl_ingest import TickIngest
    from wl_mix import TickMix
    from wl_prep import PrepBatch
    from wl_serve import TickServe

    return {c.name: c for c in (TickMix, PrepBatch, TickServe, TickIngest)}[name]


def start_spark(work: str):
    from ago_sisdb_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            # A fixed, pre-touched heap: peak_rss_mb then moves with what
            # lives outside the Java heap (Python, workers, native memory)
            # instead of with when the collector chose to grow the heap.
            # C1-only JIT: with C2 the request path keeps being recompiled
            # for ~40 s, longer than a run can warm up, and latencies drift
            # down through the measured window; C1 is flat after warm-up.
            "spark.driver.memory": HEAP,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Duser.timezone=UTC "
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def trace_catalog(ctx) -> None:
    """Wrap ``catalog.load_table`` (which ``Catalog.load`` resolves at call
    time) in a span, so catalog loads inside engine calls are attributed."""
    import ago_sisdb_spark.catalog as cat

    orig = cat.load_table

    def load_table(spark, root, name):
        with ctx.span("catalog.load", jobs=True):
            return orig(spark, root, name)

    cat.load_table = load_table


def e2e_metrics(wl, records, setup_s: float, peak_mb: float):
    """End-to-end metrics over the whole request cycles of the loop, and
    the latency tail over every request.  Rates divide by the time spent
    in requests (one client, so the client's own bookkeeping between
    requests is left out)."""
    from harness import whole_cycles
    from tracing import median, tail

    done = whole_cycles(records, wl.cycle_len)
    ok = [r for r in done if not r.failed]
    lat_ms = [r.latency_s * 1000.0 for r in ok]
    busy = sum(r.latency_s for r in done)
    write_amp, space_amp = wl.amplification()
    t = tail([r.latency_s * 1000.0 for r in records if not r.failed])
    return {
        "setup_s": setup_s,
        "throughput_ops_s": len(ok) / busy,
        "rows_per_s": sum(r.rows for r in ok) / busy,
        "latency_p50_ms": median(lat_ms),
        "write_amp": write_amp,
        "space_amp": space_amp,
        "peak_rss_mb": peak_mb,
    }, t


def cpu_times() -> list[int]:
    """Host-wide jiffies (user nice system idle iowait irq softirq steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


class Background(threading.Thread):
    """Runs ``fn`` beside the un-measured warm-up; ``join`` re-raises."""

    def __init__(self, fn):
        super().__init__(daemon=True)
        self.fn, self.error = fn, None
        self.start()

    def run(self) -> None:
        try:
            self.fn()
        except BaseException as e:  # re-raised in the main thread by join
            self.error = e

    def join(self, timeout=None) -> None:
        super().join(timeout)
        if self.error is not None:
            raise self.error


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    import ago_sisdb_spark  # noqa: F401  (fails fast outside a checkout)

    from harness import Ctx, layer_medians, run_loop
    from tracing import RssSampler, median

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(work)
            session_s = time.perf_counter() - t0
            ctx = Ctx(spark, work, bool(args.trace), CORES)
            wl = workload_class(args.workload)(args.seed)
            reps = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup_once(ctx, rep)
                reps.append(time.perf_counter() - t0)
            setup_s = session_s + statistics.median(reps)
            if args.trace:
                trace_catalog(ctx)
            t0 = time.perf_counter()
            pre = Background(wl.precheck)
            for op in wl.warmup_ops():
                op.run(ctx)
            warmup_s = time.perf_counter() - t0
            pre.join()
            cpu0 = cpu_times()
            wall = run_loop(ctx, wl.ops(), args.seconds, wl.rows_of, wl.derive)
            cpu1 = cpu_times()
        records = ctx.records
        t0 = time.perf_counter()
        mismatches = wl.check([r for r in records if not r.failed])
        check_s = time.perf_counter() - t0
        failed = sum(r.failed for r in records)
        e2e, tl = e2e_metrics(wl, records, setup_s, rss.peak_mb)

        units = dict(END_TO_END + PER_LAYER)
        print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} "
              f"trace={args.trace} cores={CORES} requests={len(records)}")
        for name, value in e2e.items():
            print(f"{name:34s} {value:14.4f} {units[name]}")
        if tl is None:
            print(f"{'latency_tail_ms':34s} {'n/a':>14s} ms  "
                  f"(n={len(records)}: no percentile has 10 samples beyond it)")
        else:
            print(f"{'latency_tail_ms':34s} {tl[0]:14.4f} ms  "
                  f"(p{tl[1]:g} of n={len(records)}, {tl[2]} beyond)")
        print(f"{'error_rate':34s} {failed / max(1, len(records)):14.4f} ratio")
        print(f"{'mismatches':34s} {mismatches:14d} count")
        print(f"# phases: session {session_s:.1f} s, setup reps "
              f"{', '.join(f'{r:.1f}' for r in reps)} s, warm-up {warmup_s:.1f} s, "
              f"measured {wall:.1f} s, checks {check_s:.1f} s")
        busy = [b - a for a, b in zip(cpu0, cpu1)]
        print(f"# host during the measured loop: {busy[7] / max(1, sum(busy)):.1%} "
              f"cpu steal, {1 - (busy[3] + busy[4]) / max(1, sum(busy)):.1%} busy")

        if args.trace:
            layer = layer_medians(records, [n for n, _ in PER_LAYER])
            traced = [r.latency_s for r in records if r.traced and not r.failed]
            plain = [r.latency_s for r in records if not r.traced and not r.failed]
            layer["session.start_s"] = session_s
            layer["session.warmup_s"] = warmup_s
            layer["trace.overhead_ms"] = (
                (median(traced) - median(plain)) * 1000.0 if traced and plain else 0.0)
            for name, value in layer.items():
                print(f"{name:34s} {value:14.4f} {units[name]}")
            runs = os.path.join(HERE, ".runs")
            os.makedirs(runs, exist_ok=True)
            ctx.tracer.dump(os.path.join(
                runs, f"{args.workload}-seed{args.seed}-spans.jsonl"))
            metrics = layer
        else:
            metrics = e2e
        print(json.dumps({
            "correct": mismatches == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
