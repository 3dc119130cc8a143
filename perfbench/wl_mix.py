"""tick_mix: the tick store under a read/write mix.

Each cycle is one tick_serve request cycle (7 key-addressed reads of a
static saved table) followed by one tick_ingest pack cycle into a second
table: COMPACT_EVERY batches (upsert, versioned write, rollup read-back),
the last of which also packs.  Aligning the pack with the cycle keeps
``write_amp`` the same whatever the number of cycles a run completes.
The two tables are independent, so each side keeps its own output
checks.

Why one workload and not two: a run pays ~30 s of JVM start, set-up and
warm-up before it measures anything, and the benchmark must fit its
runs into a fixed time budget.  Folding the two tick workloads into one
run buys each run twice the measured time.  The reads dominate the
request count, so ``latency_p50_ms`` is the serve floor; the batches
dominate the rows, so ``rows_per_s`` and ``write_amp`` are the ingest
side.
"""

from __future__ import annotations

import itertools

import gen
from wl_ingest import COMPACT_EVERY, TickIngest
from wl_serve import TickServe


class TickMix:
    name = "tick_mix"
    cycle_len = len(gen.SERVE_CYCLE) + COMPACT_EVERY

    def __init__(self, seed: int):
        self.serve = TickServe(seed)
        self.ingest = TickIngest(seed)

    def _side(self, rec):
        return self.ingest if rec.kind == "batch" else self.serve

    def setup_once(self, ctx, rep: int) -> None:
        self.serve.setup_once(ctx, rep)
        self.ingest.setup_once(ctx, rep)

    def warmup_ops(self):
        return self.serve.warmup_ops() + self.ingest.warmup_ops()

    def ops(self):
        reads, batches = self.serve.ops(), self.ingest.ops()
        for cycle in itertools.count():
            for op in [*itertools.islice(reads, len(gen.SERVE_CYCLE)),
                       *itertools.islice(batches, COMPACT_EVERY)]:
                op.cycle = cycle
                yield op

    def rows_of(self, rec) -> int:
        return self._side(rec).rows_of(rec)

    def derive(self, ctx, rec, spans) -> None:
        self._side(rec).derive(ctx, rec, spans)

    def precheck(self) -> None:
        """Nothing to precompute: the checks need the run's responses."""

    def check(self, records) -> int:
        return (self.serve.check([r for r in records if r.kind != "batch"])
                + self.ingest.check([r for r in records if r.kind == "batch"]))

    def amplification(self) -> tuple[float, float]:
        """The ingest table's: the read table is written once at set-up."""
        return self.ingest.amplification()
