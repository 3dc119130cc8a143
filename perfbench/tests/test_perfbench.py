"""Unit tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import io
import itertools
import json
import os
import random
import re
import time

import pyarrow as pa

import gen
import run
from tracing import RssSampler, Tracer, percentile, samples_beyond, tail, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _ipc(df) -> bytes:
    table = pa.Table.from_pandas(df, preserve_index=False)
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


def _inputs(seed: int) -> list[bytes]:
    base = gen.events_frame(seed, 2_000, 3, "s")
    batches = gen.TickBatches(seed, base)
    reqs = list(itertools.islice(gen.serve_requests(seed), 50))
    return [
        _ipc(gen.events_frame(seed, 2_000, 3, "ms")),
        json.dumps(reqs, sort_keys=True).encode(),
        _ipc(base),
        *[_ipc(batches.next()) for _ in range(3)],
        _ipc(gen.corpus_frame(seed, 300)),
    ]


def test_same_seed_gives_byte_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_different_seeds_give_different_inputs():
    a, b = _inputs(7), _inputs(8)
    assert all(x != y for x, y in zip(a, b))


def test_request_mix_has_fixed_composition_per_cycle():
    per = len(gen.SERVE_CYCLE)
    reqs = list(itertools.islice(gen.serve_requests(3), per * 5))
    for c in range(5):
        kinds = sorted(r["kind"] for r in reqs[c * per:(c + 1) * per])
        assert kinds == sorted(gen.SERVE_CYCLE)


def test_tick_batches_never_repeat_a_key_within_a_batch():
    batches = gen.TickBatches(5, gen.events_frame(5, 2_000, 3, "s"))
    for _ in range(5):
        b = batches.next()
        assert not b.duplicated(["user_id", "ts"]).any()
        assert b["event_id"].is_unique


def test_metric_names_and_units_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    produced = [n for n, _ in run.END_TO_END + run.PER_LAYER]
    assert sorted(listed) == sorted(produced)
    assert len(set(produced)) == len(produced)
    for name, unit in run.END_TO_END + run.PER_LAYER:
        assert NAME.fullmatch(name), name
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit


def test_tail_percentile_keeps_ten_samples_beyond():
    rng = random.Random(1)
    for n in range(1, 400):
        values = [rng.choice([rng.random(), round(rng.random(), 1)]) for _ in range(n)]
        got = tail(values)
        if n <= 10:
            assert got is None and tail_percentile(n) is None
            continue
        if got is None:
            continue
        value, p, beyond = got
        assert beyond >= 10
        assert value == percentile(values, p)
        assert samples_beyond(values, p) == beyond


def test_tail_percentile_is_the_highest_such_percentile():
    values = list(range(100))
    value, p, beyond = tail(values)
    assert (p, beyond) == (90.0, 10)
    assert samples_beyond(values, p + 0.1) < 10


def test_span_self_times_are_non_negative_and_nest():
    tr = Tracer(enabled=True)
    with tr.span("op"):
        with tr.span("a"):
            time.sleep(0.002)
            with tr.span("a1"):
                time.sleep(0.002)
        with tr.span("b"):
            time.sleep(0.002)
    by = {s.name: s for s in tr.spans}
    assert by["op"].parent is None
    assert by["a"].parent == by["op"].sid and by["b"].parent == by["op"].sid
    assert by["a1"].parent == by["a"].sid
    for s in tr.spans:
        assert tr.self_time(s) >= 0
        if s.parent is not None:
            p = tr.spans[s.parent]
            assert p.start <= s.start <= s.end <= p.end
    total = sum(tr.self_time(s) for s in tr.spans)
    assert abs(total - by["op"].dur) < 1e-9


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op") as s:
        assert s is None
    assert tr.spans == []


def test_rss_sampler_sees_this_process():
    with RssSampler(interval=0.01) as rss:
        time.sleep(0.05)
    assert rss.peak_mb > 1


def test_tick_mix_cycles_are_seven_reads_then_a_pack_cycle():
    from wl_ingest import COMPACT_EVERY
    from wl_mix import TickMix

    mix = TickMix(4)
    # request runners are built here, never run: stand in for set-up
    mix.serve.engine = None
    mix.ingest.stream = gen.TickBatches(4, mix.ingest.base)
    ops = list(itertools.islice(mix.ops(), 3 * TickMix.cycle_len))
    for c in range(3):
        cycle = ops[c * TickMix.cycle_len:(c + 1) * TickMix.cycle_len]
        assert {op.cycle for op in cycle} == {c}
        reads, batches = cycle[:-COMPACT_EVERY], cycle[-COMPACT_EVERY:]
        assert sorted(op.kind for op in reads) == sorted(gen.SERVE_CYCLE)
        assert [op.params["pack"] for op in batches] == [False] * (COMPACT_EVERY - 1) + [True]
