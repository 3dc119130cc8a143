"""tick_serve: a seeded key-addressed request mix against a saved table.

The table is small and the requests touch a few hundred rows each, so
each request costs mostly its fixed floor — catalog load, engine build,
Catalyst and job scheduling — while operator kernels and writes idle.
Work that cuts that floor shows here.
"""

from __future__ import annotations

import itertools
import json
import os

import pandas as pd
import pyarrow as pa

import gen
from harness import Op, job_free_ms, op_layer_common, tree_bytes
from sparkstats import catalyst_ms

RENDERED = {"get_json": "json", "get_struct": "struct", "get_tail": "json",
            "get_where": "json"}


class TickServe:
    name = "tick_serve"
    cycle_len = len(gen.SERVE_CYCLE)
    # un-measured request cycles before the loop
    warmup_cycles = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.events = gen.events_frame(seed, gen.SERVE_ROWS, gen.SERVE_DAYS, "ms")
        self.user_bytes = pa.Table.from_pandas(self.events, preserve_index=False).nbytes
        self.root = None

    def setup_once(self, ctx, rep: int) -> None:
        """Save ``events`` in the query layout (dt-partitioned, key/time
        sorted) and open an Engine on it."""
        from ago_sisdb_spark.plans.engine import Engine, TableSpec
        from ago_sisdb_spark.streaming.write import write_partitioned

        root = os.path.join(ctx.work, f"serve{rep}")
        events = gen.events_frame(self.seed, gen.SERVE_ROWS, gen.SERVE_DAYS, "ms")
        write_partitioned(ctx.spark.createDataFrame(events),
                          os.path.join(root, "events.parquet"), "ts",
                          key_bucket_col="user_id")
        self.engine = Engine(ctx.spark, root, {
            "events": TableSpec("events", "user_id", "ts", order_col="event_id")})
        self.root = root

    def amplification(self) -> tuple[float, float]:
        disk, _ = tree_bytes(os.path.join(self.root, "events.parquet"))
        # the table is written once, so bytes written == bytes on disk
        return disk / self.user_bytes, disk / self.user_bytes

    def ops(self):
        for i, req in enumerate(gen.serve_requests(self.seed)):
            yield Op(i // self.cycle_len, req["kind"], self._runner(req), req)

    def warmup_ops(self):
        """``warmup_cycles`` cycles drawn from a different stream."""
        reqs = gen.serve_requests(self.seed + 1_000_003)
        n = self.cycle_len * self.warmup_cycles
        return [Op(0, r["kind"], self._runner(r), r)
                for r in itertools.islice(reqs, n)]

    def _runner(self, req):
        eng = self.engine
        kind = req["kind"]

        def run(ctx):
            from ago_sisdb_spark.sources.formats import render

            if kind in RENDERED:
                with ctx.span("engine.get"):
                    if kind == "get_tail":
                        df = eng.get(f"{req['key']}.events", count=-req["count"])
                    else:
                        df = eng.get(f"{req['key']}.events", start=req["start"],
                                     stop=req["stop"], where=req.get("where"))
                with ctx.span("render", jobs=True):
                    out = render(df, RENDERED[kind])
                return out, df
            with ctx.span(f"engine.{kind}"):
                if kind == "gets":
                    df = eng.gets([f"{k}.events" for k in req["keys"]])
                else:
                    df = eng.psub([f"{k}.events" for k in req["keys"]],
                                  start=req["start"], stop=req["stop"])
            with ctx.span("collect", jobs=True):
                out = df.collect()
            return out, df

        return run

    # -- after each request, outside its timing --------------------------

    def rows_of(self, rec) -> int:
        return len(canonical(rec.kind, rec.result[0]))

    def derive(self, ctx, rec, spans) -> None:
        out, df = rec.result
        if rec.kind in RENDERED:
            # render() plans a derived frame internally; plan the request's
            # own frame now so its optimizer and planner phases are recorded
            df._jdf.queryExecution().executedPlan()
        layer = op_layer_common(ctx, rec, spans, rec.rows, [df])
        eng_spans = [s for s in spans if s.name.startswith("engine.")]
        layer["engine.build_ms"] = sum(ctx.tracer.self_time(s) for s in eng_spans) * 1000.0
        if rec.kind in RENDERED:
            r = next(s for s in spans if s.name == "render")
            layer["render.self_ms"] = job_free_ms(ctx, r)
            layer["render.bytes_per_row"] = len(out) / max(1, rec.rows)
        else:
            c = next(s for s in spans if s.name == "collect")
            layer["collect.transfer_ms"] = job_free_ms(ctx, c)
        if rec.kind == "psub":
            layer["replay.rows"] = rec.rows
        for phase, ms in catalyst_ms(df).items():
            layer[f"catalyst.{phase}_ms"] = ms
        rec.layer = layer

    def precheck(self) -> None:
        """Nothing to precompute: the checks need the run's responses."""

    def check(self, records) -> int:
        """Responses that differ from DuckDB's answer to the same request
        over the same saved files."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        glob = os.path.join(self.root, "events.parquet", "**", "*.parquet")
        con.execute(
            "CREATE VIEW events AS SELECT event_id, epoch_us(ts) AS ts_us, "
            "user_id, event_type, value, props, CAST(dt AS VARCHAR) AS dt "
            f"FROM read_parquet('{glob}', hive_partitioning=true)")
        bad = 0
        for rec in records:
            got = sorted(canonical(rec.kind, rec.result[0]))
            want = sorted(duck_answer(con, rec.params))
            if rec.kind == "psub":
                times = [r.event_time for r in rec.result[0]]
                if times != sorted(times):
                    bad += 1
                    continue
            bad += got != want
        con.close()
        return bad


def _us(ts) -> int:
    t = pd.Timestamp(ts)
    if t.tzinfo is not None:
        t = t.tz_convert("UTC").tz_localize(None)
    return t.value // 1000


def _row(event_id, ts, user_id, event_type, value, props, dt) -> tuple:
    return (int(event_id), _us(ts), int(user_id), event_type, float(value),
            props, str(dt))


def canonical(kind: str, out) -> list[tuple]:
    """A response as (event_id, ts_us, user_id, event_type, value, props,
    dt) tuples, whatever format it was rendered in."""
    if RENDERED.get(kind) == "json":
        return [_row(**r) for r in json.loads(out)]
    if RENDERED.get(kind) == "struct":
        from ago_sisdb_spark.sources.formats import parse_render

        return [_row(**r) for r in parse_render(out, "struct").to_pylist()]
    if kind == "gets":
        return [_row(**{k: v for k, v in r.asDict().items() if k != "sdb"})
                for r in out]
    rows = []
    for r in out:  # psub: (key, event_time, source, payload)
        p = json.loads(r.payload)
        rows.append(_row(p["event_id"], r.event_time, r.key, p["event_type"],
                         p["value"], p["props"], p["dt"]))
    return rows


def duck_answer(con, req) -> list[tuple]:
    kind = req["kind"]
    cols = "event_id, ts_us, user_id, event_type, value, props, dt"
    if kind == "get_tail":
        sql = (f"SELECT {cols} FROM events WHERE user_id = {req['key']} "
               f"ORDER BY ts_us DESC, event_id DESC LIMIT {req['count']}")
    elif kind == "gets":
        keys = ",".join(map(str, req["keys"]))
        sql = (f"SELECT {cols} FROM events WHERE user_id IN ({keys}) "
               "QUALIFY row_number() OVER (PARTITION BY user_id "
               "ORDER BY ts_us DESC, event_id DESC) = 1")
    else:
        keys = ",".join(map(str, req.get("keys", [req.get("key")])))
        lo = _us(req["start"])
        hi = _us(req["stop"])
        sql = (f"SELECT {cols} FROM events WHERE user_id IN ({keys}) "
               f"AND ts_us BETWEEN {lo} AND {hi}")
        if "where" in req:
            types = ",".join(f"'{t.lower()}'" for t in req["where"]["event_type"]["in"])
            sql += (f" AND lower(event_type) IN ({types}) "
                    f"AND value >= {req['where']['value']['min']}")
    return [tuple(r) for r in con.execute(sql).fetchall()]

