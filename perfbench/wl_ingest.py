"""tick_ingest: seeded tick batches upserted into a saved table.

Each batch is one request: ``streaming.write.upsert`` under
TimeScale.SECOND, a versioned ``write_partitioned`` of the merged table,
and a 1-minute ``operators.rollup.ohlcv`` read-back of the newest day.
Every COMPACT_EVERY-th batch also runs ``sources.ingest.compact`` (pack)
on the new version, so the pack stall lands in that batch's latency.
Today every batch rewrites the whole table, which ``write_amp`` shows.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pandas as pd
import pyarrow as pa

import gen
from harness import Op, op_layer_common, tree_bytes
from sparkstats import catalyst_ms

COMPACT_EVERY = 2


class TickIngest:
    name = "tick_ingest"
    cycle_len = COMPACT_EVERY

    def __init__(self, seed: int):
        self.seed = seed
        self.base = gen.events_frame(seed, gen.INGEST_BASE_ROWS, gen.INGEST_DAYS, "s")
        self.version = 0
        self.batches: list[pd.DataFrame] = []
        # (batches applied, newest day, that day's bars) per batch
        self.rollups: list[tuple[int, str, list]] = []
        # (bytes written, Arrow bytes accepted) per batch
        self.bytes: list[tuple[int, int]] = []

    def _vroot(self, version: int) -> str:
        return os.path.join(self.work, f"v{version:06d}")

    def setup_once(self, ctx, rep: int) -> None:
        """Save the base table (version 0) in the query layout."""
        from ago_sisdb_spark.streaming.write import write_partitioned

        self.work = os.path.join(ctx.work, f"ingest{rep}")
        base = gen.events_frame(self.seed, gen.INGEST_BASE_ROWS, gen.INGEST_DAYS, "s")
        write_partitioned(ctx.spark.createDataFrame(base),
                          os.path.join(self._vroot(0), "events.parquet"), "ts",
                          key_bucket_col="user_id")
        self.version = 0
        self.stream = gen.TickBatches(self.seed, self.base)

    def warmup_ops(self):
        """One batch with a pack, from a different stream, applied to a
        scratch copy of the table."""
        def run(ctx):
            saved, self.version = self.version, 900_000
            shutil.copytree(self._vroot(saved), self._vroot(self.version))
            self._apply(ctx, gen.TickBatches(self.seed + 1_000_003, self.base).next(),
                        pack=True)
            shutil.rmtree(self._vroot(self.version))
            self.version = saved
        return [Op(0, "batch", run)]

    def ops(self):
        i = 0
        while True:
            batch = self.stream.next()
            pack = (i + 1) % COMPACT_EVERY == 0
            yield Op(i // COMPACT_EVERY, "batch", self._runner(batch, pack),
                     {"pack": pack})
            i += 1

    def _runner(self, batch: pd.DataFrame, pack: bool):
        def run(ctx):
            written, bars = self._apply(ctx, batch, pack)
            self.batches.append(batch)
            self.rollups.append((len(self.batches), *bars))
            self.bytes.append(
                (written, pa.Table.from_pandas(batch, preserve_index=False).nbytes))
            return len(batch)
        return run

    def _apply(self, ctx, batch: pd.DataFrame, pack: bool):
        """Upsert ``batch`` into the current version and write the next one;
        returns (bytes written, (newest day, its 1-minute bars))."""
        from ago_sisdb_spark import catalog
        from ago_sisdb_spark.operators.rollup import ohlcv
        from ago_sisdb_spark.sources.ingest import compact
        from ago_sisdb_spark.streaming.write import TimeScale, upsert, write_partitioned
        from pyspark.sql import functions as F

        spark = ctx.spark
        old = self._vroot(self.version)
        new = self._vroot(self.version + 1)
        current = catalog.load_table(spark, old, "events").drop("dt")
        with ctx.span("write.upsert"):
            merged = upsert(current, spark.createDataFrame(batch), ["user_id"],
                            "ts", TimeScale.SECOND)
        with ctx.span("write.partitioned", jobs=True) as ws:
            write_partitioned(merged, os.path.join(new, "events.parquet"), "ts",
                              key_bucket_col="user_id")
        wbytes, wfiles = tree_bytes(new)
        if ws is not None:
            ws.attrs.update(bytes=wbytes, files=wfiles)
        written = wbytes
        shutil.rmtree(old)
        self.version += 1
        if pack:
            before, files_before = tree_bytes(new)
            with ctx.span("compact", jobs=True) as cs:
                compact(spark, os.path.join(new, "events.parquet"),
                        sort_cols=["user_id", "ts"])
            after, files_after = tree_bytes(new)
            written += after
            if cs is not None:
                cs.attrs.update(bytes=after, files_before=files_before,
                                files_after=files_after)
        day = str(batch["ts"].max().date())
        with ctx.span("rollup.ohlcv", jobs=True) as rs:
            touched = catalog.load_table(spark, new, "events").where(
                F.col("dt") == F.lit(day))
            bars_df = ohlcv(touched, ["user_id"], "ts", "value", "1 minute",
                            order_col="event_id")
            bars = bars_df.collect()
        if rs is not None:
            rs.attrs["df"] = bars_df
        return written, (day, bars)

    # -- after each request, outside its timing --------------------------

    def rows_of(self, rec) -> int:
        return rec.result

    def derive(self, ctx, rec, spans) -> None:
        by = {s.name: s for s in spans}
        bars_df = by["rollup.ohlcv"].attrs.pop("df")
        layer = op_layer_common(ctx, rec, spans, rec.rows, [bars_df])
        w = by["write.partitioned"]
        layer["write.upsert_build_ms"] = by["write.upsert"].dur * 1000.0
        layer["write.s"] = w.dur
        layer["write.bytes"] = w.attrs["bytes"]
        layer["write.files"] = w.attrs["files"]
        if "compact" in by:
            c = by["compact"]
            layer["compact.s"] = c.dur
            layer["compact.bytes_rewritten"] = c.attrs["bytes"]
            layer["compact.files_before"] = c.attrs["files_before"]
            layer["compact.files_after"] = c.attrs["files_after"]
        layer["rollup.ohlcv_ms"] = by["rollup.ohlcv"].dur * 1000.0
        for phase, ms in catalyst_ms(bars_df).items():
            layer[f"catalyst.{phase}_ms"] = ms
        rec.layer = layer

    def amplification(self) -> tuple[float, float]:
        """write_amp over whole pack cycles only (like every end-to-end
        figure), so it does not depend on whether the run stopped just
        before or just after a pack."""
        whole = len(self.bytes) - len(self.bytes) % COMPACT_EVERY
        cycles = self.bytes[:whole] or self.bytes
        written = sum(w for w, _ in cycles)
        accepted = sum(a for _, a in cycles)
        disk, _ = tree_bytes(self._vroot(self.version))
        live = pa.Table.from_pandas(self.model(), preserve_index=False).nbytes
        return written / accepted, disk / live

    def model(self, upto: int | None = None) -> pd.DataFrame:
        """The pandas upsert model: later rows replace earlier rows with
        the same (user_id, ts)."""
        parts = [self.base, *self.batches[:upto]]
        df = pd.concat(parts, ignore_index=True)
        return df.drop_duplicates(["user_id", "ts"], keep="last")

    def precheck(self) -> None:
        """Nothing to precompute: the checks need the run's responses."""

    def check(self, records) -> int:
        """Final table vs the pandas model (order-insensitive row hash) plus
        every rollup read-back vs DuckDB over the model at that version."""
        import duckdb

        bad = 0
        final = pd.read_parquet(os.path.join(self._vroot(self.version), "events.parquet"))
        if table_hash(final) != table_hash(self.model()):
            bad += 1
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for applied, day, bars in self.rollups:
            state = self.model(applied)
            con.register("state", state[state["ts"].dt.strftime("%Y-%m-%d") == day])
            want = sorted(tuple(r) for r in con.execute(
                "SELECT user_id, epoch_us(time_bucket(INTERVAL 1 minute, ts)), "
                "arg_min(value, ts), max(value), min(value), arg_max(value, ts), "
                "count(*) FROM state GROUP BY ALL").fetchall())
            got = sorted((r.user_id, _us(r.bar_start), r.open, r.high, r.low,
                          r.close, r.volume) for r in bars)
            bad += got != want
            con.unregister("state")
        con.close()
        return bad


def _us(ts) -> int:
    return pd.Timestamp(ts).value // 1000


def table_hash(df: pd.DataFrame) -> tuple[int, str]:
    """(rows, digest) that ignores row order and file layout."""
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    keyed = df[cols].assign(ts=pd.to_datetime(df["ts"]).astype("int64") // 1000)
    lines = sorted(keyed.astype(str).agg("|".join, axis=1))
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()
