"""catalog.load_table's schema cache: a repeat load of an unchanged table
launches no Spark job, and any rewrite of the table's files re-infers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from ago_sisdb_spark import catalog
from ago_sisdb_spark.catalog import load_table


def _load_counting_jobs(spark, root, name, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, "")
    try:
        df = load_table(spark, root, name)
    finally:
        sc.setJobGroup(None, None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(spark, root, name, rows, ddl, mode="overwrite"):
    spark.createDataFrame(rows, ddl).write.mode(mode).parquet(
        os.path.join(root, f"{name}.parquet")
    )


def test_second_load_of_unchanged_table_launches_no_job(spark, tmp_path):
    root = str(tmp_path)
    _write(spark, root, "t", [(1, "a"), (2, "b")], "k long, v string")
    first, n1 = _load_counting_jobs(spark, root, "t", "cat-first")
    second, n2 = _load_counting_jobs(spark, root, "t", "cat-second")
    assert n1 == 1, "first load infers the schema with one job"
    assert n2 == 0, f"cache hit launched {n2} jobs"
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_single_file_table_is_cached(spark, tmp_path):
    root = str(tmp_path)
    stage = tmp_path / "stage"
    spark.createDataFrame([(1,), (2,)], "k long").coalesce(1).write.parquet(str(stage))
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.rename(stage / part, tmp_path / "t.parquet")
    _, n1 = _load_counting_jobs(spark, root, "t", "cat-file-first")
    df, n2 = _load_counting_jobs(spark, root, "t", "cat-file-second")
    assert (n1, n2) == (1, 0)
    assert sorted(r.k for r in df.collect()) == [1, 2]


def test_rewrite_with_new_column_reinfers(spark, tmp_path):
    root = str(tmp_path)
    _write(spark, root, "t", [(1, "a")], "k long, v string")
    assert load_table(spark, root, "t").columns == ["k", "v"]
    _write(spark, root, "t", [(2, "b", 2.5), (3, "c", 3.5)], "k long, v string, x double")
    df, n = _load_counting_jobs(spark, root, "t", "cat-rewrite")
    assert n == 1, "a rewritten table must be re-inferred"
    assert df.columns == ["k", "v", "x"]
    assert sorted(tuple(r) for r in df.collect()) == [(2, "b", 2.5), (3, "c", 3.5)]


def test_compact_in_place_reinfers_and_keeps_rows(spark, tmp_path):
    from ago_sisdb_spark.sources.ingest import compact

    root = str(tmp_path)
    rows = [(i, f"2024-01-0{1 + i % 3}") for i in range(30)]
    (
        spark.createDataFrame(rows, "k long, d string")
        .withColumn("dt", F.to_date("d"))
        .repartition(6)
        .write.partitionBy("dt")
        .parquet(os.path.join(root, "t.parquet"))
    )
    before = sorted(tuple(r) for r in load_table(spark, root, "t").collect())
    compact(spark, os.path.join(root, "t.parquet"), sort_cols=["k"])
    df, n = _load_counting_jobs(spark, root, "t", "cat-compact")
    assert n == 1
    assert sorted(tuple(r) for r in df.collect()) == before
    _, n_hit = _load_counting_jobs(spark, root, "t", "cat-compact-hit")
    assert n_hit == 0


def test_events_normalization_on_cache_hit(spark, sf_small):
    first, _ = _load_counting_jobs(spark, sf_small, "events", "cat-ev-first")
    hit, n = _load_counting_jobs(spark, sf_small, "events", "cat-ev-hit")
    assert n == 0
    assert isinstance(hit.schema["ts"].dataType, (TimestampType, TimestampNTZType))
    assert hit.schema == first.schema
    key = ["event_id", "ts"]
    assert hit.select(*key).orderBy("event_id").collect() == (
        first.select(*key).orderBy("event_id").collect()
    )


def test_nanos_events_normalized_from_cached_type(spark, tmp_path):
    """A LongType-nanos ``events.ts`` is converted to µs timestamps on the
    inferring load and on every cache hit alike."""
    root = str(tmp_path)
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    _write(spark, root, "events", [(1, ns[0]), (2, ns[1])], "event_id long, ts long")
    for group in ("cat-ns-first", "cat-ns-hit"):
        df, _ = _load_counting_jobs(spark, root, "events", group)
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        got = df.select("event_id", F.unix_micros("ts").alias("us")).orderBy("event_id")
        assert [r.us for r in got.collect()] == [v // 1000 for v in ns]
    cached = catalog._schema(spark, os.path.join(root, "events.parquet"))
    assert isinstance(cached["ts"].dataType, LongType)


def test_cache_is_bounded_lru(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "SCHEMA_CACHE_SIZE", 2)
    root = str(tmp_path)
    for name in ("a", "b", "c"):
        _write(spark, root, name, [(1,)], "k long")
    load_table(spark, root, "a")
    load_table(spark, root, "b")
    load_table(spark, root, "a")  # a is now the most recent
    load_table(spark, root, "c")  # evicts b, the least recent
    assert len(catalog._schemas) <= 2
    _, n_a = _load_counting_jobs(spark, root, "a", "cat-lru-a")
    _, n_b = _load_counting_jobs(spark, root, "b", "cat-lru-b")
    assert (n_a, n_b) == (0, 1)


def test_missing_table_raises_and_is_not_cached(spark, tmp_path):
    from pyspark.errors import AnalysisException

    root = str(tmp_path)
    with pytest.raises(AnalysisException):
        load_table(spark, root, "nope")
    _write(spark, root, "nope", [(1,)], "k long")
    assert load_table(spark, root, "nope").count() == 1


def test_cache_threads_keep_bound_and_entries(tmp_path, monkeypatch):
    """Concurrent loads through the shared cache: every caller gets its own
    table's schema and the cache never holds more than its bound."""
    import sys
    import threading
    from types import SimpleNamespace

    monkeypatch.setattr(catalog, "SCHEMA_CACHE_SIZE", 4)
    paths = []
    for i in range(12):
        p = tmp_path / f"t{i}.parquet"
        p.write_bytes(b"x" * i)
        paths.append(str(p))
    # a stand-in session whose inferred "schema" names the path it read
    fake = SimpleNamespace(
        read=SimpleNamespace(parquet=lambda p: SimpleNamespace(schema=p))
    )
    errors = []

    def worker(seed):
        for k in range(300):
            p = paths[(seed * 7 + k) % len(paths)]
            if catalog._schema(fake, p) != p:
                errors.append(p)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(catalog._schemas) <= 4
