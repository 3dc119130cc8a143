"""Table catalog over a warehouse directory of parquet tables.

The reference addresses data as ``key.sdb`` (entity key + table name,
``workers/sisdb/sisdb.h:44-55``); here a *table* is a parquet dataset and the
entity key is a plain column, so Catalyst gets partition pruning, predicate
pushdown and column pruning for free (SURVEY.md §4).

At 100 TB the same layout holds: each logical table is a date-partitioned,
symbol-bucketed parquet/Delta table; ``load`` only ever issues
``spark.read.parquet`` with pushed filters, never a driver-side scan.

Schema cache.  Inferring a parquet schema launches one Spark job (a footer
read), which is most of a small key-addressed request's floor.  So
``load_table`` infers a table's ``StructType`` once and reads with it as an
explicit schema (no job) afterwards.  The cache key is the table's absolute
path plus a fingerprint of its files: the sorted (relative path, size,
mtime_ns) of every file under the table directory, or the file's own stat
for a single-file table.  Any rewrite — an append, an overwrite, a ``pack``,
a hand edit — changes the fingerprint, and the next load re-infers.  The
cache holds the most recent ``SCHEMA_CACHE_SIZE`` tables.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Driver-provided test tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Catalog:
    """Resolve table names to DataFrames rooted at a warehouse directory."""

    def __init__(self, spark: SparkSession, root: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.root = root

    def path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.parquet")

    def load(self, name: str) -> DataFrame:
        return load_table(self.spark, self.root, name)

    def register_views(self, names: tuple[str, ...] = TESTDATA_TABLES) -> None:
        """Register each table as a temp view for spark.sql use."""
        for name in names:
            if os.path.exists(self.path(name)):
                self.load(name).createOrReplaceTempView(name)

    def tables(self) -> list[str]:
        return [
            f[: -len(".parquet")]
            for f in sorted(os.listdir(self.root))
            if f.endswith(".parquet")
        ]


SCHEMA_CACHE_SIZE = 256

_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def _fingerprint(path: str) -> tuple | None:
    """Sorted (relative path, size, mtime_ns) of every file under ``path``
    (``path`` itself for a single-file table); None if it does not exist."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return ((".", st.st_size, st.st_mtime_ns),)
    files = []
    for d, _, names in os.walk(path):
        for f in names:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed mid-walk by a concurrent rewrite
                continue
            files.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def _schema(spark: SparkSession, path: str) -> StructType:
    """The table's inferred schema, from the cache while its files are
    unchanged.  Nothing is cached for a path that does not exist: inferring
    it raises Spark's own PATH_NOT_FOUND error."""
    key = (os.path.abspath(path), _fingerprint(path))
    with _schemas_lock:
        schema = _schemas.get(key)
        if schema is not None:
            _schemas.move_to_end(key)
            return schema
    schema = spark.read.parquet(path).schema
    with _schemas_lock:
        _schemas[key] = schema
        while len(_schemas) > SCHEMA_CACHE_SIZE:
            _schemas.popitem(last=False)
    return schema


def load_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Load a parquet table, normalizing nanosecond timestamps.

    The schema comes from the module's schema cache (see the module
    docstring): the first load of a table, and the first load after any of
    its files changed, infers it with one Spark job; every other load reads
    with the cached schema and launches none.

    The driver's `events` table stores ts as parquet TIMESTAMP(NANOS), which
    Spark's reader rejects; with the legacy nanosAsLong conf it arrives as
    LongType nanos and is normalized to TimestampType (µs precision — the
    same truncation DuckDB applies).  Integer `div`, not `/`: ns epoch
    values exceed double's 2^53 mantissa, float division rounds the µs.
    W-type µs encodings in the reference normalize identically (SURVEY §1.2).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamp semantics must match the DuckDB oracle (UTC-naive) even when
    # the caller (driver) built the session without our defaults
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(root, f"{name}.parquet")
    schema = _schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def catalog_for(spark: SparkSession, root: str) -> Catalog:
    """Cheap helper for queries(): a Catalog for (session, dir)."""
    return Catalog(spark, root)
