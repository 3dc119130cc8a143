"""CSV / JSON sources and the multi-format result renderer.

Reference: csv codecs `src/core/sis_csv.h:29-75` (S6), JSON struct codecs
`src/core/sis_utils.h:47-50` (S8), and the 5-way output format switch
``json|array|csv|struct|zip`` (`src/core/sis_db.h:20-30`, S10).

Spark: readers are the built-in DataFrameReader with explicit schemas
(never inferSchema in production paths); the renderer returns driver-side
bytes for API responses — result sets here are post-aggregation and small,
the reference's own responses cap at 64 KB before going async
(`workers/sisdb/sisdb.h:73`).  Large exports go through ``df.write`` sinks.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession, path: str, schema: StructType, header: bool = True
) -> DataFrame:
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def from_json_records(
    spark: SparkSession, records: str | list[dict], schema: StructType
) -> DataFrame:
    """S8 inline form: a JSON object (single row) or array (multi-row)
    string → DataFrame, the `set key.sdb {json}` decode path
    (`workers/sisdb/sisdb_io.c:209-237`)."""
    if isinstance(records, str):
        parsed = json.loads(records)
    else:
        parsed = records
    rows = [parsed] if isinstance(parsed, dict) else list(parsed)
    return spark.createDataFrame(rows, schema)


class RenderLimitError(RuntimeError):
    """Raised when a render() target exceeds ``max_rows`` — the driver-side
    formats are for API responses, not bulk export.  Use ``write_csv`` /
    ``df.write.parquet`` (distributed sinks) for large results."""


def _arrow_ipc(pdf, compression: str | None) -> bytes:
    import io

    import pyarrow as pa

    table = pa.Table.from_pandas(pdf, preserve_index=False)
    sink = io.BytesIO()
    opts = pa.ipc.IpcWriteOptions(compression=compression)
    with pa.ipc.new_stream(sink, table.schema, options=opts) as w:
        w.write_table(table)
    return sink.getvalue()


def render(
    df: DataFrame,
    fmt: str = "json",
    limit: int | None = None,
    max_rows: int = 100_000,
) -> bytes:
    """S10: render a (small) result set to one of the reference's 5 formats
    (`sis_db.h:20-30`).

    - ``json``   : array of objects (the reference's {} rows form)
    - ``array``  : column-name header + row arrays (compact form)
    - ``csv``    : header + comma rows
    - ``struct`` : Arrow IPC stream bytes (the binary-struct analogue —
                   schema-carrying, zero-copy; replaces packed C structs)
    - ``zip``    : Arrow IPC with zstd body compression — the compressed
                   bulk-pull form (`workers/sisdb_server/sisdb_incr.h:17-30`
                   incr-zip analogue; schema-carrying, seekable by batch)

    ``max_rows`` is the scale guard: rendering collects to the driver, so a
    result larger than the cap raises ``RenderLimitError``.  The guard and
    the render share ONE bounded collect of ``limit(max_rows+1)`` rows —
    the plan executes once and at most max_rows+1 rows ever reach the
    driver (r2 verdict #6: the old count-probe re-executed the full plan).
    Large exports belong in the distributed sinks (``write_csv``,
    ``df.write.parquet``) — mirroring the reference's own
    64 KB-reply-then-async rule (`workers/sisdb/sisdb.h:73`).
    """
    if limit is not None:
        df = df.limit(limit)
    capped = df.limit(max_rows + 1) if max_rows is not None else df

    def guard(n_rows: int) -> None:
        if max_rows is not None and n_rows > max_rows:
            raise RenderLimitError(
                f"render({fmt!r}) over {max_rows} rows — use write_csv/parquet "
                "sinks for bulk export, or pass limit="
            )

    if fmt == "json":
        # one Arrow collect of to_json strings: the same bytes as toJSON(),
        # whose RDD collect runs a limited multi-partition scan as two jobs
        rows = capped.select(F.to_json(F.struct("*"))).toArrow().column(0).to_pylist()
        guard(len(rows))
        return ("[" + ",".join(rows) + "]").encode()
    if fmt == "array":
        data = [list(r) for r in capped.collect()]
        guard(len(data))
        head = [f.name for f in df.schema.fields]
        return json.dumps({"fields": head, "rows": data}, default=str).encode()
    if fmt == "csv":
        rows = capped.collect()
        guard(len(rows))
        cols = df.columns
        out = [",".join(cols)]
        for r in rows:
            out.append(",".join("" if v is None else str(v) for v in r))
        return ("\n".join(out) + "\n").encode()
    if fmt in ("struct", "zip"):
        pdf = capped.toPandas()
        guard(len(pdf))
        return _arrow_ipc(pdf, compression="zstd" if fmt == "zip" else None)
    raise ValueError(f"unknown format: {fmt!r} (json|array|csv|struct|zip)")


def parse_render(data: bytes, fmt: str):
    """Inverse of ``render`` for the binary formats → pyarrow Table
    (client-side decode; compression is transparent in the IPC stream)."""
    if fmt in ("struct", "zip"):
        import io

        import pyarrow as pa

        with pa.ipc.open_stream(io.BytesIO(data)) as r:
            return r.read_all()
    raise ValueError(f"parse_render supports struct|zip, got {fmt!r}")


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6 sink: distributed CSV export (the large-result path)."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Columnar ORC sink (Spark-native, zlib default) — interchange with
    Hive/Trino warehouses; same distributed-sink contract as write_csv.
    The reference's columnar store is its own SDB block format
    (`src/core/disk/sis_disk.io.h:108-114`); here the warehouse formats
    are Parquet (primary, TESTDATA) and ORC (interchange)."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — schema comes from the file footer (self-describing,
    like Parquet); predicate pushdown and column pruning work through the
    native reader, pinned in tests/test_formats.py."""
    return spark.read.orc(path)
