"""Star-schema parquet sources.

The driver's current fixtures (sf0.001/0.01/0.1) store timestamps as
microsecond TIMESTAMP_NTZ; `_ntz_to_ltz` reinterprets them as plain
(UTC-pinned) TimestampType so one timestamp type flows through the whole
engine. `load_events` additionally keeps an explicit legacy fallback for
older fixtures that stored INT64 TIMESTAMP(NANOS): with
`spark.sql.legacy.parquet.nanosAsLong` set, the column arrives as bigint and
is floor-truncated to µs (`ts div 1000`) — the same semantics DuckDB uses
for `CAST(ts_ns AS TIMESTAMP)`. That branch is dead for current data but is
retained in case ns fixtures reappear.

Scale notes: everything stays a plain parquet scan (column pruning +
predicate pushdown intact); the ns→µs conversion is one codegen'd projection.
`write_bucketed` is the 100 TB path for shuffle-free fact-fact joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session_cache import memo

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of ``sf_dir`` as a DataFrame, TIMESTAMP_NTZ columns
    read as UTC TimestampType (see `_ntz_to_ltz`).

    Building the frame costs 60-120 ms of driver work (parquet footer and
    schema read, the NTZ→LTZ projection's py4j round trips), and the
    registry asks for the same table 1-3 times per query. So the frame is
    memoized per session (`session_cache.memo`): handing back the same
    immutable lazy plan caches no data, and every action still scans
    parquet.

    Fingerprint contract: a frame's plan pins the file listing it was built
    from, so the memo key carries `session_cache.table_fingerprint` of the
    table — the sorted (path, size, mtime_ns) of every file under
    ``{sf_dir}/{name}.parquet``. A write, replace or removal of any file
    (an upsert rewriting a partition) changes it, and the next call builds
    a fresh frame instead of one that scans files that are gone. The check
    is a driver-side stat per call; a rewrite that keeps every file's
    path, size and mtime_ns is not seen."""
    # oracle comparisons assume UTC wall-clock timestamps (DuckDB is
    # tz-naive); pin the session tz in case the caller's session isn't UTC
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def build():
        if name == "events":
            return load_events(spark, sf_dir)
        return _ntz_to_ltz(spark.read.parquet(f"{sf_dir}/{name}.parquet"))

    return memo("load_table", spark, sf_dir, (name,), build, params=(name,))


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Exact table row count from the parquet FOOTER (pyarrow dataset
    metadata) — no data scan, no Spark job. Used to size distributed
    structures (e.g. the block-pair grid) without a counting pass: at 100 TB
    a `df.count()` pre-scan reads the whole table before real work starts,
    while footers are a few KB per file."""
    import pyarrow.dataset as pads

    ds = pads.dataset(f"{sf_dir}/{name}.parquet", format="parquet")
    return ds.count_rows()  # metadata-only for parquet (no column reads)


def _swap_ntz(dt):
    """Recursively rebuild a DataType with TIMESTAMP_NTZ → TIMESTAMP.

    Returns the original object when nothing changes so `_ntz_to_ltz` can
    cheaply detect no-op columns."""
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType()
    if isinstance(dt, T.StructType):
        fields = [
            T.StructField(f.name, _swap_ntz(f.dataType), f.nullable, f.metadata)
            for f in dt.fields
        ]
        if all(nf.dataType is f.dataType for nf, f in zip(fields, dt.fields)):
            return dt
        return T.StructType(fields)
    if isinstance(dt, T.ArrayType):
        elem = _swap_ntz(dt.elementType)
        return dt if elem is dt.elementType else T.ArrayType(elem, dt.containsNull)
    if isinstance(dt, T.MapType):
        k, v = _swap_ntz(dt.keyType), _swap_ntz(dt.valueType)
        if k is dt.keyType and v is dt.valueType:
            return dt
        return T.MapType(k, v, dt.valueContainsNull)
    return dt


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns (top-level AND nested in struct/array/map)
    to plain TimestampType.

    The driver's parquet stores tz-naive timestamps; with the session tz
    pinned to UTC the cast is a pure wall-clock reinterpretation (same
    values), and keeps one timestamp type across the whole engine — the
    JSON/CSV format options, window(), and streaming watermarks all key off
    the LTZ type. Nested conversion rides Spark's field-wise struct/array/map
    cast, still one codegen'd projection.
    """
    casts = {f.name: _swap_ntz(f.dataType) for f in df.schema.fields}
    if all(casts[f.name] is f.dataType for f in df.schema.fields):
        return df
    # single select (one projection) instead of a withColumn per column
    return df.select(
        *[
            F.col(f.name).cast(casts[f.name]).alias(f.name)
            if casts[f.name] is not f.dataType
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with `ts` as a proper (µs) TimestampType column."""
    spark.conf.set(NANOS_CONF, "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _ntz_to_ltz(df)


def write_partitioned(df: DataFrame, path: str, partition_col: str) -> None:
    """Entity-partitioned parquet write — the Spark analog of the reference's
    (city,timestamp) B-tree index (`weather_collector.py:162-165`): partition
    pruning on the entity key + min/max skipping within files."""
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def write_bucketed(
    df: DataFrame, table_name: str, bucket_col: str, n_buckets: int = 64
) -> None:
    """Bucketed write: co-locates both sides of a later equi-join/agg on
    `bucket_col` so it runs shuffle-free — the 100 TB strategy for
    lineitem ⋈ orders."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"  # micros; default JSON fmt drops to millis


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink (one object per row, gzip-friendly at scale)."""
    df.write.mode("overwrite").option("timestampFormat", TS_FMT).json(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON-lines source with an EXPLICIT schema.

    Schema inference on JSON costs a full extra pass over the data and can
    silently widen types between runs — at 100 TB both are unacceptable, so
    the schema is required. Malformed lines surface in `_corrupt_record`
    (PERMISSIVE mode) rather than failing the job; callers filter or count
    them as a data-quality metric.
    """
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("timestampFormat", TS_FMT)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def compact_parquet(
    spark: SparkSession, src: str, dest: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Compact a small-files parquet directory into ~target-sized files.

    The streaming upsert sink and per-epoch writers leave O(epochs) small
    files; at scale that turns every scan into a listing + open storm. One
    pass sizes the output from the INPUT byte count (no extra job), then
    round-robin repartitions — not coalesce, which would skip the shuffle
    but inherit the skewed input file boundaries. Returns the file count.
    """
    import math
    import os as _os

    total = sum(
        _os.path.getsize(_os.path.join(r, f))
        for r, _, fs in _os.walk(src)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(src).repartition(n_files).write.mode("overwrite").parquet(dest)
    return n_files


def write_range_sorted(
    df: DataFrame, path: str, col: str, n_files: int
) -> None:
    """Range-partitioned, sorted-within-file parquet write for data skipping.

    Files get disjoint [min, max] ranges of `col`, so a point/range filter
    prunes whole files from the parquet footer min/max stats before any IO —
    the single cheapest scan optimization at 100 TB. The sortWithinPartitions
    keeps row-group stats tight inside each file too.
    """
    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave the low `bits` of two non-negative integer columns into a
    Z-order (Morton) key — pure JVM bit arithmetic, no UDF."""
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def write_zorder_2d(
    df: DataFrame, path: str, col_x: str, col_y: str, n_files: int, bits: int = 16
) -> None:
    """Z-order clustered parquet write: multi-dimensional data skipping.

    `write_range_sorted` gives perfect skipping on ONE column but none on a
    second; Z-ordering interleaves the bit patterns of two columns so files
    cover compact rectangles in (x, y) space and footer min/max stats prune
    on BOTH predicates — the standard lakehouse layout for two-column
    selective scans (e.g. entity-id × event-time). Each column is first
    quantized to `bits` buckets over its observed [min, max] (one tiny agg;
    at 100 TB use static bounds or a sample), then rows are range-
    partitioned and sorted by the interleaved Morton key.
    """
    mn_x, mx_x, mn_y, mx_y = df.agg(
        F.min(col_x).cast("double"),
        F.max(col_x).cast("double"),
        F.min(col_y).cast("double"),
        F.max(col_y).cast("double"),
    ).first()
    scale = float((1 << bits) - 1)

    def bucket(c: str, mn: float, mx: float) -> Column:
        span = (mx - mn) or 1.0
        return F.least(
            F.lit(scale),
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * F.lit(scale)),
        ).cast("long")

    key = zorder_key(bucket(col_x, mn_x, mx_x), bucket(col_y, mn_y, mx_y), bits)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
