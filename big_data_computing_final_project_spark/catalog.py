"""Table catalog: explicit schemas + temp-view registration for the
driver-provided star schema (TESTDATA.md).

The reference infers schemas at CSV-read time and then treats them as fixed
(SURVEY.md §1, `house_predict.py:565-566`); at 100 TB schema inference is a
full extra scan, so this engine declares every schema explicitly. Parquet
carries its own schema, but declaring expected StructTypes lets us fail fast
on drift and keeps column pruning predictable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
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

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out_ok: bool = True
) -> DataFrame:
    """Read one star-schema table from ``{sf_dir}/{name}.parquet``.

    Parquet scans keep the file's own physical schema (so statistics and
    pushdown stay intact); SCHEMAS documents the expected logical shape.

    Session hygiene: this function is READ-ONLY on session state — query
    paths must not mutate a caller-provided session (conf writes are
    registry-order-dependent poison for an external harness running many
    queries through one session). The single documented exception: a
    legacy TIMESTAMP(NANOS) events file physically cannot be scanned
    without ``spark.sql.legacy.parquet.nanosAsLong``; the conf is set only
    after a footer check proves the file is nanos-typed (never for the
    micros files the driver generates today).

    Schema memo: ``spark.read.parquet`` infers the file's schema with a
    one-task Spark job on every call. The inferred schema is memoized per
    (application, path, the path's ``st_mtime_ns``), and a later load of
    the same path reads with that schema and runs no job; rewriting the
    table changes its mtime, so the next load infers again.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and _stored_as_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet_memoized(spark, path)
    df = normalize_ts_columns(df)
    key = _FAN_OUT_KEYS.get(name)
    if key is not None and fan_out_ok:
        df = fan_out(df, spark, key, path)
    return df


def _read_parquet_memoized(spark: SparkSession, path: str, _memo: dict = {}) -> DataFrame:
    """``spark.read.parquet(path)``, with the inferred schema memoized per
    (applicationId, path, st_mtime_ns); see ``load_table``."""
    try:
        key = (spark.sparkContext.applicationId, path, os.stat(path).st_mtime_ns)
    except OSError:
        return spark.read.parquet(path)
    schema = _memo.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _memo[key] = df.schema
    return df


def _stored_as_nanos(path: str, _cache: dict = {}) -> bool:
    """True iff the parquet file's ``ts`` column is TIMESTAMP(NANOS) —
    a footer-only pyarrow read, cached per path."""
    if path not in _cache:
        try:
            import pyarrow.dataset as ds
            import pyarrow as pa

            schema = ds.dataset(path, format="parquet").schema
            field = schema.field("ts") if "ts" in schema.names else None
            _cache[path] = field is not None and field.type == pa.timestamp("ns")
        except Exception:
            _cache[path] = False
    return _cache[path]


# Tables whose consumers are CPU-dense per-row pipelines (tokenize/shingle/
# hash for documents, vector math for embeddings) rather than scan-bound
# aggregates. For these, scan parallelism IS the throughput ceiling.
_FAN_OUT_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}


def fan_out(
    df: DataFrame, spark: SparkSession, key: str | None, path: str | None = None
) -> DataFrame:
    """Give CPU-dense narrow stages at least ``defaultParallelism`` tasks.

    A small parquet file (or one with a single row group — splits can't cut
    a row group) plans as ONE scan task, so every downstream narrow
    transform runs on one core no matter how many are free. Repartitioning
    by the table's key fans the work out; measured 3.3s -> 0.4s on q102's
    shingle stage at sf0.1 on local[32].

    Scale behavior: guarded on the scan's splittable-unit count (row
    groups, from a footer-only pyarrow read cached per path — NOT a
    per-load DataFrame→RDD planning pass), so on a real cluster reading a
    multi-split table this is a no-op — no gratuitous full-table shuffle
    at 100 TB. Hash-partitioning by the primary key also pre-aligns later
    groupBy(key)/join(key) stages (their exchange is satisfied by this
    one).
    """
    target = spark.sparkContext.defaultParallelism
    if _split_units(path) < target:
        return df.repartition(target, key) if key is not None else df.repartition(target)
    return df


def _split_units(path: str | None, _cache: dict = {}) -> int:
    """Number of parquet row groups under ``path`` — the upper bound on
    scan-task parallelism for the file(s). Footer-only, cached per path;
    unknown layouts report a huge count so fan_out stays a no-op."""
    if path is None:
        return 1  # explicit fan-out request with no file to inspect
    if path not in _cache:
        try:
            import pyarrow.dataset as ds

            n = 0
            for frag in ds.dataset(path, format="parquet").get_fragments():
                n += frag.metadata.num_row_groups
                if n >= 1024:
                    break
            _cache[path] = n
        except Exception:
            _cache[path] = 1 << 30
    return _cache[path]


def epoch_us(col):
    """Wall-clock epoch microseconds of a TIMESTAMP_NTZ column — the exact
    integer DuckDB's ``epoch_us(ts)`` computes on the same naive parquet
    value. NTZ−NTZ subtraction is pure LocalDateTime arithmetic (the
    day-time interval → exact decimal seconds → µs), identical under ANY
    session timezone. Deliberately NOT ``unix_micros`` (rejects NTZ) and
    NOT ``timestamp_diff`` (Spark promotes its NTZ args through
    TimestampType, which mis-maps wall times inside a DST spring-forward
    gap of the session zone)."""
    from pyspark.sql import functions as F

    delta = col - F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return (delta.cast("decimal(30,6)") * 1_000_000).cast("long")


def normalize_ts_columns(df: DataFrame) -> DataFrame:
    """Normalize every timestamp-ish column to TIMESTAMP_NTZ carrying the
    file's naive wall-clock value — the timezone-invariant representation
    (NTZ never consults the session zone; DuckDB reads the same files as
    naive TIMESTAMP, so both engines compute on identical wall clocks):

    - TIMESTAMP(MICROS, NTZ)          → TIMESTAMP_NTZ already: unchanged
    - TIMESTAMP(NANOS) + nanosAsLong  → long nanos: µs offset from the NTZ
      epoch (truncating ns→µs, matching DuckDB's read of the same file)
    - TIMESTAMP(MICROS, UTC-adjusted) → TimestampType: reattach the UTC
      wall clock via unix_micros (LTZ→epoch is zone-free) + NTZ epoch add
    """
    from pyspark.sql import functions as F

    ntz_epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    out = df
    for cname, ctype in df.dtypes:
        if cname == "ts" and ctype == "bigint":
            out = out.withColumn(
                cname, F.timestamp_add("MICROSECOND", F.expr("ts div 1000"), ntz_epoch)
            )
        elif ctype == "timestamp":
            out = out.withColumn(
                cname,
                F.timestamp_add("MICROSECOND", F.unix_micros(F.col(cname)), ntz_epoch),
            )
    return out


# Back-compat alias: streaming/events.py normalizes its file-source stream
# through the same path as the batch catalog.
normalize_events_ts = normalize_ts_columns
