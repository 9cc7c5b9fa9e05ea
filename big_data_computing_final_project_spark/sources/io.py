"""File sources/sinks (SURVEY.md §2.1).

S1 (CSV scan): the reference does `pd.read_csv(path)` with inference
(`house_predict.py:565-566`); the engine's default takes an explicit
StructType (inference = an extra full scan at 100 TB) but exposes the
inference path for parity.

S2 (CSV sink): `df.to_csv(name, index=False)` (`house_predict.py:627-628`).
Spark writes a directory of part files; `single_file=True` coalesces to one
partition — correct for submission-sized outputs, documented as a
deliberate anti-pattern for large results.

S4 (Parquet): the engine's native format; writes support partition columns
so downstream scans prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """S1 — CSV scan. Explicit schema by default; falls back to inference
    (one extra pass) when none is given, matching the reference's reader."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small result held in Python (a list of row tuples) as a DataFrame
    that plans as ``LocalTableScan``.

    ``spark.createDataFrame(<list>, schema)`` ships the rows as a pickled
    Python RDD (``applySchemaToPythonRDD``), so every job that reads the
    frame starts Python worker tasks, even for one row. Built from an
    Arrow table instead, the rows land in the JVM once and reading them
    costs no Python task. ``schema`` is a DDL string; the result has
    exactly that schema, empty ``rows`` included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.StructType.fromDDL(schema)
    arrow = pa.struct(list(to_arrow_schema(struct)))
    return spark.createDataFrame(pa.Table.from_struct_array(pa.array(rows, type=arrow)), struct)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S4 — Parquet scan (pushdown + pruning come free)."""
    return spark.read.parquet(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """S1+ — JSON-lines scan (the interchange format of text-corpus
    pipelines). Explicit schema by default — JSON inference is a full
    extra scan AND can mistype sparse fields; pass none only for
    exploration."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """S2+ — JSON-lines sink, gzip by default (JSONL is ~3-5x larger than
    parquet; compress unless a downstream line-reader needs raw)."""
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """S4+ — ORC scan (the other columnar interchange format; predicate
    pushdown and column pruning work the same as parquet)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S2 — CSV sink with header, no index column (Spark has none)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", "true").csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_submission(pred_df: DataFrame, path: str, id_col: str = "id", pred_col: str = "prediction") -> None:
    """The reference's submission sink done key-safe: ids flow through the
    pipeline as a column (never positional zip — `house_predict.py:622-625`
    has no shuffle-safe analogue, SURVEY §4 hard parts)."""
    out = pred_df.select(
        F.col(id_col).alias("id"), F.col(pred_col).cast("long").alias("label")
    ).orderBy("id")
    write_csv(out, path, single_file=True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """S4+ — bucketed table sink: pre-shuffles data into `num_buckets`
    hash buckets on `bucket_cols` at WRITE time, so every later
    join/aggregation on those keys is exchange-free (the scan reports
    bucketing and Catalyst drops the shuffle). This is the 100 TB pattern
    for fact-fact joins read many times (orders ⋈ lineitem on orderkey):
    pay one shuffle once, at ingest, instead of per query.

    Buckets are also sorted on the keys, so sort-merge joins skip their
    sort. `path` makes it an external table (tests point this at tmp)."""
    writer = (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_binary_dir(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """S5 — binary-blob ingest (image/audio/video shards) via Spark's
    ``binaryFile`` source: (path, modificationTime, length, content) per
    file, projected to a stable media frame keyed by file name.

    Scale notes: the same reader walks object-store prefixes with
    millions of objects; ``pathGlobFilter`` prunes by extension at listing
    time (before any byte is read), and each file is one row in one task —
    pair with ``catalog.fan_out``-style repartition when downstream decode
    is CPU-bound and files-per-split is low. Files over
    ``spark.sql.sources.binaryFile.maxLength`` (2 GiB default) fail fast
    rather than truncate.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    return df.select(
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.col("content"),
    )
