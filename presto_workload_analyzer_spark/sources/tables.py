"""Parquet table reader that tolerates nanosecond timestamps.

The driver's synthetic tables (TESTDATA.md) store timestamps as parquet
TIMESTAMP(NANOS), which Spark's parquet reader refuses
(PARQUET_TYPE_ILLEGAL). With `spark.sql.legacy.parquet.nanosAsLong=true`
(set in session.get_spark) those columns arrive as nanosecond longs; here we
detect them from the parquet footer via pyarrow and restore proper
TimestampType (microsecond truncation — same thing DuckDB returns when
casting TIMESTAMP_NS to TIMESTAMP, so the correctness oracle agrees).

This is metadata-only work on the driver (one footer read per table); the
per-row conversion is a codegen'd DIV + timestamp_micros, no UDFs.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pyarrow.types as pat
from pyspark.sql import DataFrame, SparkSession, functions as F


def _nano_ts_columns(path: str) -> list[str]:
    """Column names stored as timestamp[ns] in the parquet footer."""
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not files:
            return []
        path = files[0]
    schema = pq.read_schema(path)
    return [
        field.name
        for field in schema
        if pat.is_timestamp(field.type) and field.type.unit == "ns"
    ]


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet + restore TimestampType for nano-stamped columns."""
    df = spark.read.parquet(path)
    for name in _nano_ts_columns(path):
        df = df.withColumn(name, F.timestamp_micros(F.expr(f"`{name}` DIV 1000")))
    return df


def read_sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, os.path.join(sf_dir, f"{name}.parquet"))


def min_row_parallelism(df: DataFrame) -> DataFrame:
    """Give row-wise CPU-DENSE downstream work (media decode, per-char
    regex batteries, n-gram expansion) at least the session's core count
    of tasks.

    Why this exists: parquet splits at row-group grain, so a small
    single-row-group file arrives as ONE input split no matter how many
    cores the executor has — and a per-row compute kernel (where CPU per
    row ≫ bytes per row) then runs its entire map phase on one thread
    while 31 cores idle. Scan parallelism follows BYTES; decode/regex
    parallelism must follow ROWS.

    Scale posture (100 TB): a production corpus is thousands of files,
    the scan already yields ≥ cores input splits, and this helper is a
    structural NO-OP — the partition check makes the repartition (and
    its shuffle) vanish exactly where it would be expensive. The shuffle
    only ever materializes for inputs small enough to arrive as fewer
    splits than cores, where its cost is microscopic next to the map
    work it parallelizes.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
