"""Structured Streaming ingest: synthetic tables as file-source streams
(`stream_sf_table`), which the registry's streaming queries and the
stateful operators (sessions, joins, funnel) consume.

Scale posture:
  * per-stream state partitions (`state_partitions`) sized to the stream,
    not to the batch shuffle default;
  * `drain` runs a stream to completion and hands back a batch DataFrame
    (the registry's streaming queries and their tests): one bounded wait,
    no leftover memory-sink view, no partial result on timeout.
"""

from __future__ import annotations

import contextlib as _contextlib
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T


def stream_sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A synthetic testdata table as a file-source stream.

    Handles three quirks of the driver's parquet: single-file layout (the
    file source requires a directory or glob — a one-character glob class
    keeps basePath a directory), TIMESTAMP(NANOS) columns (arriving as
    nano longs under nanosAsLong; converted to micros like sources.tables),
    and TIMESTAMP(MICROS, isAdjustedToUTC=false) columns (arriving as
    TIMESTAMP_NTZ, which event-time operators — withWatermark, window,
    session_window — reject; cast to session-tz TimestampType, value-
    preserving under the engine's pinned UTC session timezone).
    """
    import os

    from presto_workload_analyzer_spark.sources.tables import (
        _nano_ts_columns,
        read_table,
    )

    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = read_table(spark, path).schema
    nano_cols = set(_nano_ts_columns(path))
    raw_schema = T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name in nano_cols else f.dataType)
            for f in schema.fields
        ]
    )
    glob_path = f"{path[:-1]}[{path[-1]}]"
    df = spark.readStream.schema(raw_schema).parquet(glob_path)
    for c in nano_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    for f in raw_schema.fields:
        if f.name not in nano_cols and isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


@_contextlib.contextmanager
def state_partitions(spark: SparkSession, n: int):
    """Scope `spark.sql.shuffle.partitions` around a streaming query start.

    Stateful operators allocate one state store per shuffle partition per
    operator, and the partition count is frozen into the checkpoint at
    first start — so a stream inherits the BATCH shuffle default unless
    told otherwise. Size it to the stream (throughput x key cardinality),
    not to the corpus: on local micro-batches the per-store open/commit
    overhead dominates (measured ~2x end-to-end for the s-queries at 8 vs
    32); on a real cluster the same knob is how you stop a small dimension
    stream from fragmenting into a thousand tiny stores.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drain the stream into an in-memory table (tests/dev only).

    Complete-mode drains skip the trailing NO-DATA micro-batch (r16):
    availableNow runs one batch over the backlog and then a no-data batch
    whose only jobs are watermark advancement and final-result emission
    for APPEND-mode operators — in complete mode the sink already holds
    the full aggregation state after the data batch and watermark
    eviction is disabled, so the extra batch recomputes the identical
    table and costs a second full stateful-commit cycle (measured
    0.7-1.5 s of the ~2.2 s per-drain floor; s01 2.9 -> 1.0 s with
    identical rows). Append-mode drains keep it: outer-join results and
    closed windows only emit on that final watermark advance (verified:
    disabling it globally changes s02/s05 results). The conf is scoped
    around start() — a streaming query captures the session conf when it
    starts, the same contract state_partitions relies on."""
    spark = df.sparkSession
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if output_mode != "complete":
        return writer.start()
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        return writer.start()
    finally:
        spark.conf.set(key, old)


def drain(
    df: DataFrame,
    output_mode: str = "append",
    partitions: int | None = None,
    timeout: float = 300,
) -> DataFrame:
    """Run a streaming DataFrame to completion and return its result as a
    batch DataFrame.

    The stream runs through `run_to_memory` under a generated query name,
    inside `state_partitions(spark, partitions)` when `partitions` is
    given. A stream still running after `timeout` seconds is stopped and
    raises TimeoutError, so a partial table is never returned. The memory
    sink's temp view is dropped on every exit path.
    """
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    scope = (
        state_partitions(spark, partitions)
        if partitions is not None
        else _contextlib.nullcontext()
    )
    try:
        with scope:
            q = run_to_memory(df, name, output_mode=output_mode)
            if not q.awaitTermination(timeout):
                q.stop()
                raise TimeoutError(f"stream drain {name} did not finish in {timeout} s")
        table = spark.table(name)
        rows, schema = table.collect(), table.schema
    finally:
        spark.catalog.dropTempView(name)
    # a live memory-sink table goes stale and cannot feed several plan branches
    return spark.createDataFrame(rows, schema)
