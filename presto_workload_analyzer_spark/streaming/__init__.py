"""Structured Streaming: file-source ingest, windowed and stateful
operators, production sinks, and `drain`, which runs a stream to
completion and returns its result as a batch DataFrame."""

from presto_workload_analyzer_spark.streaming.funnel import funnel_conversions
from presto_workload_analyzer_spark.streaming.joins import interval_join
from presto_workload_analyzer_spark.streaming.sessions import query_sessions
from presto_workload_analyzer_spark.streaming.ingest import (
    drain,
    idempotent_parquet_batch_sink,
    queries_by_window,
    run_to_memory,
    scheduled_by_window,
    state_partitions,
    stream_sf_table,
    stream_summaries,
    write_stream_foreach_batch,
    write_stream_parquet,
)

__all__ = [
    "funnel_conversions",
    "interval_join",
    "query_sessions",
    "drain",
    "idempotent_parquet_batch_sink",
    "queries_by_window",
    "run_to_memory",
    "scheduled_by_window",
    "state_partitions",
    "stream_sf_table",
    "stream_summaries",
    "write_stream_foreach_batch",
    "write_stream_parquet",
]
