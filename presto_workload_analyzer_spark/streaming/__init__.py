"""Structured Streaming: file-source ingest, stateful operators, and
`drain`, which runs a stream to completion and returns its result as a
batch DataFrame."""

from presto_workload_analyzer_spark.streaming.funnel import funnel_conversions
from presto_workload_analyzer_spark.streaming.joins import interval_join
from presto_workload_analyzer_spark.streaming.sessions import query_sessions
from presto_workload_analyzer_spark.streaming.ingest import (
    drain,
    run_to_memory,
    state_partitions,
    stream_sf_table,
)

__all__ = [
    "funnel_conversions",
    "interval_join",
    "query_sessions",
    "drain",
    "run_to_memory",
    "state_partitions",
    "stream_sf_table",
]
