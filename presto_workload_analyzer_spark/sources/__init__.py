"""Sources & sinks: parquet test tables, summary JSONL, raw QueryInfo."""

from presto_workload_analyzer_spark.sources.tables import (
    min_row_parallelism,
    read_table,
)

__all__ = ["min_row_parallelism", "read_table"]
