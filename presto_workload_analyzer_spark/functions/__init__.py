"""Scalar column kernels: pure Column expressions, no Python UDFs.

Everything here stays JVM-side inside whole-stage codegen.
"""

from presto_workload_analyzer_spark.functions.units import (
    SIZE_UNITS,
    TIME_UNITS,
    parse_size,
    parse_time,
)
from presto_workload_analyzer_spark.functions.timeutil import (
    query_timestamp,
    trunc_date,
    trunc_hour,
)
from presto_workload_analyzer_spark.functions.labels import (
    normalize_sql,
    strip_operator_suffix,
)

__all__ = [
    "normalize_sql",
    "SIZE_UNITS",
    "TIME_UNITS",
    "parse_size",
    "parse_time",
    "query_timestamp",
    "trunc_date",
    "trunc_hour",
    "strip_operator_suffix",
]
