"""Driver/executor-side (plain Python) twins of the unit-parsing kernels.

Used inside the mapInPandas extract stage, where metrics arrive as nested
JSON string values before any DataFrame column exists. Shares the
suffix-order tables with functions.units so both paths agree
(reference extract.py:30-63).
"""

from __future__ import annotations

from presto_workload_analyzer_spark.functions.units import SIZE_UNITS, TIME_UNITS


def _parse(s: str | None, units: list[tuple[str, float]]) -> float | None:
    """A unit string -> its value in base units; None for None or an
    unparsable string. Any other type (a JSON object, array or number
    where QueryInfo writes a string) raises ValueError, which the extract
    stage treats like a missing mandatory key: the record is skipped."""
    if s is None:
        return None
    if not isinstance(s, str):
        raise ValueError(f"expected a unit string, got {type(s).__name__}")
    for suffix, factor in units:
        if s.endswith(suffix):
            try:
                return float(s[: -len(suffix)]) * factor
            except ValueError:
                return None
    try:
        return float(s)
    except ValueError:
        return None


def parse_time_py(s: str | None) -> float | None:
    return _parse(s, TIME_UNITS)


def parse_size_py(s: str | None) -> float | None:
    return _parse(s, SIZE_UNITS)
