"""Scalar kernel tests: unit parsing, timestamps, labels.

Property-style coverage mirrors reference extract.py:30-63 semantics
(suffix order, bare-float fall-through, None passthrough).
"""

import math

from pyspark.sql import Row, functions as F

from presto_workload_analyzer_spark.functions import (
    SIZE_UNITS,
    TIME_UNITS,
    parse_size,
    parse_time,
    query_timestamp,
    strip_operator_suffix,
    trunc_date,
    trunc_hour,
)


def _run(spark, values, expr):
    df = spark.createDataFrame([Row(s=v) for v in values], "s string")
    return [r.out for r in df.select(expr(F.col("s")).alias("out")).collect()]


def test_parse_time_suffixes(spark):
    cases = {
        "5ns": 5e-9,
        "5us": 5e-6,
        "5ms": 5e-3,
        "5s": 5.0,
        "5m": 300.0,
        "5h": 18000.0,
        "5d": 432000.0,
        "1.5ms": 0.0015,
        "0s": 0.0,
        "42": 42.0,  # bare float fall-through, extract.py:55
    }
    out = _run(spark, list(cases), parse_time)
    for (k, expected), got in zip(cases.items(), out):
        assert math.isclose(got, expected, rel_tol=1e-12), (k, got, expected)


def test_parse_time_null_passthrough(spark):
    assert _run(spark, [None], parse_time) == [None]


def test_parse_size_suffixes(spark):
    cases = {
        "1B": 1.0,
        "2kB": 2048.0,
        "3MB": 3 * 1024.0**2,
        "4GB": 4 * 1024.0**3,
        "5TB": 5 * 1024.0**4,
        "1.5kB": 1536.0,
        "7": 7.0,
    }
    out = _run(spark, list(cases), parse_size)
    for (k, expected), got in zip(cases.items(), out):
        assert math.isclose(got, expected, rel_tol=1e-12), (k, got, expected)


def test_parse_roundtrip_property(spark):
    # every suffix x magnitude round-trips through string formatting
    vals, exprs, expected = [], None, []
    for suffix, factor in TIME_UNITS:
        for mag in (0.001, 1.0, 123.456, 9e6):
            vals.append(f"{mag}{suffix}")
            expected.append(mag * factor)
    out = _run(spark, vals, parse_time)
    for v, e, g in zip(vals, expected, out):
        assert math.isclose(g, e, rel_tol=1e-12), (v, g, e)
    vals, expected = [], []
    for suffix, factor in SIZE_UNITS:
        for mag in (0.5, 1.0, 777.25):
            vals.append(f"{mag}{suffix}")
            expected.append(mag * factor)
    out = _run(spark, vals, parse_size)
    for v, e, g in zip(vals, expected, out):
        assert math.isclose(g, e, rel_tol=1e-12), (v, g, e)


def test_query_timestamp(spark):
    df = spark.createDataFrame(
        [Row(q="20240102_030405_00001_abcde")], "q string"
    ).select(
        query_timestamp("q").alias("ts"),
        trunc_date(query_timestamp("q")).alias("d"),
        trunc_hour(query_timestamp("q")).alias("h"),
    )
    r = df.collect()[0]
    assert str(r.ts) == "2024-01-02 03:04:05"
    assert str(r.d) == "2024-01-02"
    assert str(r.h) == "2024-01-02 03:00:00"


def test_strip_operator_suffix(spark):
    out = _run(spark, ["ScanFilterAndProjectOperator"], strip_operator_suffix)
    assert out == ["ScanFilterAndProject"]
