"""Driver-gate queries: every SURVEY.md §2 operator as (Spark, oracle-SQL) pair.

The round driver runs each `queries()[name](spark, sf_dir)` and the matching
`oracle_sql()[name]` through DuckDB on the same parquet tables and compares
row-count + schema + order-insensitive value hash (see __spark_entry__.py).

Strategy: the engine's real input is a Presto workload log, which the driver
tables don't contain — so a thin ADAPTER layer maps the synthetic tables
onto the engine's silver-table contracts (events -> queries corpus,
lineitem -> operator summaries, lineitem x part -> plan-node scan
attribution, orders -> join nodes + probe/build operator pairs), and each
driver query then runs the REAL analyzer from operators/analyzers.py on the
adapted frames. The oracle SQL reproduces adapter + analyzer in ANSI SQL.
This hash-checks the genuine engine lineage, not a parallel reimplementation.

Determinism rules (Spark vs DuckDB must agree bit-for-bit):
  * derived columns use identical fp expressions on both sides (exact);
  * aggregate sums are order-dependent in the last ulp -> every aggregated
    double output is rounded to 6 decimals AFTER scaling to O(1..1e3)
    magnitude, on both sides;
  * double->long conversions: Spark CAST truncates, DuckDB CAST rounds ->
    oracle uses CAST(trunc(x) AS BIGINT);
  * no output column is named a DuckDB reserved word (user, update, ...).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable
from datetime import timedelta

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F, types as T

from presto_workload_analyzer_spark.extensions import (
    dedup as X_dedup,
    graph as X_graph,
    multimodal as X_mm,
    profile as X_prof,
    sampling as X_samp,
    similarity as X_sim,
    sketches as X_sk,
    temporal as X_temp,
    textstats as X_text,
)
from presto_workload_analyzer_spark.extensions.gifcodec import encode_gif
from presto_workload_analyzer_spark.extensions.jpegcodec import encode_jpeg
from presto_workload_analyzer_spark.functions import (
    normalize_sql,
    parse_size,
    parse_time,
    query_timestamp,
)
from presto_workload_analyzer_spark.materialize import materialize
from presto_workload_analyzer_spark.operators import analyzers as A
from presto_workload_analyzer_spark.operators.skew import salted_agg
from presto_workload_analyzer_spark.privacy.obfuscate import (
    build_translation,
    generalize_quasi,
    k_anonymize,
    l_diversity,
    laplace_noise,
    noisy_counts,
    t_closeness,
)
from presto_workload_analyzer_spark.sources.tables import min_row_parallelism, read_sf_table
from presto_workload_analyzer_spark.streaming import (
    drain,
    funnel_conversions,
    interval_join,
    query_sessions,
    stream_sf_table,
)
from presto_workload_analyzer_spark.streaming.cusum import cusum_alarms

# --------------------------------------------------------------------------
# Adapters: synthetic tables -> engine silver contracts
#
# Each adapter is persisted once per (session, sf_dir) — the SURVEY §4.2
# architecture: silver tables are cached ONCE and all analyzers share them,
# instead of the reference's 28 re-scans of the corpus. First use pays the
# materialization; every later query reads executor-cached columnar blocks.
# --------------------------------------------------------------------------

_ADAPTER_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _cached_adapter(kind, spark, sf_dir, build):
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    df = _ADAPTER_CACHE.get(key)
    if df is None:
        # persist-only — measured, not assumed (r15). Three forms were
        # A/B'd in full benches: (a) plain persist (the control), (b)
        # localCheckpoint only, (c) checkpoint+persist. (b) lost the
        # columnar cache (uniform ~1.5-2x drag on the adapter-reading
        # analyzers); (c) looked best in one in-stack run but warm-solo
        # A/B of the first consumers showed WHY it cannot win: a "lazy"
        # localCheckpoint is not lazy — at CALL time it re-plans the
        # build and eagerly materializes every upstream AQE stage
        # (measured: 3 jobs fire inside the localCheckpoint() call
        # itself), so a codegen-heavy silver build pays planning twice
        # (x33's embedding-pair silver: 6.5 s persist-only vs 11.2 s
        # combo, solo; a18/x51/xs27 regressed the same way in-stack).
        # The monster-plan problem the checkpoint was meant to solve
        # (x100 at 371 Exchange instances) lives in operator-INTERNAL
        # multiply-referenced frames and is fixed there (materialize.py
        # sites in graph/dedup/textstats); adapter consumers reference a
        # silver once or twice per plan, so lineage in consumer plans is
        # cheap. Eviction never silently recomputes: DataFrame.persist's
        # MEMORY_AND_DISK spills to disk instead of dropping the blocks.
        df = build().persist()
        _ADAPTER_CACHE[key] = df
    return df


def workload_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_adapter("queries", spark, sf_dir, lambda: _workload_queries(spark, sf_dir))


def _workload_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> the `queries` silver contract (one synthetic query per event).

    Deterministic arithmetic only; the FAILED filter (reference
    analyze.py:1233-1234) and the query_ts derivation from query_id
    (analyze.py:62-63) both run through the real engine code paths.
    """
    ev = read_sf_table(spark, sf_dir, "events")
    df = ev.select(
        F.concat(
            F.date_format("ts", "yyyyMMdd_HHmmss"),
            F.lit("_"),
            F.lpad((F.col("event_id") % 100000).cast("string"), 5, "0"),
            F.lit("_aaaaa"),
        ).alias("query_id"),
        F.concat(F.lit("user_"), (F.col("user_id") % 30).cast("string")).alias("user"),
        F.when(F.col("event_type") == "error", "FAILED").otherwise("FINISHED").alias("state"),
        F.when(F.col("event_type") == "purchase", "INSERT")
        .when(F.col("event_type") == "signup", "CREATE TABLE")
        .alias("update"),
        (F.col("value") * 1.5).alias("elapsed_time"),
        (F.col("value") * 0.6).alias("cpu_time"),
        F.col("value").alias("scheduled_time"),
        (F.col("value") * 0.1).alias("blocked_time"),
        (F.col("value") * 1e9).alias("input_size"),
        (F.col("value") * 1e7).alias("output_size"),
        (F.col("value") * 1000).cast("long").alias("input_rows"),
        (F.col("value") * 10).cast("long").alias("output_rows"),
        (F.col("value") * 2e8).alias("peak_mem"),
    )
    return df.withColumn("query_ts", query_timestamp("query_id")).filter(
        F.col("state") != "FAILED"
    )


_WORKLOAD_SQL = """
workload AS (
  SELECT
    strftime(ts, '%Y%m%d_%H%M%S') || '_' ||
      lpad(CAST(event_id % 100000 AS VARCHAR), 5, '0') || '_aaaaa' AS query_id,
    'user_' || CAST(user_id % 30 AS VARCHAR) AS user_name,
    CASE WHEN event_type = 'error' THEN 'FAILED' ELSE 'FINISHED' END AS state,
    CASE WHEN event_type = 'purchase' THEN 'INSERT'
         WHEN event_type = 'signup' THEN 'CREATE TABLE' END AS update_type,
    value * 1.5 AS elapsed_time,
    value * 0.6 AS cpu_time,
    value AS scheduled_time,
    value * 0.1 AS blocked_time,
    value * 1e9 AS input_size,
    value * 1e7 AS output_size,
    CAST(trunc(value * 1000) AS BIGINT) AS input_rows,
    CAST(trunc(value * 10) AS BIGINT) AS output_rows,
    value * 2e8 AS peak_mem
  FROM events
),
queries AS (
  SELECT *, strptime(substr(query_id, 1, 15), '%Y%m%d_%H%M%S') AS query_ts
  FROM workload WHERE state <> 'FAILED'
)
"""


def workload_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_adapter("operators", spark, sf_dir, lambda: _workload_operators(spark, sf_dir))


def _workload_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> the `operators` silver contract (one operator per lineitem).

    op_type cycles through six Presto operator names keyed on l_linenumber;
    input_rows is a prime constant (997) so selectivities 10*qty/997 never
    sit on a 0.1-rounding boundary (keeps the histogram quirk fp-stable
    across engines); a sparse l_partkey stripe sets input_rows=0 to exercise
    the reference's input_rows>0 guards (analyze.py:631-632, 774-777).
    """
    li = read_sf_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("string").alias("query_id"),
        F.col("l_linenumber").cast("string").alias("node_id"),
        F.when(F.col("l_linenumber") % 6 == 0, "TableScanOperator")
        .when(F.col("l_linenumber") % 6 == 1, "ScanFilterAndProjectOperator")
        .when(F.col("l_linenumber") % 6 == 2, "FilterAndProjectOperator")
        .when(F.col("l_linenumber") % 6 == 3, "HashAggregationOperator")
        .when(F.col("l_linenumber") % 6 == 4, "LookupJoinOperator")
        .otherwise("TaskOutputOperator")
        .alias("op_type"),
        F.col("l_extendedprice").alias("input_size"),
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("output_size"),
        F.when(F.col("l_partkey") % 97 == 0, F.lit(0))
        .otherwise(F.lit(997))
        .cast("long")
        .alias("input_rows"),
        (F.col("l_quantity") * 10).cast("long").alias("output_rows"),
        F.col("l_tax").alias("input_wall"),
        F.col("l_discount").alias("output_wall"),
        (F.col("l_tax") * 0.5).alias("finish_wall"),
    )


_OPS_SQL = """
ops AS (
  SELECT
    CAST(l_orderkey AS VARCHAR) AS query_id,
    CAST(l_linenumber AS VARCHAR) AS node_id,
    CASE CAST(l_linenumber % 6 AS INT)
      WHEN 0 THEN 'TableScanOperator'
      WHEN 1 THEN 'ScanFilterAndProjectOperator'
      WHEN 2 THEN 'FilterAndProjectOperator'
      WHEN 3 THEN 'HashAggregationOperator'
      WHEN 4 THEN 'LookupJoinOperator'
      ELSE 'TaskOutputOperator' END AS op_type,
    l_extendedprice AS input_size,
    l_extendedprice * (1.0 - l_discount) AS output_size,
    CAST(CASE WHEN l_partkey % 97 = 0 THEN 0 ELSE 997 END AS BIGINT) AS input_rows,
    CAST(trunc(l_quantity * 10) AS BIGINT) AS output_rows,
    l_tax AS input_wall,
    l_discount AS output_wall,
    l_tax * 0.5 AS finish_wall
  FROM lineitem
)
"""


def workload_plan_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_adapter("plan_nodes", spark, sf_dir, lambda: _workload_plan_nodes(spark, sf_dir))


def _workload_plan_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem x part -> plan_nodes rows carrying deepest_scan_table.

    Mirrors the flatten stage's output contract (SURVEY.md §4.3): the
    deepest-scan table identity is precomputed per (query_id, node_id).
    25 distinct p_brand values give a top-K-worthy table population.
    """
    li = read_sf_table(spark, sf_dir, "lineitem")
    pa = read_sf_table(spark, sf_dir, "part")
    return li.join(pa, li.l_partkey == pa.p_partkey).select(
        F.col("l_orderkey").cast("string").alias("query_id"),
        F.col("l_linenumber").cast("string").alias("node_id"),
        F.lit("tablescan").alias("node_type"),
        F.concat(F.lit("tpch."), F.lower(F.col("p_brand"))).alias("deepest_scan_table"),
    )


_PNODES_SQL = """
pnodes AS (
  SELECT
    CAST(l_orderkey AS VARCHAR) AS query_id,
    CAST(l_linenumber AS VARCHAR) AS node_id,
    'tablescan' AS node_type,
    'tpch.' || lower(p_brand) AS deepest_scan_table
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
"""


def workload_join_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_adapter("join_nodes", spark, sf_dir, lambda: _workload_join_nodes(spark, sf_dir))


def _workload_join_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> join-typed plan_nodes (one physical join per order).

    o_orderstatus picks the join kind exercised (reference
    analyze.py:1055-1066): 'O' -> hash join (criteria=1, INNER),
    'F' -> cross join (criteria=0, INNER), 'P' -> semijoin.
    """
    o = read_sf_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").cast("string").alias("query_id"),
        F.lit("jn").alias("node_id"),
        F.when(F.col("o_orderstatus") == "P", "semijoin").otherwise("join").alias("node_type"),
        F.when(F.col("o_orderstatus") == "P", F.lit(None).cast("string"))
        .otherwise(F.lit("INNER"))
        .alias("join_type"),
        F.when(F.col("o_orderstatus") == "F", 0).otherwise(1).alias("criteria_count"),
        F.when(F.col("o_orderkey") % 2 == 0, "PARTITIONED")
        .otherwise("REPLICATED")
        .alias("distribution_type"),
    )


_JNODES_SQL = """
jnodes AS (
  SELECT
    CAST(o_orderkey AS VARCHAR) AS query_id,
    'jn' AS node_id,
    CASE WHEN o_orderstatus = 'P' THEN 'semijoin' ELSE 'join' END AS node_type,
    CASE WHEN o_orderstatus = 'P' THEN NULL ELSE 'INNER' END AS join_type,
    CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END AS criteria_count,
    CASE WHEN o_orderkey % 2 = 0 THEN 'PARTITIONED' ELSE 'REPLICATED' END AS distribution_type
  FROM orders
)
"""


def workload_join_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_adapter("join_operators", spark, sf_dir, lambda: _workload_join_operators(spark, sf_dir))


def _workload_join_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> probe + build operator rows matching workload_join_nodes.

    A sparse stripe (o_orderkey % 97 == 0) emits NO operators, exercising
    the reference's skip-on-missing-operator path (analyze.py:1049-1053).
    """
    o = read_sf_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 != 0)
    probe = o.select(
        F.col("o_orderkey").cast("string").alias("query_id"),
        F.lit("jn").alias("node_id"),
        F.when(F.col("o_orderstatus") == "P", "HashSemiJoinOperator")
        .when(F.col("o_orderstatus") == "F", "NestedLoopJoinOperator")
        .otherwise("LookupJoinOperator")
        .alias("op_type"),
        (F.col("o_totalprice") * 2.0).alias("input_size"),
        F.col("o_totalprice").alias("output_size"),
        F.col("o_totalprice").cast("long").alias("input_rows"),
        (F.col("o_totalprice") / 2.0).cast("long").alias("output_rows"),
    )
    build = o.select(
        F.col("o_orderkey").cast("string").alias("query_id"),
        F.lit("jn").alias("node_id"),
        F.when(F.col("o_orderstatus") == "P", "SetBuilderOperator")
        .when(F.col("o_orderstatus") == "F", "NestedLoopBuildOperator")
        .otherwise("HashBuilderOperator")
        .alias("op_type"),
        (F.col("o_totalprice") * 0.25).alias("input_size"),
        (F.col("o_totalprice") * 0.125).alias("output_size"),
        ((F.col("o_custkey") * 7) % 50000).cast("long").alias("input_rows"),
        F.col("o_custkey").cast("long").alias("output_rows"),
    )
    return probe.unionByName(build)


_JOPS_SQL = """
jorders AS (SELECT * FROM orders WHERE o_orderkey % 97 <> 0),
jprobe AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS query_id, 'jn' AS node_id,
    o_totalprice * 2.0 AS input_size, o_totalprice AS output_size,
    CAST(trunc(o_totalprice) AS BIGINT) AS input_rows,
    CAST(trunc(o_totalprice / 2.0) AS BIGINT) AS output_rows,
    o_orderstatus
  FROM jorders
),
jbuild AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS query_id, 'jn' AS node_id,
    o_totalprice * 0.25 AS input_size, o_totalprice * 0.125 AS output_size,
    CAST((o_custkey * 7) % 50000 AS BIGINT) AS input_rows,
    CAST(o_custkey AS BIGINT) AS output_rows,
    o_orderstatus
  FROM jorders
)
"""

_ALL_CTES = (
    "WITH "
    + ",".join(
        s.strip().rstrip(",")
        for s in [_WORKLOAD_SQL, _OPS_SQL, _PNODES_SQL, _JNODES_SQL, _JOPS_SQL]
    )
    + "\n"
)


def _pie_sql(src_select: str, top: int = 20) -> str:
    """SQL mirror of kernels.pie_collapse (reference analyze.py:460-515)."""
    return f"""
, pie_src AS ({src_select})
, pie_tot AS (
    SELECT label, val,
           row_number() OVER (ORDER BY val DESC, label) AS rnk,
           sum(val) OVER () AS total
    FROM pie_src)
, pie_base AS (
    SELECT *, (100.0 * val / total > 0.1 AND rnk < {top}) AS keep
    FROM pie_tot WHERE total > 0)
, pie_kept AS (SELECT label, val, rnk AS ord FROM pie_base WHERE keep)
, pie_rest AS (
    SELECT 'All the rest' AS label, coalesce(sum(val), 0.0) AS val,
           2000000000 AS ord
    FROM pie_base WHERE NOT keep HAVING count(*) > 0)
, pie_all AS (SELECT * FROM pie_kept UNION ALL SELECT * FROM pie_rest)
, pie_fin AS (
    SELECT label, val,
           round(100.0 * val / (sum(val) OVER ()), 2) AS pct_raw,
           row_number() OVER (ORDER BY ord DESC) AS revord
    FROM pie_all)
SELECT label, round(val, 6) AS val,
       CASE WHEN revord = 1
            THEN round(100.0 - (sum(pct_raw) OVER () - pct_raw), 2)
            ELSE pct_raw END AS pct
FROM pie_fin
"""


def _hist_sql(bins: int, max_sel: float) -> str:
    """SQL mirror of kernels.selectivity_histogram (reference analyze.py:622-686)."""
    step = 1.0 / bins
    return f"""
, hsrc AS (
    SELECT CAST(output_rows AS DOUBLE) / input_rows AS sel,
           input_wall + output_wall + finish_wall AS w
    FROM ops WHERE op_type LIKE '%Scan%' AND input_rows > 0)
, hbin AS (
    -- + 0.0 normalizes DuckDB's abs(-0.0) = -0.0 (printf would emit '-0.00')
    SELECT abs(round(sel - {step / 2!r}, 1)) + 0.0 AS bin, w FROM hsrc
    UNION ALL
    SELECT i * {step!r} AS bin, 0.0 AS w FROM range({bins}) t(i) WHERE i * {step!r} < {max_sel!r})
, hlab AS (
    SELECT CASE WHEN bin <= {max_sel!r} + 1e-9 THEN printf('%.2f', bin)
                ELSE 'Above' END AS bin_label, w
    FROM hbin)
, hagg AS (
    -- bin sums first, share-of-total over the aggregated bins (mirrors the
    -- kernel's agg-then-window shape; identical fp expression order)
    SELECT bin_label, sum(w) AS ws FROM hlab GROUP BY bin_label)
SELECT bin_label AS bin,
       round(100.0 * ws / (SELECT sum(ws) FROM hagg), 6) AS wall_pct
FROM hagg ORDER BY bin_label
"""


def _round6(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


def _pie_round(df: DataFrame) -> DataFrame:
    return df.select("label", F.round("val", 6).alias("val"), "pct")


# --------------------------------------------------------------------------
# The query registry
# --------------------------------------------------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str) -> None:
    _QUERIES[name] = fn
    _ORACLES[name] = sql


# -- time series (analyzers 1-6) --

_register(
    "a01_scheduled_by_date",
    lambda spark, sf: _round6(A.scheduled_by_date(workload_queries(spark, sf)), "scheduled_days"),
    _ALL_CTES
    + "SELECT CAST(query_ts AS DATE) AS bucket,"
    "  round(sum(scheduled_time) / 86400.0, 6) AS scheduled_days"
    " FROM queries GROUP BY 1 ORDER BY 1",
)

_register(
    "a02_scheduled_by_hour",
    lambda spark, sf: _round6(A.scheduled_by_hour(workload_queries(spark, sf)), "scheduled_hours"),
    _ALL_CTES
    + "SELECT date_trunc('hour', query_ts) AS bucket,"
    "  round(sum(scheduled_time) / 3600.0, 6) AS scheduled_hours"
    " FROM queries GROUP BY 1 ORDER BY 1",
)

_register(
    "a03_input_by_date",
    lambda spark, sf: _round6(A.input_by_date(workload_queries(spark, sf)), "input_tb"),
    _ALL_CTES
    + "SELECT CAST(query_ts AS DATE) AS bucket,"
    "  round(sum(input_size) / 1e12, 6) AS input_tb"
    " FROM queries GROUP BY 1 ORDER BY 1",
)

_register(
    "a04_input_by_hour",
    lambda spark, sf: _round6(A.input_by_hour(workload_queries(spark, sf)), "input_tb"),
    _ALL_CTES
    + "SELECT date_trunc('hour', query_ts) AS bucket,"
    "  round(sum(input_size) / 1e12, 6) AS input_tb"
    " FROM queries GROUP BY 1 ORDER BY 1",
)

_register(
    "a05_queries_by_date",
    lambda spark, sf: A.queries_by_date(workload_queries(spark, sf)),
    _ALL_CTES
    + "SELECT CAST(query_ts AS DATE) AS bucket, count(*) AS n_queries"
    " FROM queries GROUP BY 1 ORDER BY 1",
)

_register(
    "a06_queries_by_hour",
    lambda spark, sf: A.queries_by_hour(workload_queries(spark, sf)),
    _ALL_CTES
    + "SELECT date_trunc('hour', query_ts) AS bucket, count(*) AS n_queries"
    " FROM queries GROUP BY 1 ORDER BY 1",
)

# -- per-query scatters (7-9, 14-16) --

_register(
    "a07_peak_mem_by_query",
    lambda spark, sf: A.peak_mem_by_query(workload_queries(spark, sf)),
    _ALL_CTES + "SELECT query_ts, peak_mem, query_id FROM queries",
)

_register(
    "a08_input_size_by_query",
    lambda spark, sf: A.input_size_by_query(workload_queries(spark, sf)),
    _ALL_CTES + "SELECT query_ts, input_size, query_id FROM queries",
)

_register(
    "a09_elapsed_time_by_query",
    lambda spark, sf: A.elapsed_time_by_query(workload_queries(spark, sf)),
    _ALL_CTES + "SELECT query_ts, elapsed_time, query_id FROM queries",
)

_register(
    "a14_output_vs_input",
    lambda spark, sf: A.output_vs_input(workload_queries(spark, sf)),
    _ALL_CTES + "SELECT input_size, output_size, query_id FROM queries",
)

_register(
    "a15_scheduled_vs_input",
    lambda spark, sf: A.scheduled_vs_input(workload_queries(spark, sf)),
    _ALL_CTES + "SELECT input_size, scheduled_time, query_id FROM queries",
)

_register(
    "a16_elapsed_vs_input",
    lambda spark, sf: A.elapsed_vs_input(workload_queries(spark, sf)),
    _ALL_CTES + "SELECT input_size, elapsed_time, query_id FROM queries",
)

# -- per-query pies (10-13) --

_register(
    "a10_queries_by_user",
    lambda spark, sf: _pie_round(A.queries_by_user(workload_queries(spark, sf))),
    _ALL_CTES
    + _pie_sql("SELECT user_name AS label, CAST(count(*) AS DOUBLE) AS val FROM queries GROUP BY 1"),
)

_register(
    "a11_scheduled_by_user",
    lambda spark, sf: _pie_round(A.scheduled_by_user(workload_queries(spark, sf))),
    _ALL_CTES
    + _pie_sql("SELECT user_name AS label, sum(scheduled_time) / 86400.0 AS val FROM queries GROUP BY 1"),
)

_register(
    "a12_scheduled_by_update",
    lambda spark, sf: _pie_round(A.scheduled_by_update(workload_queries(spark, sf))),
    _ALL_CTES
    + _pie_sql(
        "SELECT coalesce(update_type, 'SELECT') AS label,"
        " sum(scheduled_time) / 86400.0 AS val FROM queries GROUP BY 1"
    ),
)

_register(
    "a13_input_by_user",
    lambda spark, sf: _pie_round(A.input_by_user(workload_queries(spark, sf))),
    _ALL_CTES
    + _pie_sql("SELECT user_name AS label, sum(input_size) / 1e12 AS val FROM queries GROUP BY 1"),
)

# -- operator analyzers (17, 19-21, 25, 26) --

_register(
    "a17_operator_wall",
    lambda spark, sf: _pie_round(A.operator_wall(workload_operators(spark, sf))),
    _ALL_CTES
    + _pie_sql(
        "SELECT replace(op_type, 'Operator', '') AS label,"
        " sum(input_wall + output_wall + finish_wall) AS val FROM ops GROUP BY 1"
    ),
)

_register(
    "a19_wall_by_selectivity_10",
    lambda spark, sf: _round6(A.wall_by_selectivity_10(workload_operators(spark, sf)), "wall_pct"),
    _ALL_CTES + _hist_sql(bins=10, max_sel=1.0),
)

_register(
    "a20_wall_by_selectivity_100_first_20",
    lambda spark, sf: _round6(
        A.wall_by_selectivity_100_first_20(workload_operators(spark, sf)), "wall_pct"
    ),
    _ALL_CTES + _hist_sql(bins=100, max_sel=0.2),
)

_register(
    "a21_filter_selectivity",
    lambda spark, sf: A.filter_selectivity_1(workload_operators(spark, sf)),
    _ALL_CTES
    + "SELECT input_rows, output_rows, query_id FROM ops WHERE op_type LIKE '%Filter%'",
)

_register(
    "a25_operator_input",
    lambda spark, sf: _pie_round(
        A.operator_input(
            # scale bytes->MB-ish before the pie so the summed magnitude stays
            # round-stable; same scaling in the oracle
            workload_operators(spark, sf).withColumn("input_size", F.col("input_size") / 1e3)
        )
    ),
    _ALL_CTES
    + _pie_sql("SELECT op_type AS label, sum(input_size / 1e3) AS val FROM ops GROUP BY 1"),
)

_register(
    "a26_operator_rows",
    lambda spark, sf: _pie_round(A.operator_rows(workload_operators(spark, sf))),
    _ALL_CTES
    + _pie_sql("SELECT op_type AS label, CAST(sum(input_rows) AS DOUBLE) AS val FROM ops GROUP BY 1"),
)

# -- plan-attribution analyzers (18, 22-24) --

_register(
    "a18_wall_by_table_scan",
    lambda spark, sf: _pie_round(
        A.wall_by_table_scan(workload_operators(spark, sf), workload_plan_nodes(spark, sf))
    ),
    _ALL_CTES
    + _pie_sql(
        "SELECT deepest_scan_table AS label,"
        " sum(input_wall + output_wall + finish_wall) AS val"
        " FROM ops JOIN pnodes USING (query_id, node_id)"
        " WHERE op_type LIKE '%Scan%' GROUP BY 1"
    ),
)

_register(
    "a24_input_size_by_table_scan",
    lambda spark, sf: _pie_round(
        A.input_size_by_table_scan(
            workload_operators(spark, sf).withColumn("input_size", F.col("input_size") / 1e3),
            workload_plan_nodes(spark, sf),
        )
    ),
    _ALL_CTES
    + _pie_sql(
        "SELECT deepest_scan_table AS label, sum(input_size / 1e3) AS val"
        " FROM ops JOIN pnodes USING (query_id, node_id)"
        " WHERE op_type LIKE '%Scan%' GROUP BY 1"
    ),
)

_TOPK_SCANFILTER_SQL = """
, sfops AS (
    SELECT CAST(o.output_rows AS DOUBLE) / o.input_rows AS selectivity,
           o.input_wall + o.output_wall + o.finish_wall AS wall,
           o.input_rows,
           p.deepest_scan_table AS table_name,
           o.query_id
    FROM ops o JOIN pnodes p USING (query_id, node_id)
    WHERE o.op_type LIKE '%ScanFilter%' AND o.input_rows > 0)
, topk AS (
    SELECT table_name FROM (
      SELECT table_name, sum(wall) AS w,
             row_number() OVER (ORDER BY sum(wall) DESC, table_name) AS rnk
      FROM sfops GROUP BY table_name) WHERE rnk <= 5)
"""

_register(
    "a22_walltime_vs_selectivity",
    lambda spark, sf: A.walltime_vs_selectivity(
        workload_operators(spark, sf), workload_plan_nodes(spark, sf)
    ),
    _ALL_CTES
    + _TOPK_SCANFILTER_SQL
    + "SELECT selectivity, wall, table_name, query_id FROM sfops"
    " WHERE table_name IN (SELECT table_name FROM topk)",
)

_register(
    "a23_inputrows_vs_selectivity",
    lambda spark, sf: A.inputrows_vs_selectivity(
        workload_operators(spark, sf), workload_plan_nodes(spark, sf)
    ),
    _ALL_CTES
    + _TOPK_SCANFILTER_SQL
    + "SELECT selectivity, input_rows, table_name, query_id FROM sfops"
    " WHERE table_name IN (SELECT table_name FROM topk)",
)

# -- join analyzers (27, 28) --

_register(
    "a27_joins_sides",
    lambda spark, sf: A.joins_sides(
        workload_join_operators(spark, sf), workload_join_nodes(spark, sf)
    ),
    _ALL_CTES
    + "SELECT b.input_size AS build_input_size, p.input_size AS probe_input_size,"
    " n.distribution_type, n.query_id"
    " FROM jnodes n JOIN jprobe p USING (query_id) JOIN jbuild b USING (query_id)",
)

_register(
    "a28_joins_selectivity",
    lambda spark, sf: A.joins_selectivity(
        workload_join_operators(spark, sf), workload_join_nodes(spark, sf)
    ),
    _ALL_CTES
    + "SELECT greatest(p.input_rows, b.input_rows) AS max_input_rows,"
    " p.output_rows AS output_rows, n.query_id"
    " FROM jnodes n JOIN jprobe p USING (query_id) JOIN jbuild b USING (query_id)",
)

# -- corpus metrics --

_register(
    "a00_collect_metrics",
    lambda spark, sf: _round6(
        A.collect_metrics(workload_queries(spark, sf)), "cpu_days", "scheduled_days", "input_tb"
    ),
    _ALL_CTES
    + "SELECT count(*) AS n_queries,"
    " round(sum(cpu_time) / 86400.0, 6) AS cpu_days,"
    " round(sum(scheduled_time) / 86400.0, 6) AS scheduled_days,"
    " CAST(sum(input_rows) AS BIGINT) AS input_rows,"
    " round(sum(input_size) / 1e12, 6) AS input_tb,"
    " count(DISTINCT CAST(query_ts AS DATE)) AS n_days,"
    " count(DISTINCT user_name) AS n_users"
    " FROM queries",
)

# -- scalar kernel checks: unit parsing driven through real data ------------

_TIME_SUFFIXES = ["ns", "us", "ms", "s", "m", "h", "d"]
_TIME_FACTORS = [1e-9, 1e-6, 1e-3, 1.0, 60.0, 3600.0, 86400.0]
_SIZE_SUFFIXES = ["B", "kB", "MB", "GB", "TB"]
_SIZE_FACTORS = [1.0, 1024.0, 1024.0**2, 1024.0**3, 1024.0**4]


def _k01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_sf_table(spark, sf_dir, "events")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _TIME_SUFFIXES]), (F.col("event_id") % 7 + 1).cast("int")
    )
    s = F.concat(F.col("value").cast("string"), suffix)
    return ev.select(F.col("event_id"), parse_time(s).alias("seconds"))


_register(
    "k01_parse_time_units",
    _k01,
    "SELECT event_id, value * (CASE CAST(event_id % 7 AS INT) "
    + " ".join(f"WHEN {i} THEN {f!r}" for i, f in enumerate(_TIME_FACTORS))
    + " END) AS seconds FROM events",
)


def _k02(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_sf_table(spark, sf_dir, "events")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _SIZE_SUFFIXES]), (F.col("event_id") % 5 + 1).cast("int")
    )
    s = F.concat(F.col("value").cast("string"), suffix)
    return ev.select(F.col("event_id"), parse_size(s).alias("nbytes"))


_register(
    "k02_parse_size_units",
    _k02,
    "SELECT event_id, value * (CASE CAST(event_id % 5 AS INT) "
    + " ".join(f"WHEN {i} THEN {f!r}" for i, f in enumerate(_SIZE_FACTORS))
    + " END) AS nbytes FROM events",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


# --------------------------------------------------------------------------
# Extension queries (SURVEY.md §7 phase 8): dedup / similarity / text /
# multimodal over the documents + embeddings tables.
# --------------------------------------------------------------------------


# The similarity-family ingest contract (similarity.indexable_expr): only
# unit-normalizable vectors are indexable — NULL embeddings (failed
# encodes) and zero-norm vectors (all-masked inputs) are excluded BEFORE
# bucketing/ranking, on BOTH engines, because a NULL cosine reaching a
# rank window places differently across engines. Audit queries (x50)
# deliberately do NOT use this: they exist to report those rows.
_EMB_OK = (
    "embedding IS NOT NULL"
    " AND list_dot_product(CAST(embedding AS DOUBLE[]),"
    " CAST(embedding AS DOUBLE[])) > 0"
)


def read_indexable_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_sf_table(spark, sf_dir, "embeddings")
    return emb.filter(X_sim.indexable_expr(F.col("embedding")))


def shared_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc-grain md5 MinHash signature silver (k=3 shingles, 16
    hashes) under shared_lsh_pairs, cached separately because two
    consumers need the SIGNATURES, not just the pairs: the pair silver's
    banding join, and x93's estimator-calibration (sig agreement rate vs
    exact Jaccard). Doc grain x 16 fixed-width columns — smaller than the
    corpus it summarizes at any scale."""
    return _cached_adapter(
        "minhash_sigs_md5_k3_h16",
        spark,
        sf_dir,
        lambda: X_dedup.minhash_signatures(
            X_dedup.shingles(
                read_sf_table(spark, sf_dir, "documents"),
                "doc_id", "text", k=3, distinct=False,
            ),
            num_hashes=16, mode="md5",
        ),
    )


def shared_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical md5-mode LSH candidate pairs over the full documents
    corpus (k=3, 16 hashes, 4 bands), built ONCE per (session, sf) and
    persisted — the dedup/graph family's shared silver, exactly as the
    workload adapters share theirs: ~14 registry queries consume this
    identical pair set, and re-running the minhash pipeline per query is
    pure waste at bench time. Built FROM the shared_minhash_sigs silver
    (band + bucket-join only), so the shingle->signature shuffle is paid
    once per session across both. The cache holds candidate PAIRS (pair
    grain), not shingles, so it stays tiny at any scale."""
    return _cached_adapter(
        "lsh_pairs_md5_k3_h16_b4",
        spark,
        sf_dir,
        lambda: X_dedup.lsh_candidate_pairs(
            X_dedup.lsh_bands(
                shared_minhash_sigs(spark, sf_dir),
                bands=4, rows_per_band=4, mode="md5",
            )
        ),
    )


# NOTE(round 7): a shared full-corpus exact-truth silver at k=3/t=0.5 was
# tried and measured OUT: prefix_filter_jaccard_join's pruning collapses on
# this template-heavy corpus (9.8 s vs 2.5 s for the co-shingle join at
# sf0.1), and its only would-be consumers want either a SCOPED truth (x127:
# 300 docs — prune at the source) or the co-shingle formulation (x81). A
# cache with one consumer is just indirection; see BASELINE.md round-7.


def shared_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connected_components over shared_lsh_pairs, cached at the same
    (session, sf) grain — the five clustering consumers (x14, x72, x101,
    x103, x104) share one label propagation instead of five."""
    return _cached_adapter(
        "dedup_cc_md5",
        spark,
        sf_dir,
        lambda: X_dedup.connected_components(shared_lsh_pairs(spark, sf_dir)),
    )


def shared_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-side twin of shared_lsh_pairs (round-5 verdict item
    5): verified cosine>0.25 near-dup pairs from the hyperplane-band LSH
    pipeline (4 planes x 2 bands, md5 hyperplanes, n_dims=64 schema
    contract), built ONCE per (session, sf) and persisted. x33 and x64
    previously each re-ran the full band→candidate→exact-cosine chain —
    the two most expensive bench queries of round 5 (9.4 s + 6.0 s);
    now the second consumer pays only its own downstream stages, the
    same economics that took x14 from 3.04 s to 0.08 s. Pair grain with
    the cosine attached, so the cache stays tiny at any scale."""
    return _cached_adapter(
        "embedding_pairs_md5_p4_b2_t025",
        spark,
        sf_dir,
        # indexable filter at the silver's ingest edge (the 100 TB shape:
        # filter once, every pair consumer inherits it) — a zero-norm
        # vector lands in every band's all-ones bucket and a NULL one
        # cannot be bucketed at all
        lambda: X_dedup.blocked_embedding_near_dup_pairs(
            read_indexable_embeddings(spark, sf_dir),
            "vec_id", "embedding", threshold=0.25, n_planes=4, n_bands=2,
            n_dims=64,
        ),
    )


def shared_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connected_components over shared_embedding_pairs, cached at the
    same (session, sf) grain — the embedding twin of
    shared_dedup_clusters. Added in round 11 (r10 verdict item 5): x64's
    warm-solo re-measures ranged 4.1-7.9 s purely because the iterative
    CC chain re-executed per fresh plan construction; with the cluster
    silver cached, a fresh x64 plan pays only the survivor anti-join."""
    return _cached_adapter(
        "embedding_cc_md5_p4_b2_t025",
        spark,
        sf_dir,
        lambda: X_dedup.connected_components(
            shared_embedding_pairs(spark, sf_dir)
        ),
    )


def shared_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact prefix-filter Jaccard pair set (k=4, t=0.5) over the full
    documents corpus, cached at (session, sf) grain: x98 returns it
    verbatim and x122 derives its whole threshold curve from it (lossless
    at t=0.5, so every >=0.5 pair is present with its exact score) — one
    inverted-index self-join instead of two. Pair grain with the jaccard
    attached, so the cache stays tiny at any scale."""
    return _cached_adapter(
        "prefix_jaccard_k4_t05",
        spark,
        sf_dir,
        lambda: X_dedup.prefix_filter_jaccard_join(
            read_sf_table(spark, sf_dir, "documents"),
            "doc_id", "text", k=4, threshold=0.5,
        ),
    )


def _shingle_sql(src: str, p: str = "") -> str:
    """CTEs `{p}tok` and `{p}sh(id, shingle)`: the distinct word 3-shingles
    of each document in `src`."""
    return (
        f"{p}tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM {src}),"
        f" {p}sh AS (SELECT DISTINCT doc_id AS id, array_to_string(w[i:i+2], ' ') AS shingle"
        f" FROM {p}tok, UNNEST(range(1, greatest(len(w)-2, 0)+1)) AS t(i))"
    )


# the trailing space keeps the pinned oracle text's " ," after the CTE
_SHINGLE_SQL = _shingle_sql("documents") + " "
# shingle-set sizes and the shingle overlap of every pair id_a < id_b of `sh`
_OVERLAP_SQL = (
    "sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),"
    " inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS ni"
    " FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2)"
)
# the same, for the candidate pairs `cand(id_a, id_b)` only
_CAND_OVERLAP_SQL = (
    "sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),"
    " inter AS (SELECT c.id_a, c.id_b, count(*) AS ni FROM cand c"
    " JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle"
    " GROUP BY 1, 2)"
)
# the candidate pairs with shingle Jaccard >= 0.3, and that Jaccard
_CAND_JACCARD_SQL = (
    f"{_SHINGLE_SQL}, {_CAND_OVERLAP_SQL}"
    " SELECT id_a, id_b,"
    "  round(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) + 1e-9, 6) AS jaccard"
    " FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b"
    " WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.3"
)

_register(
    "x01_dedup_exact",
    lambda spark, sf: X_dedup.exact_dedup_groups(
        read_sf_table(spark, sf, "documents"), ["text"], "doc_id"
    ).select("canonical_id", "n_copies"),
    "SELECT min(doc_id) AS canonical_id, count(*) AS n_copies"
    " FROM documents GROUP BY text",
)


def _x02(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    return shared_lsh_pairs(spark, sf)


# 4 x 32-bit slices per md5 call, mirroring minhash_signatures' md5 mode
_X02_SIGS = ", ".join(
    f"min(substr(md5(shingle || '#{i // 4}'), {1 + 8 * (i % 4)}, 8)) AS sig_{i}"
    for i in range(16)
)


def _lsh_bands_sql(p: str = "") -> str:
    """x02's LSH table over the shingle CTE `{p}sh`: CTEs `{p}sig` (the
    16 signature slices of each id) and `{p}bands` (4 bands of 4 slices)."""
    bands = " UNION ALL ".join(
        f"SELECT id, {b} AS band, md5(concat_ws('|', sig_{b*4}, sig_{b*4+1},"
        f" sig_{b*4+2}, sig_{b*4+3})) AS band_hash FROM {p}sig"
        for b in range(4)
    )
    return f"{p}sig AS (SELECT id, {_X02_SIGS} FROM {p}sh GROUP BY id), {p}bands AS ({bands})"


_LSH_BANDS_SQL = _lsh_bands_sql()
_LSH_PAIR_SQL = (
    "SELECT DISTINCT a.id AS id_a, b.id AS id_b"
    " FROM bands a JOIN bands b USING (band, band_hash) WHERE a.id < b.id"
)


def _lsh_pairs_sql(name: str) -> str:
    """x02's LSH candidate pairs (id_a < id_b) over `sh` as the CTE `name`."""
    return f"{_LSH_BANDS_SQL}, {name} AS ({_LSH_PAIR_SQL})"


def _cc_sql(pairs: str, e: str) -> str:
    """Connected components of the pair CTE `pairs` by a recursive min-label
    walk, ending at `cc(id, cluster_id)`; `e` aliases the edge CTE (it
    must not shadow a CTE of the enclosing query)."""
    return (
        f"edges AS (SELECT id_a AS src, id_b AS dst FROM {pairs}"
        f"  UNION SELECT id_b, id_a FROM {pairs}),"
        " walk(id, lab) AS ("
        "  SELECT src, src FROM edges"
        "  UNION"
        f"  SELECT {e}.src, w.lab FROM walk w JOIN edges {e} ON {e}.dst = w.id),"
        " cc AS (SELECT id, min(lab) AS cluster_id FROM walk GROUP BY id)"
    )


_register(
    "x02_minhash_lsh_pairs",
    _x02,
    f"WITH {_SHINGLE_SQL}, {_LSH_BANDS_SQL} {_LSH_PAIR_SQL}",
)


def _x20(spark: SparkSession, sf: str) -> DataFrame:
    """The PRODUCTION minhash path (xxhash64, JVM codegen — no md5 in the
    hot loop), driven end-to-end as the full LSH + VERIFY near-dup
    pipeline so it has a real oracle: xxhash64 band candidates are scored
    with EXACT shingle Jaccard (pair-driven join, cost ~ |candidates|) and
    only pairs with J >= 0.9 survive. The expected output — every pair
    with true J >= 0.9 — contains no hash function at all, so DuckDB
    computes it exactly. The oracle holds when LSH recall at the threshold
    is total: at 8 bands x 2 rows, P(miss) <= (1 - 0.9^2)^8 ~ 1.7e-6 per
    pair, and on the fixed testdata recall is deterministic — re-asserted
    by this very comparison every round. A pipeline bug that drops or
    corrupts candidates (banding join, signature slicing, nondeterminism)
    loses true pairs and fails the hash-match. Hash-mode candidate-set
    equivalence (xxhash64 vs md5 at matching params) is pinned Spark-side
    in tests/test_extensions.py."""
    docs = read_sf_table(spark, sf, "documents")
    cand = X_dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=16, bands=8, mode="xxhash64"
    )
    sh = X_dedup.shingles(docs, "doc_id", "text", k=3)
    ver = X_dedup.ngram_jaccard(sh, pairs=cand)
    return ver.filter(F.col("jaccard") >= 0.9).select(
        "id_a", "id_b", F.round(F.col("jaccard") + 1e-9, 6).alias("jaccard")
    )


_register(
    "x20_minhash_xxhash_pairs",
    _x20,
    # the exact J >= 0.9 pair universe — hash-independent expected output
    # of the verified LSH pipeline (see _x20 docstring for the recall bound)
    f"WITH {_SHINGLE_SQL}, {_OVERLAP_SQL},"
    " j AS (SELECT id_a, id_b, CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jac"
    "  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b)"
    " SELECT id_a, id_b, round(jac + 1e-9, 6) AS jaccard FROM j WHERE jac >= 0.9",
)


# x14/x15: the LSH candidate pairs from x02 completed into duplicate
# clusters (connected components) and an actually-deduplicated corpus.
# DuckDB oracle: reachability via WITH RECURSIVE, min label per component.

_X14_CC_SQL = (
    f"WITH RECURSIVE {_SHINGLE_SQL}, {_lsh_pairs_sql('pairs')}, {_cc_sql('pairs', 'e')}"
)


def _x14(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    return shared_dedup_clusters(spark, sf)


_register(
    "x14_dedup_clusters",
    _x14,
    _X14_CC_SQL + " SELECT id, cluster_id FROM cc",
)


def _x15(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    pairs = shared_lsh_pairs(spark, sf)
    return X_dedup.drop_near_duplicates(docs, "doc_id", pairs).select("doc_id")


_register(
    "x15_near_dedup_keep",
    _x15,
    _X14_CC_SQL
    + " SELECT doc_id FROM documents"
    " WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)",
)


def _x03(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents").filter(F.col("doc_id") < 60)
    sh = X_dedup.shingles(docs, "doc_id", "text", k=3)
    return X_dedup.ngram_jaccard(sh).select(
        # +1e-9 before rounding: ratio-of-integers values can land exactly on
        # the 5e-7 half-grid where Spark (decimal-string HALF_UP) and DuckDB
        # (fp-product round) disagree; the nudge moves both off the boundary
        "id_a", "id_b", F.round(F.col("jaccard") + 1e-9, 6).alias("jaccard")
    )


_register(
    "x03_ngram_jaccard",
    _x03,
    f"WITH {_shingle_sql('documents WHERE doc_id < 60')}, {_OVERLAP_SQL}"
    " SELECT id_a, id_b,"
    "  round(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) + 1e-9, 6) AS jaccard"
    " FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b",
)


def _x04_sql() -> str:
    bit_sums = []
    for j in range(16):
        pos, shift = 1 + j // 4, 3 - j % 4
        d = f"(strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1)"
        bit_sums.append(
            f"sum(CASE WHEN ({d} // {2 ** shift}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        )
    packed = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(16)
    )
    return (
        "WITH tk AS (SELECT doc_id AS id,"
        " unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),"
        " th AS (SELECT id, md5(tok) AS h FROM tk),"
        f" bits AS (SELECT id, {', '.join(bit_sums)} FROM th GROUP BY id)"
        f" SELECT id, CAST({packed} AS BIGINT) AS simhash FROM bits"
    )


_register(
    "x04_simhash",
    lambda spark, sf: X_dedup.simhash16(
        read_sf_table(spark, sf, "documents"), "doc_id", "text"
    ),
    _x04_sql(),
)


def _rounded_topk(out: DataFrame) -> DataFrame:
    """A top-k operator's rows as the oracles emit them: cosine rounded to 6
    places, rank as a long."""
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _x05(spark: SparkSession, sf: str) -> DataFrame:
    emb = read_indexable_embeddings(spark, sf)
    out = X_sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return _rounded_topk(out)


def _cos_sql(a: str, b: str) -> str:
    """The cosine of the DOUBLE[] vectors `a` and `b`."""
    return (
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})))"
    )


# the top 5 neighbours of each query_id in the scored pair CTE `s`
_TOPK_RANK_SQL = (
    "r AS (SELECT *, row_number() OVER (PARTITION BY query_id"
    " ORDER BY cosine DESC, neighbor_id) AS rank FROM s)"
)
_TOPK5_SQL = (
    f"{_TOPK_RANK_SQL}"
    " SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank FROM r WHERE rank <= 5"
)


def _cosine_topk_sql(q_where: str, c_where: str) -> str:
    """Exact cosine top-5 of the embeddings matching `q_where` against the
    other embeddings matching `c_where`."""
    return (
        "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv"
        f" FROM embeddings WHERE {q_where}),"
        " c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv"
        f" FROM embeddings WHERE {c_where}),"
        f" s AS (SELECT query_id, neighbor_id, {_cos_sql('qv', 'cv')} AS cosine"
        " FROM q, c WHERE query_id <> neighbor_id),"
        f" {_TOPK5_SQL}"
    )


_register(
    "x05_cosine_topk",
    _x05,
    _cosine_topk_sql(f"vec_id < 10 AND {_EMB_OK}", _EMB_OK),
)

def _x19(spark: SparkSession, sf: str) -> DataFrame:
    emb = read_indexable_embeddings(spark, sf)
    out = X_sim.cosine_topk_pandas(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return _rounded_topk(out)


# same oracle as x05: the Arrow/BLAS physical path must produce the same
# answer as the Column in-order-fold path (round(6) absorbs last-ulp sums)
_register("x19_cosine_topk_pandas", _x19, _ORACLES["x05_cosine_topk"])


def _x06(spark: SparkSession, sf: str) -> DataFrame:
    emb = read_sf_table(spark, sf, "embeddings").filter(F.col("vec_id") < 150)
    out = X_dedup.embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.25)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


_register(
    "x06_embedding_near_dups",
    _x06,
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
    " FROM embeddings WHERE vec_id < 150)"
    " SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
    f" round({_cos_sql('a.v', 'b.v')}, 6) AS cosine"
    " FROM e a JOIN e b ON a.vec_id < b.vec_id"
    f" WHERE {_cos_sql('a.v', 'b.v')} > 0.25",
)


def _x33(spark: SparkSession, sf: str) -> DataFrame:
    """x06's scale path demonstrated end-to-end: embedding near-dup pairs
    over the FULL embeddings table with LSH blocking built in — hyperplane
    buckets (2 bands x 4 planes) generate candidates via equi-join, exact
    cosine verifies. No crossJoin anywhere in the plan (x06 keeps the exact
    all-pairs formulation on a capped subset as the oracle-simple twin);
    the oracle reproduces the same deterministic md5 hyperplanes in SQL, so
    the match is exact including the blocking."""
    # n_dims=64 inside the shared builder is the embeddings-table schema
    # contract (TESTDATA.md): it keeps the operator plan-only, no
    # metadata probe job
    out = shared_embedding_pairs(spark, sf)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _x33_sql() -> str:
    def sign(p: int, i: int) -> int:
        return 1 if hashlib.md5(f"{p}|{i}".encode()).digest()[0] & 1 else -1

    n_dims, n_planes, n_bands = 64, 4, 2
    band_selects = []
    for band in range(n_bands):
        terms = []
        for p in range(n_planes):
            arr = "[" + ", ".join(
                f"{float(sign(band * n_planes + p, i))!r}" for i in range(n_dims)
            ) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {arr}) >= 0 THEN {2 ** p} ELSE 0 END)"
            )
        band_selects.append(
            f"SELECT {band} AS band, vec_id AS id, v, {' + '.join(terms)} AS bucket FROM e"
        )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        f" FROM embeddings WHERE {_EMB_OK}),"
        f" bk AS ({' UNION ALL '.join(band_selects)}),"
        " cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b"
        "  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket"
        "  AND a.id < b.id),"
        " scored AS (SELECT id_a, id_b,"
        f"  {_cos_sql('ea.v', 'eb.v')} AS cosine"
        "  FROM cand JOIN e ea ON cand.id_a = ea.vec_id"
        "  JOIN e eb ON cand.id_b = eb.vec_id)"
        " SELECT id_a, id_b, round(cosine, 6) AS cosine FROM scored"
        " WHERE cosine > 0.25"
    )


_register("x33_blocked_embedding_dedup", _x33, _x33_sql())


def _x34(spark: SparkSession, sf: str) -> DataFrame:
    """Sparse-text twin of the embedding near-dup operators: document-pair
    cosine over L2-normalized TF-IDF via an inverted index (posting-list
    self-join on term) — no all-pairs anywhere; max-df stop-terming bounds
    posting-list skew (extensions.textstats.tfidf_cosine_pairs — see its
    docstring and BASELINE.md's round-5 scaling table for why the measured
    sf1 slope is output-cardinality, not plan shape)."""
    docs = read_sf_table(spark, sf, "documents")
    out = X_text.tfidf_cosine_pairs(
        docs, "doc_id", "text", threshold=0.4, max_df_ratio=0.5
    )
    return out.select(
        "id_a", "id_b", F.round(F.col("cosine") + 1e-9, 6).alias("cosine")
    )


_register(
    "x34_tfidf_doc_pairs",
    _x34,
    "WITH toks AS ("
    "  SELECT doc_id AS id, lower(t.term) AS term"
    "  FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS t(term)),"
    " tf AS (SELECT id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks GROUP BY 1, 2),"
    " dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS dfq FROM tf GROUP BY 1),"
    " nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),"
    " w AS (SELECT id, term, tf * ln(n / dfq) AS w"
    "  FROM tf JOIN dfreq USING (term), nn WHERE dfq <= 0.5 * n),"
    " nrm AS (SELECT id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),"
    " u AS (SELECT w.id, term, w / nrm AS u FROM w JOIN nrm ON w.id = nrm.id"
    "  WHERE nrm > 0),"
    " s AS (SELECT a.id AS id_a, b.id AS id_b, sum(a.u * b.u) AS cosine"
    "  FROM u a JOIN u b ON a.term = b.term AND a.id < b.id GROUP BY 1, 2)"
    " SELECT id_a, id_b, round(cosine + 1e-9, 6) AS cosine FROM s"
    " WHERE cosine > 0.4",
)


def _x07(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        X_text.token_count("text").cast("long").alias("n_tokens"),
        X_text.bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
        F.round(X_text.mean_token_length("text") + 1e-9, 6).alias("mean_token_len"),
        F.round(X_text.punct_ratio("text") + 1e-9, 6).alias("punct_ratio"),
    )


# textstats.mean_token_length, punct_ratio and quality_score
_MEAN_TOKLEN_SQL = (
    "CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),"
    " x -> len(x))) AS DOUBLE) / len(string_split_regex(trim(text), '\\s+'))"
)
_PUNCT_SQL = (
    "CASE WHEN len(regexp_replace(text, '\\s', '', 'g')) > 0"
    " THEN CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)"
    " / len(regexp_replace(text, '\\s', '', 'g')) ELSE 0.0 END"
)

_register(
    "x07_text_stats",
    _x07,
    "SELECT doc_id,"
    " CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,"
    " CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT)"
    "   AS n_bpe_tokens,"
    f" round({_MEAN_TOKLEN_SQL} + 1e-9, 6) AS mean_token_len,"
    f" round({_PUNCT_SQL} + 1e-9, 6) AS punct_ratio"
    " FROM documents",
)

_EN_LIST = "('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')"
_RATIO_SQL = (
    "CAST(len(list_filter(list_transform(string_split_regex(trim(text), '\\s+'),"
    " x -> lower(x)), x -> x IN {lst})) AS DOUBLE)"
    " / len(string_split_regex(trim(text), '\\s+'))"
)
# the leading space keeps the pinned oracle text's "round( 0.4"
_QUALITY_SQL = (
    f" 0.4 * least(({_RATIO_SQL.format(lst=_EN_LIST)}) / 0.25, 1.0)"
    f" + 0.3 * (1.0 - least(({_PUNCT_SQL}) * 5.0, 1.0))"
    f" + 0.3 * least(({_MEAN_TOKLEN_SQL}) / 8.0, 1.0)"
)


def _x08(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    return docs.select(
        "doc_id", F.round(X_text.quality_score("text") + 1e-9, 6).alias("quality")
    )


_register(
    "x08_quality_score",
    _x08,
    f"SELECT doc_id, round({_QUALITY_SQL} + 1e-9, 6) AS quality FROM documents",
)


def _x09(spark: SparkSession, sf: str) -> DataFrame:
    # per-row marker battery is CPU-dense; core-count tasks when the
    # scan arrives as fewer splits (no-op at production file counts)
    docs = min_row_parallelism(read_sf_table(spark, sf, "documents"))
    return docs.select(
        "doc_id",
        X_text.language_id("text").alias("pred_lang"),
        F.round(
            X_text.stopword_ratio("text", X_text.LANG_MARKERS["en"]) + 1e-9, 6
        ).alias("en_score"),
    )


_X09_LISTS = {
    "en": _EN_LIST,
    "de": "('der', 'die', 'das', 'und', 'ist', 'ein', 'nicht')",
    "fr": "('le', 'la', 'les', 'et', 'est', 'une', 'pas')",
    "es": "('el', 'la', 'los', 'y', 'es', 'una', 'no')",
    "zh": "('de', 'shi', 'le', 'bu', 'wo')",
}

# textstats.language_id: the r_<lang> marker ratios and the argmax over them
_LANG_RATIOS_SQL = ", ".join(
    f"({_RATIO_SQL.format(lst=lst)}) AS r_{lang}" for lang, lst in _X09_LISTS.items()
)
_LANG_CASE_SQL = (
    " CASE WHEN r_en >= r_de AND r_en >= r_fr AND r_en >= r_es AND r_en >= r_zh THEN 'en'"
    "      WHEN r_de >= r_fr AND r_de >= r_es AND r_de >= r_zh THEN 'de'"
    "      WHEN r_fr >= r_es AND r_fr >= r_zh THEN 'fr'"
    "      WHEN r_es >= r_zh THEN 'es'"
    "      ELSE 'zh' END"
)

_register(
    "x09_language_id",
    _x09,
    f"WITH r AS (SELECT doc_id, {_LANG_RATIOS_SQL} FROM documents)"
    f" SELECT doc_id, {_LANG_CASE_SQL} AS pred_lang,"
    " round(r_en + 1e-9, 6) AS en_score FROM r",
)

_register(
    "x10_fingerprint",
    lambda spark, sf: read_sf_table(spark, sf, "documents").select(
        "doc_id", X_text.fingerprint("text").alias("fp")
    ),
    "SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),"
    " '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp FROM documents",
)


def _x11(spark: SparkSession, sf: str) -> DataFrame:
    # NULL text has no payload to attach — filtered on BOTH sides; a
    # zero-byte payload legitimately has 0 frames, so the frame count
    # joins LEFT with coalesce(., 0) to match the oracle's ceil
    docs = read_sf_table(spark, sf, "documents").filter(
        F.col("text").isNotNull()
    )
    media = X_mm.attach_binary(docs, "doc_id", "text", mime="text/plain")
    frames = X_mm.frame_sample(media, every_n_bytes=64).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__nf")
    )
    return (
        media.select("doc_id", F.col("meta.n_bytes").alias("n_bytes"))
        .join(frames, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_bytes",
            F.coalesce(F.col("__nf"), F.lit(0)).alias("n_frames"),
        )
    )


_register(
    "x11_multimodal_meta",
    _x11,
    "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,"
    " CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames"
    " FROM documents WHERE text IS NOT NULL",
)


def _x12(spark: SparkSession, sf: str) -> DataFrame:
    emb = read_indexable_embeddings(spark, sf)
    out = X_sim.lsh_topk(emb, n_planes=8, k=5, n_dims=64)
    return _rounded_topk(out)


def _hyperplane_bucket_sql(n_planes: int = 8, n_dims: int = 64) -> str:
    """ANSI twin of similarity.hyperplane_bucket_expr's md5-derived sign
    planes, as a DuckDB expression over a DOUBLE[] column `v` — shared by
    the x12 LSH oracle and the x44 recall-eval oracle."""
    def sign(p: int, i: int) -> int:
        return 1 if hashlib.md5(f"{p}|{i}".encode()).digest()[0] & 1 else -1

    terms = []
    for p in range(n_planes):
        arr = "[" + ", ".join(f"{float(sign(p, i))!r}" for i in range(n_dims)) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {arr}) >= 0 THEN {2 ** p} ELSE 0 END)"
        )
    return " + ".join(terms)


def _x12_sql() -> str:
    bucket = _hyperplane_bucket_sql(n_planes=8, n_dims=64)
    return (
        "WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v"
        f" FROM embeddings WHERE {_EMB_OK}),"
        f" bk AS (SELECT id, v, {bucket} AS bucket FROM e),"
        " s AS (SELECT a.id AS query_id, b.id AS neighbor_id,"
        f" {_cos_sql('a.v', 'b.v')} AS cosine"
        " FROM bk a JOIN bk b USING (bucket) WHERE a.id <> b.id),"
        f" {_TOPK5_SQL}"
    )


_register("x12_lsh_ann_topk", _x12, _x12_sql())


def _x18(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.round(X_text.repetition_ratio("text") + 1e-9, 6).alias("rep_ratio"),
    )


_register(
    "x18_repetition_ratio",
    _x18,
    "WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w"
    " FROM documents),"
    " g AS (SELECT doc_id, list_transform(range(1, len(w)),"
    "   i -> array_to_string(w[i:i+1], ' ')) AS grams FROM tok)"
    " SELECT doc_id, round(CASE WHEN len(grams) > 0"
    "   THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)"
    "   ELSE 0.0 END + 1e-9, 6) AS rep_ratio FROM g",
)


# x16/x17: reproducible corpus sampling — md5-bucket split assignment and
# per-group cap. The oracle reproduces the bucket digit arithmetic exactly.

_X16_BUCKET_SQL = (
    "((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1))"
)


def _x16(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    out = X_samp.hash_split(docs, "doc_id")  # train 0.90 / val 0.05 / test 0.05
    return out.select("doc_id", "split")


_register(
    "x16_hash_split",
    _x16,
    f"WITH b AS (SELECT doc_id, {_X16_BUCKET_SQL} AS bucket FROM documents)"
    " SELECT doc_id,"
    " CASE WHEN bucket < 230 THEN 'train'"
    "      WHEN bucket < 243 THEN 'val'"
    "      WHEN bucket < 256 THEN 'test' END AS split FROM b",
)


def _x17(spark: SparkSession, sf: str) -> DataFrame:
    # shard_size=128: hierarchical rank path (languages are the archetypal
    # low-cardinality stratum — a single per-group window would one-task
    # each language at scale); multi-shard recombination exercised at sf0.01
    docs = read_sf_table(spark, sf, "documents")
    langs = docs.select("doc_id", X_text.language_id("text").alias("pred_lang"))
    return X_samp.stratified_cap(langs, ["pred_lang"], "doc_id", cap=50, shard_size=128)


_X17_LANG_SQL = (
    f"SELECT doc_id, {_LANG_CASE_SQL} AS pred_lang"
    f" FROM (SELECT doc_id, {_LANG_RATIOS_SQL} FROM documents)"
)

_register(
    "x17_stratified_cap",
    _x17,
    f"WITH langs AS ({_X17_LANG_SQL}),"
    " r AS (SELECT doc_id, pred_lang,"
    "   row_number() OVER (PARTITION BY pred_lang ORDER BY doc_id) AS rn FROM langs)"
    " SELECT doc_id, pred_lang FROM r WHERE rn <= 50",
)


# --------------------------------------------------------------------------
# Privacy kernel (SURVEY.md §2B-UDF, jsonl_process parity): first-seen
# ordinal name map (NameObfuscator, reference jsonl_process.py:53-64) as a
# distributed window kernel, driven by the real build_translation code.
# --------------------------------------------------------------------------


def _p01(spark: SparkSession, sf: str) -> DataFrame:
    orders = read_sf_table(spark, sf, "orders")
    names = orders.select(
        F.lit("user").alias("group"),
        F.col("o_orderpriority").alias("name"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("query_id"),
    )
    return build_translation(names).select("name", "new_name")


_register(
    "p01_name_obfuscation_map",
    _p01,
    "WITH n AS (SELECT o_orderpriority AS name,"
    " min(lpad(CAST(o_orderkey AS VARCHAR), 12, '0')) AS fs"
    " FROM orders GROUP BY 1)"
    " SELECT name, 'user' || CAST(row_number() OVER (ORDER BY fs, name) - 1 AS VARCHAR)"
    " AS new_name FROM n",
)


# --------------------------------------------------------------------------
# Skew operator (salted two-phase aggregation) + Structured Streaming query
# --------------------------------------------------------------------------


def _p02(spark: SparkSession, sf: str) -> DataFrame:
    li = read_sf_table(spark, sf, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty": ("sum", "l_quantity"),
            "n_items": ("count", "l_orderkey"),
            "min_price": ("min", "l_extendedprice"),
            "max_price": ("max", "l_extendedprice"),
        },
        buckets=16,
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("n_items").cast("long").alias("n_items"),
        "min_price",
        "max_price",
    )


_register(
    "p02_salted_skew_agg",
    _p02,
    "SELECT l_returnflag, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,"
    " CAST(count(l_orderkey) AS BIGINT) AS n_items,"
    " min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price"
    " FROM lineitem GROUP BY 1",
)


def _s01(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming daily event rollup, drained with an availableNow trigger.

    The same tumbling-window aggregation a live cluster dashboard runs
    continuously (streaming/ingest.py); complete-mode memory sink makes the
    drained result comparable 1:1 with the batch oracle.
    """
    ev = stream_sf_table(spark, sf, "events")
    agg = ev.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    return drain(agg, output_mode="complete", partitions=8).select(
        F.col("w.start").alias("bucket"), "n_events", "total_value"
    )


_register(
    "s01_stream_events_by_day",
    _s01,
    # ts IS NOT NULL (here and in every windowed streaming oracle): the
    # streaming engine's window operator cannot bucket a NULL event time
    # and silently drops the row — the oracle must replay that contract
    "SELECT date_trunc('day', ts) AS bucket, CAST(count(*) AS BIGINT) AS n_events,"
    " round(sum(\"value\"), 6) AS total_value FROM events"
    " WHERE ts IS NOT NULL GROUP BY 1",
)


# --------------------------------------------------------------------------
# Task-tree analyzer (beyond-reference straggler analysis) via the adapter
# pattern: events -> tasks silver contract, then the real analyzer.
# --------------------------------------------------------------------------


def _a29(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    tasks = ev.select(
        (F.col("user_id") % 50).cast("string").alias("query_id"),
        F.col("event_type").alias("stage_path"),
        F.col("event_id").cast("string").alias("task_id"),
        F.lit("FINISHED").alias("task_state"),
        F.col("value").alias("scheduled_time"),
        (F.col("value") * 0.5).alias("cpu_time"),
        (F.col("value") * 0.25).alias("blocked_time"),
    )
    out = A.task_stage_stats(tasks)
    return out.select(
        "query_id",
        "stage_path",
        F.col("n_tasks").cast("long").alias("n_tasks"),
        F.round("scheduled_sum", 6).alias("scheduled_sum"),
        F.round("cpu_sum", 6).alias("cpu_sum"),
        F.round("blocked_sum", 6).alias("blocked_sum"),
        F.round("straggler_ratio", 6).alias("straggler_ratio"),
    )


_register(
    "a29_task_stage_stats",
    _a29,
    "SELECT CAST(user_id % 50 AS VARCHAR) AS query_id, event_type AS stage_path,"
    " CAST(count(*) AS BIGINT) AS n_tasks,"
    " round(sum(\"value\"), 6) AS scheduled_sum,"
    " round(sum(\"value\" * 0.5), 6) AS cpu_sum,"
    " round(sum(\"value\" * 0.25), 6) AS blocked_sum,"
    " round(CASE WHEN avg(\"value\") > 0 THEN max(\"value\") / avg(\"value\") END, 6)"
    "   AS straggler_ratio"
    " FROM events GROUP BY 1, 2",
)


def _x13(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN top-k, driven through its EXACTNESS REDUCTION so the full
    pipeline (KMeans fit, cell assignment, probe join, rank) gets a real
    DuckDB oracle: with n_probe == n_cells every query probes every cell,
    so IVF must equal brute-force top-k (similarity.ivf_topk docstring)
    REGARDLESS of where KMeans put the centroids — the one configuration
    where the hash-unreproducible part (the clustering) provably cancels
    out of the answer. The recall-mode configuration (n_probe < n_cells)
    stays covered by tests/test_extensions.py against the brute-force
    baseline."""
    emb = read_sf_table(spark, sf, "embeddings")
    # corpus = queries = the vec_id<200 subset; all vectors are indexed and
    # all act as queries (the cell count, not the query count, is what the
    # scale path tunes)
    out = X_sim.ivf_topk(
        emb.filter(F.col("vec_id") < 200).coalesce(4),
        n_cells=8, n_probe=8, k=5, seed=42, max_iter=8,
    )
    return _rounded_topk(out)


_register(
    "x13_ivf_ann_topk",
    _x13,
    # n_probe == n_cells ≡ brute force: the oracle is x05's shape over the
    # same corpus-vs-itself subset
    _cosine_topk_sql("vec_id < 200", "vec_id < 200"),
)


def _s02(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState), drained
    with availableNow and hash-checked against a SQL window sessionization.

    Emission semantics under one availableNow batch + trailing no-data
    batch: every non-final session per user closes in-batch (a successor
    event > gap later exists); the final session closes iff the terminal
    watermark (max_ts - delay) strictly passed last_seen + gap. The oracle
    reproduces exactly that predicate.
    """
    ev = stream_sf_table(spark, sf, "events")
    stream = ev.select(
        F.col("user_id").cast("string").alias("user"),
        F.col("ts").alias("query_ts"),
        F.col("value").alias("scheduled_time"),
        F.lit("FINISHED").alias("state"),
    ).withWatermark("query_ts", "1 minute")
    sessions = query_sessions(stream, gap_seconds=86400.0)
    # 16 state partitions measured fastest for this drain on local[32]
    # (r12 sweep: 4 -> 4.29s, 8 -> 3.53s, 16 -> 3.09s, 32 -> 4.54s —
    # the single availableNow data batch wants more parallel Python
    # state workers; 32 over-partitions the no-data flush batch)
    return drain(sessions, partitions=16).select(
        F.col("user").cast("long").alias("user_id"),
        "session_start",
        "session_end",
        F.col("n_queries").cast("long").alias("n_events"),
        F.round("scheduled_sum", 6).alias("value_sum"),
    )


_register(
    "s02_stream_user_sessions",
    _s02,
    "WITH d AS (SELECT user_id, ts, \"value\","
    "  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)"
    "       > INTERVAL 86400 SECONDS THEN 1 ELSE 0 END AS brk"
    "  FROM events),"
    " s AS (SELECT user_id, ts, \"value\","
    "  sum(brk) OVER (PARTITION BY user_id ORDER BY ts"
    "                 ROWS UNBOUNDED PRECEDING) AS sid FROM d),"
    " g AS (SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,"
    "  CAST(count(*) AS BIGINT) AS n_events, round(sum(\"value\"), 6) AS value_sum"
    "  FROM s GROUP BY 1, 2),"
    " m AS (SELECT max(ts) AS max_ts FROM events)"
    " SELECT user_id, session_start, session_end, n_events, value_sum"
    " FROM g, m"
    " WHERE sid < (SELECT max(sid) FROM s s2 WHERE s2.user_id = g.user_id)"
    "    OR session_end + INTERVAL 86400 SECONDS < max_ts - INTERVAL 60 SECONDS",
)


def _x21(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents").filter(F.col("doc_id") < 60)
    sh = X_dedup.shingles(docs, "doc_id", "text", k=3)
    return X_dedup.shingle_containment(sh).select(
        # same half-grid nudge as x03: ratio-of-integers values can land on
        # the rounding boundary where the engines disagree
        "id_a", "id_b", F.round(F.col("containment") + 1e-9, 6).alias("containment")
    )


_register(
    "x21_shingle_containment",
    _x21,
    f"WITH {_shingle_sql('documents WHERE doc_id < 60')}, {_OVERLAP_SQL}"
    " SELECT id_a, id_b,"
    "  round(CAST(ni AS DOUBLE) / least(sa.n, sb.n) + 1e-9, 6) AS containment"
    " FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b",
)


def _x22(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    out = X_text.tfidf_top_terms(docs, "doc_id", "text", k=3, round_to=6)
    return out.select("id", "term", "tfidf", F.col("rank").cast("long").alias("rank"))


_register(
    "x22_tfidf_top_terms",
    _x22,
    "WITH tk AS (SELECT doc_id AS id,"
    " lower(unnest(string_split_regex(trim(text), '\\s+'))) AS term FROM documents),"
    " tf AS (SELECT id, term, count(*) AS tf FROM tk GROUP BY 1, 2),"
    " dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),"
    " n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),"
    " s AS (SELECT id, term,"
    "   round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df) + 1e-9, 6) AS tfidf"
    "   FROM tf JOIN dfq USING (term), n),"
    " r AS (SELECT *, row_number() OVER (PARTITION BY id"
    "   ORDER BY tfidf DESC, term) AS rank FROM s)"
    " SELECT id, term, tfidf, rank FROM r WHERE rank <= 3",
)


def _s03(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming dedup under at-least-once redelivery: the events stream
    unioned with itself (every event delivered twice, the collector's
    re-poll behavior) -> dropDuplicatesWithinWatermark(event_id) -> daily
    counts. The oracle is the batch rollup of the UNDUPLICATED table, so a
    broken dedup (doubled counts) hash-mismatches. State is bounded by the
    watermark horizon — the 100 TB answer to the reference's forever-growing
    dedup-by-file-existence set (collect.py:101-103)."""
    ev = stream_sf_table(spark, sf, "events")
    redelivered = ev.unionByName(stream_sf_table(spark, sf, "events"))
    deduped = redelivered.withWatermark("ts", "1 minute").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return drain(agg, output_mode="complete", partitions=8).select(
        F.col("w.start").alias("bucket"), "n_events"
    )


_register(
    "s03_stream_dedup_events_by_day",
    _s03,
    "SELECT date_trunc('day', ts) AS bucket, CAST(count(*) AS BIGINT) AS n_events"
    " FROM events WHERE ts IS NOT NULL GROUP BY 1",
)


def _a30(spark: SparkSession, sf: str) -> DataFrame:
    out = A.latency_percentiles(workload_queries(spark, sf))
    return out.select(
        "user",
        F.col("n_queries").cast("long").alias("n_queries"),
        *[
            F.round(F.col(c) + 1e-9, 6).alias(c)
            for c in ("p50_elapsed", "p95_elapsed", "p99_elapsed")
        ],
    )


_register(
    "a30_latency_percentiles",
    _a30,
    _ALL_CTES
    + 'SELECT user_name AS "user", CAST(count(*) AS BIGINT) AS n_queries,'
    "  round(quantile_cont(elapsed_time, 0.5) + 1e-9, 6) AS p50_elapsed,"
    "  round(quantile_cont(elapsed_time, 0.95) + 1e-9, 6) AS p95_elapsed,"
    "  round(quantile_cont(elapsed_time, 0.99) + 1e-9, 6) AS p99_elapsed"
    " FROM queries GROUP BY 1",
)


def _x23(spark: SparkSession, sf: str) -> DataFrame:
    # plant PII deterministically so the redaction is actually exercised
    # (the synthetic corpus contains none): same construction in the oracle
    docs = read_sf_table(spark, sf, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0.0."),
            (F.col("doc_id") % 255).cast("string"),
            F.lit(" tel +12 3456 7890"),
        ).alias("text"),
    )
    return planted.select("doc_id", X_text.redact_pii("text").alias("redacted"))


_register(
    "x23_pii_redaction",
    _x23,
    "WITH planted AS (SELECT doc_id,"
    "  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com"
    " at 10.0.0.' || CAST(doc_id % 255 AS VARCHAR) || ' tel +12 3456 7890' AS text"
    " FROM documents)"
    " SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,"
    " '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),"
    " '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),"
    " '\\+?\\d[\\d\\- ]{7,}\\d', '<PHONE>', 'g') AS redacted"
    " FROM planted",
)


def _x24(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    return X_text.chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=16)


_register(
    "x24_chunk_documents",
    _x24,
    # stride = 64 - 16 = 48; DuckDB list slice w[a:b] is 1-based inclusive,
    # matching Spark's slice(toks, start, 64) == w[start:start+63]
    "WITH tok AS (SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS w"
    " FROM documents),"
    " st AS (SELECT id, w, i AS start, CAST((i - 1) // 48 AS BIGINT) AS chunk_id"
    "        FROM tok, UNNEST(range(1, greatest(len(w), 1) + 1, 48)) AS t(i))"
    " SELECT id, chunk_id, array_to_string(w[start:start+63], ' ') AS chunk_text,"
    "  CAST(len(w[start:start+63]) AS BIGINT) AS n_tokens FROM st",
)


def _signup_purchase_streams(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """The events stream's signups (su_user, signup_id, signup_ts) and
    purchases (pu_user, purchase_id, purchase_ts, value), each with a
    1-minute watermark: the two sides of s04's and s09's interval joins."""
    signups = (
        stream_sf_table(spark, sf, "events")
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("su_user"),
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "1 minute")
    )
    purchases = (
        stream_sf_table(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("pu_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "1 minute")
    )
    return signups, purchases


def _s04(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked stream-stream interval join: purchases within 2 hours of
    the same user's signup. Inner join + range bound => each side's state
    evicts as the other side's watermark passes the horizon (bounded state
    at any corpus size); one availableNow drain makes the result equal to
    the batch SQL interval join the oracle runs."""
    signups, purchases = _signup_purchase_streams(spark, sf)
    joined = interval_join(
        signups, purchases, [("su_user", "pu_user")],
        "signup_ts", "purchase_ts", upper="2 hours",
    ).select(
        F.col("su_user").alias("user_id"),
        "signup_id",
        "purchase_id",
        F.round("value", 6).alias("purchase_value"),
    )
    return drain(joined, partitions=8)


_register(
    "s04_stream_interval_join",
    _s04,
    "SELECT a.user_id, a.event_id AS signup_id, b.event_id AS purchase_id,"
    " round(b.\"value\", 6) AS purchase_value"
    " FROM events a JOIN events b ON a.user_id = b.user_id"
    " AND a.event_type = 'signup' AND b.event_type = 'purchase'"
    " AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOURS",
)


def _x25(spark: SparkSession, sf: str) -> DataFrame:
    """Decontamination: docs 0-19 play the eval benchmark, the rest are the
    training corpus; flag corpus docs sharing any 5-gram with the benchmark."""
    docs = read_sf_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    return X_dedup.contamination_hits(corpus, bench, "doc_id", "text", k=5).select(
        "id", F.col("n_hits").cast("long").alias("n_hits")
    )


_register(
    "x25_decontamination",
    _x25,
    "WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w"
    " FROM documents),"
    " csh AS (SELECT DISTINCT doc_id AS id, array_to_string(w[i:i+4], ' ') AS shingle"
    "        FROM tok, UNNEST(range(1, greatest(len(w)-4, 0)+1)) AS t(i)"
    "        WHERE doc_id >= 20),"
    " bsh AS (SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS shingle"
    "        FROM tok, UNNEST(range(1, greatest(len(w)-4, 0)+1)) AS t(i)"
    "        WHERE doc_id < 20)"
    " SELECT id, CAST(count(*) AS BIGINT) AS n_hits"
    " FROM csh JOIN bsh USING (shingle) GROUP BY id",
)


def _x26(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    out = X_text.unigram_logprob(docs, "doc_id", "text")
    return out.select(
        "id", "n_tokens", F.round(F.col("avg_neg_logprob") + 1e-9, 6).alias("avg_neg_logprob")
    )


_register(
    "x26_unigram_logprob",
    _x26,
    "WITH tk AS (SELECT doc_id AS id,"
    " lower(unnest(string_split_regex(trim(text), '\\s+'))) AS term FROM documents),"
    " tf AS (SELECT id, term, count(*) AS tf FROM tk GROUP BY 1, 2),"
    " vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),"
    " tot AS (SELECT sum(cnt) AS total FROM vocab)"
    " SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,"
    "  round(sum(tf * -ln(cnt / total)) / sum(tf) + 1e-9, 6) AS avg_neg_logprob"
    " FROM tf JOIN vocab USING (term), tot GROUP BY id",
)


def _x27(spark: SparkSession, sf: str) -> DataFrame:
    """Data mixing: resample the corpus to a 50/30/20 target over three
    sources (total=60). src0's quota (30) exceeds its 25 rows, exercising
    the downsample-only under-fill path."""
    docs = read_sf_table(spark, sf, "documents")
    out = X_samp.resample_to_mix(
        docs, "source", "doc_id",
        {"src0": 0.5, "src1": 0.3, "src2": 0.2}, total=60,
    )
    return out.select("doc_id", "source")


_register(
    "x27_resample_to_mix",
    _x27,
    "WITH capped AS (SELECT doc_id, source,"
    "  CASE source WHEN 'src0' THEN 30 WHEN 'src1' THEN 18 WHEN 'src2' THEN 12"
    "  END AS cap,"
    "  row_number() OVER (PARTITION BY source"
    "    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn"
    " FROM documents)"
    " SELECT doc_id, source FROM capped WHERE cap IS NOT NULL AND rn <= cap",
)


def _p03(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction: parse the events.props JSON column with
    an explicit schema (from_json — typed, null-safe on malformed input,
    the same capability extract.py needs for nested session properties)
    and roll up the extracted field per event type. The oracle extracts
    the same field by regex so it runs without DuckDB's JSON extension."""
    ev = read_sf_table(spark, sf, "events")
    k = F.from_json(F.col("props"), T.StructType([T.StructField("k", T.LongType())]))["k"]
    return (
        ev.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
            F.round(F.avg("k") + 1e-9, 6).alias("k_avg"),
        )
    )


_register(
    "p03_json_extract_rollup",
    _p03,
    # NULLIF: regexp_extract returns '' (not NULL) on a non-matching —
    # empty/garbage/'{}' — props string, and CAST('' AS BIGINT) throws;
    # from_json on the Spark side is NULL for all of those
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n,"
    " CAST(sum(CAST(NULLIF(regexp_extract(props, '\"k\": (\\d+)', 1), '')"
    "  AS BIGINT)) AS BIGINT) AS k_sum,"
    " round(avg(CAST(NULLIF(regexp_extract(props, '\"k\": (\\d+)', 1), '')"
    "  AS BIGINT)) + 1e-9, 6) AS k_avg"
    " FROM events GROUP BY 1",
)


def _p04(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity suppression over the event log: rows whose
    (user_id, event_type) combination occurs fewer than k=10 times are
    dropped as re-identifiable (privacy.k_anonymize — group sizes joined
    back to the rows, fully distributed). At sf0.01 this suppresses 107
    of 750 quasi-identifier groups."""
    ev = read_sf_table(spark, sf, "events").select(
        "event_id", "user_id", "event_type"
    )
    return k_anonymize(ev, ["user_id", "event_type"], k=10)


_register(
    "p04_k_anonymity",
    _p04,
    "SELECT event_id, user_id, event_type FROM ("
    " SELECT event_id, user_id, event_type,"
    "  count(*) OVER (PARTITION BY user_id, event_type) AS gs FROM events) t"
    " WHERE gs >= 10",
)


def _a31(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical load rollup: scheduled days by (date, user) with
    per-date subtotals and a grand total in one pass — Spark's rollup
    lowers to a single Expand + hash aggregate, not three scans (the
    reference would loop the corpus once per grain)."""
    q = workload_queries(spark, sf)
    return (
        q.rollup(F.to_date("query_ts").alias("bucket"), F.col("user"))
        .agg(F.round(F.sum("scheduled_time") / 86400.0 + 1e-9, 6).alias("scheduled_days"))
    )


_register(
    "a31_scheduled_rollup",
    _a31,
    _ALL_CTES
    + 'SELECT CAST(query_ts AS DATE) AS bucket, user_name AS "user",'
    "  round(sum(scheduled_time) / 86400.0 + 1e-9, 6) AS scheduled_days"
    " FROM queries GROUP BY ROLLUP (1, 2)",
)


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _a32(spark: SparkSession, sf: str) -> DataFrame:
    """Daily event matrix via pivot: one row per day, one column per event
    type (fixed value list so the output schema is static — at scale an
    unbounded pivot would need a distinct-scan planning pass)."""
    ev = read_sf_table(spark, sf, "events")
    out = (
        ev.groupBy(F.to_date("ts").alias("bucket"))
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "bucket", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in _PIVOT_TYPES]
    )


_register(
    "a32_event_type_pivot",
    _a32,
    "SELECT CAST(ts AS DATE) AS bucket,"
    + ",".join(
        f" CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}"
        for t in _PIVOT_TYPES
    )
    + " FROM events GROUP BY 1",
)


def _x28(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    return X_text.top_ngrams(docs, "doc_id", "text", n=3, k=20)


_register(
    "x28_top_ngrams",
    _x28,
    "WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w"
    " FROM documents),"
    " sh AS (SELECT doc_id AS id, array_to_string(w[i:i+2], ' ') AS ngram"
    "        FROM tok, UNNEST(range(1, greatest(len(w)-2, 0)+1)) AS t(i)),"
    " c AS (SELECT ngram, CAST(count(*) AS BIGINT) AS total_count,"
    "        CAST(count(DISTINCT id) AS BIGINT) AS doc_freq FROM sh GROUP BY 1),"
    " r AS (SELECT *, CAST(row_number() OVER (ORDER BY total_count DESC,"
    "        doc_freq DESC, ngram) AS BIGINT) AS rank FROM c)"
    " SELECT ngram, total_count, doc_freq, rank FROM r WHERE rank <= 20",
)


def _x29(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-table consistent sampling: hash_sample at the same fraction on
    documents and embeddings (ids share the md5 bucket function) keeps the
    SAME identities on both sides, so the inner join of the two samples ==
    the sample of the join — the property that lets a pipeline subset a
    multi-table corpus without ever coordinating between tables."""
    docs = X_samp.hash_sample(
        read_sf_table(spark, sf, "documents"), "doc_id", 0.3
    ).select("doc_id", "source")
    emb = X_samp.hash_sample(
        read_sf_table(spark, sf, "embeddings"), "vec_id", 0.3
    ).select(F.col("vec_id").alias("doc_id"), "label")
    return docs.join(emb, on="doc_id").select("doc_id", "source", "label")


_register(
    "x29_consistent_sample_join",
    _x29,
    "WITH d AS (SELECT doc_id, source FROM documents"
    " WHERE ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) < 77),"
    " e AS (SELECT vec_id AS doc_id, label FROM embeddings"
    " WHERE ((strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1)) < 77)"
    " SELECT d.doc_id, d.source, e.label FROM d JOIN e USING (doc_id)",
)


def _s05(spark: SparkSession, sf: str) -> DataFrame:
    """Native session_window twin of s02: the built-in-first formulation of
    gap sessionization (one groupBy, state managed by the engine) against
    the SAME oracle as the custom applyInPandasWithState operator —
    demonstrating the two implementations agree exactly. session_window's
    window.end is last_event + gap, so session_end = end - gap."""
    gap = 86400
    ev = stream_sf_table(spark, sf, "events").withWatermark("ts", "1 minute")
    agg = (
        ev.groupBy(
            F.col("user_id"),
            F.session_window("ts", f"{gap} seconds").alias("w"),
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
    )
    return drain(agg, partitions=8).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("w.start").alias("session_start"),
        (F.col("w.end") - F.expr(f"INTERVAL {gap} SECONDS")).alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round("value_sum", 6).alias("value_sum"),
    )


# the custom stateful operator (s02) and the native session_window (s05)
# must produce identical sessions — same oracle string for both
_register(
    "s05_session_window_native",
    _s05,
    _ORACLES["s02_stream_user_sessions"],
)


def _x30(spark: SparkSession, sf: str) -> DataFrame:
    emb = read_sf_table(spark, sf, "embeddings")
    out = X_sim.label_centroids(emb, "label", "embedding")
    # centroid as a fixed-format string: the harness's order-insensitive
    # value hash needs hashable cells, so array columns are serialized
    return out.select(
        F.col("label").cast("long").alias("label"),
        "n",
        F.concat_ws(
            ",",
            F.transform(
                F.col("centroid"),
                lambda v: F.format_string("%.6f", F.round(v + 1e-9, 6)),
            ),
        ).alias("centroid"),
    )


_register(
    "x30_label_centroids",
    _x30,
    "WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),"
    " d AS (SELECT label, pos - 1 AS pos, emb[pos] AS v FROM e,"
    "  UNNEST(range(1, len(emb) + 1)) AS t(pos)),"
    " m AS (SELECT label, pos, avg(v) AS m, CAST(count(*) AS BIGINT) AS n"
    "  FROM d GROUP BY 1, 2)"
    " SELECT CAST(label AS BIGINT) AS label, any_value(n) AS n,"
    "  array_to_string(list(format('{:.6f}', round(m + 1e-9, 6)) ORDER BY pos), ',')"
    "   AS centroid"
    " FROM m GROUP BY label",
)


def _x31(spark: SparkSession, sf: str) -> DataFrame:
    """Quartile bucketing by document length with per-bucket size stats —
    the percentile-bin corpus profile, in its 100 TB shape: quartile
    BOUNDARIES come from approx_percentile (a mergeable sketch — map-side
    partials, one tiny merged row, never a global sort), the boundary row is
    broadcast back over the scan, and the bin is a scan-side comparison
    column. No unpartitioned window anywhere in the plan (the round-1 ntile
    formulation sorted the whole corpus through one reducer; plan-linted
    against in tests/test_plan_lint.py). The sketch is rank-EXACT only
    while the corpus fits its accuracy, so the accuracy is DERIVED from
    the corpus row count (metadata-only parquet count, 10x headroom,
    1e6 floor) instead of a fixed literal — the oracle's quantile_disc is
    always exact, and a fixed accuracy would flake by one rank at a
    quartile boundary once the gate's sf outgrew it. Ties at a boundary go
    to the lower bucket on both sides by construction.

    The accuracy is CAPPED at 1e7: uncapped 10x-row-count accuracy makes
    sketch memory linear in corpus size — the single-reducer scale killer
    wearing a knob — so past ~1M documents the sketch is honestly
    approximate (every gate sf stays far below the cap and rank-exact)."""
    docs = read_sf_table(spark, sf, "documents")
    accuracy = min(max(1_000_000, 10 * docs.count()), 10_000_000)
    bounds = docs.select(
        F.expr(
            f"approx_percentile(n_chars, array(0.25D, 0.5D, 0.75D), {accuracy})"
        ).alias("qb")
    )
    quartile = (
        F.lit(1)
        + (F.col("n_chars") > F.col("qb")[0]).cast("int")
        + (F.col("n_chars") > F.col("qb")[1]).cast("int")
        + (F.col("n_chars") > F.col("qb")[2]).cast("int")
    )
    return (
        docs.join(F.broadcast(bounds))
        .withColumn("quartile", quartile)
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.avg("n_chars") + 1e-9, 6).alias("avg_chars"),
        )
        .select(F.col("quartile").cast("long").alias("quartile"),
                "n_docs", "min_chars", "max_chars", "avg_chars")
    )


_register(
    "x31_length_quartiles",
    _x31,
    # quantile_disc == Spark approx_percentile at exact-sketch scale: both
    # return an actual corpus value at the quantile rank
    "WITH b AS (SELECT quantile_disc(n_chars, [0.25, 0.5, 0.75]) AS qb"
    "  FROM documents),"
    " q AS (SELECT n_chars,"
    "  1 + CAST(n_chars > qb[1] AS INT) + CAST(n_chars > qb[2] AS INT)"
    "    + CAST(n_chars > qb[3] AS INT) AS quartile FROM documents, b)"
    " SELECT CAST(quartile AS BIGINT) AS quartile,"
    "  CAST(count(*) AS BIGINT) AS n_docs, min(n_chars) AS min_chars,"
    "  max(n_chars) AS max_chars, round(avg(n_chars) + 1e-9, 6) AS avg_chars"
    " FROM q GROUP BY 1",
)


def _x32(spark: SparkSession, sf: str) -> DataFrame:
    # scoped to 300 docs + hamming<=1: 16-bit fingerprints on the low-entropy
    # synthetic text collide heavily, so an unscoped run measures pair
    # materialization volume, not the operator (same scoping idiom as x03/x21)
    docs = read_sf_table(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return X_dedup.simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=1, bands=4)


# max_hamming=3 < bands=4: pigeonhole guarantees banding loses no pair,
# so the oracle is the EXACT all-pairs hamming filter
_register(
    "x32_simhash_near_dups",
    _x32,
    f"WITH s0 AS ({_x04_sql()}), s AS (SELECT * FROM s0 WHERE id < 300)"
    " SELECT a.id AS id_a, b.id AS id_b,"
    "  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming"
    " FROM s a JOIN s b ON a.id < b.id"
    " WHERE bit_count(xor(a.simhash, b.simhash)) <= 1",
)


def _s06(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window streaming load: 2-day windows sliding by 1 day, so
    every event lands in exactly two windows (the overlapping-window class
    tumbling rollups can't express — smoothing, trailing-window SLOs).
    Complete-mode drain == the batch answer; the oracle assigns each event
    to both its covering windows via a 2-row offset join."""
    ev = stream_sf_table(spark, sf, "events")
    agg = ev.groupBy(F.window("ts", "2 days", "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    return drain(agg, output_mode="complete", partitions=8).select(
        F.col("w.start").alias("bucket"), "n_events", "total_value"
    )


_register(
    "s06_stream_sliding_load",
    _s06,
    # every event belongs to windows starting at floor_day(ts) and
    # floor_day(ts) - 1 day (2d width, 1d slide)
    "WITH x AS (SELECT date_trunc('day', ts) + INTERVAL (o) DAY AS bucket, \"value\""
    "  FROM events, UNNEST([0, -1]) AS t(o) WHERE ts IS NOT NULL)"
    " SELECT bucket, CAST(count(*) AS BIGINT) AS n_events,"
    "  round(sum(\"value\"), 6) AS total_value FROM x GROUP BY 1",
)


def _s07(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a BATCH
    dimension table (customer -> nation) inside the streaming query, then
    rolls up per (day, nation). This is the standard Structured Streaming
    dimension-enrichment shape — the static side is planned per micro-batch
    and broadcast (no state store involved, unlike stream-stream joins);
    at scale the dimension re-reads pick up slowly-changing updates
    between micro-batches for free. Oracle: the identical batch join."""
    ev = stream_sf_table(spark, sf, "events")
    dim = F.broadcast(
        read_sf_table(spark, sf, "customer").select(
            F.col("c_custkey").alias("user_id"), F.col("c_nationkey").alias("nation")
        )
    )
    agg = (
        ev.join(dim, on="user_id")  # stream-static: no watermark required
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
    )
    return drain(agg, output_mode="complete", partitions=8).select(
        F.col("w.start").alias("bucket"),
        F.col("nation").cast("long").alias("nation"),
        "n_events",
        "value_sum",
    )


_register(
    "s07_stream_static_enrich",
    _s07,
    "SELECT date_trunc('day', e.ts) AS bucket,"
    " CAST(c.c_nationkey AS BIGINT) AS nation,"
    " CAST(count(*) AS BIGINT) AS n_events,"
    " round(sum(e.\"value\"), 6) AS value_sum"
    " FROM events e JOIN customer c ON e.user_id = c.c_custkey"
    " WHERE e.ts IS NOT NULL GROUP BY 1, 2",
)


def _x35(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup: the 20% batch (doc_id % 5 == 0) arrives 'new'
    against the 80% corpus; exact + MinHash-band anti-joins keep only the
    genuinely novel docs (extensions.dedup.incremental_dedup — the
    continuous-ingest counterpart of the one-shot x01/x02 builds)."""
    docs = read_sf_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    kept = X_dedup.incremental_dedup(
        corpus, new, "doc_id", "text", k=3, num_hashes=16, bands=4, mode="md5"
    )
    return kept.select("doc_id")


def _x35_sql() -> str:
    return (
        # NOT EXISTS, not NOT IN: matches Spark's left_anti semantics when a
        # text/id is NULL (NOT IN's three-valued logic would empty the result)
        "WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),"
        " newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),"
        " nex AS (SELECT * FROM newb n WHERE NOT EXISTS"
        "   (SELECT 1 FROM corpus c WHERE c.text = n.text)),"
        + f"{_shingle_sql('nex', 'n')}, {_lsh_bands_sql('n')},"
        f" {_shingle_sql('corpus', 'c')}, {_lsh_bands_sql('c')}"
        ", hits AS (SELECT DISTINCT n.id FROM nbands n"
        "   JOIN cbands c USING (band, band_hash))"
        " SELECT doc_id FROM nex WHERE NOT EXISTS"
        "  (SELECT 1 FROM hits h WHERE h.id = nex.doc_id)"
    )


_register("x35_incremental_dedup", _x35, _x35_sql())


def _x36(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar-quantized ANN: embeddings compressed to int8 codes with a
    global (min, max) codebook, top-k ranked by cosine over the CODES
    (similarity.cosine_topk_quantized). Integer dot products are exactly
    representable in doubles, so the oracle comparison needs no rounding
    tolerance — qcosine is emitted raw."""
    emb = read_sf_table(spark, sf, "embeddings")
    out = X_sim.cosine_topk_quantized(
        emb, emb.filter(F.col("vec_id") < 10), k=5
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("qcosine"), 9).alias("qcosine"),
        F.col("rank").cast("long").alias("rank"),
    )


_register(
    "x36_quantized_topk",
    _x36,
    "WITH b AS (SELECT min(list_min(CAST(embedding AS DOUBLE[]))) AS mn,"
    "  max(list_max(CAST(embedding AS DOUBLE[]))) AS mx FROM embeddings),"
    " coded AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),"
    "  x -> CAST(round((x - mn) / (mx - mn) * 255.0 + 1e-9) AS INT)) AS c"
    "  FROM embeddings, b),"
    " q AS (SELECT vec_id AS query_id, CAST(c AS DOUBLE[]) AS qc FROM coded"
    "  WHERE vec_id < 10),"
    " cc AS (SELECT vec_id AS neighbor_id, CAST(c AS DOUBLE[]) AS nc FROM coded),"
    " s AS (SELECT query_id, neighbor_id,"
    f"  {_cos_sql('qc', 'nc')} AS qcosine"
    "  FROM q, cc WHERE query_id <> neighbor_id),"
    " r AS (SELECT *, row_number() OVER (PARTITION BY query_id"
    "  ORDER BY qcosine DESC, neighbor_id) AS rank FROM s)"
    " SELECT query_id, neighbor_id, round(qcosine, 9) AS qcosine, rank"
    " FROM r WHERE rank <= 5",
)


def _x37(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID quality eval: confusion matrix of the stopword-profile
    detector (x09) against the corpus's labeled `lang` column — per
    (true, predicted) cell count and within-truth share. The eval rollup
    every classifier-ish pipeline operator needs next to its predictions;
    one groupBy over the scan, share via a partitioned window on the
    truth label (group-cardinality input, no global window)."""
    docs = read_sf_table(spark, sf, "documents")
    w = Window.partitionBy("lang")
    return (
        docs.select(F.col("lang"), X_text.language_id("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn(
            "share",
            F.round(F.col("n") / F.sum("n").over(w) + 1e-9, 6),
        )
    )


_register(
    "x37_langid_confusion",
    _x37,
    f"WITH r AS (SELECT lang, {_LANG_RATIOS_SQL} FROM documents),"
    f" p AS (SELECT lang, {_LANG_CASE_SQL} AS pred_lang FROM r),"
    " m AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n"
    "  FROM p GROUP BY 1, 2)"
    " SELECT lang, pred_lang, n,"
    "  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang) + 1e-9, 6)"
    "   AS share"
    " FROM m",
)


def _a33(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-load anomaly scores: daily scheduled-time totals z-scored
    against the trailing 7-day window — the alerting layer on top of the
    scheduled_by_date dashboard (a01). The ordered window runs over the
    DAILY AGGREGATE (≤ date-range rows, never the corpus; the plan lint's
    aggregate-feeds rule), with a null score until 2+ trailing days
    exist. Beyond-reference analytic in the reference's own domain."""
    q = workload_queries(spark, sf)
    daily = q.groupBy(F.to_date("query_ts").alias("day")).agg(
        (F.sum("scheduled_time") / 86400.0).alias("load")
    )
    # asc_nulls_last: an undated bucket (NULL day) must park at the END
    # of the trailing-window order on both engines — Spark's asc default
    # is NULLS FIRST, which would fold it into the first week's stats
    w = Window.orderBy(F.asc_nulls_last("day")).rowsBetween(-7, -1)
    mean = F.avg("load").over(w)
    sd = F.stddev_samp("load").over(w)
    return daily.select(
        "day",
        F.round(F.col("load") + 1e-9, 6).alias("load"),
        F.round(
            F.when(sd > 0, (F.col("load") - mean) / sd) + 1e-9, 6
        ).alias("zscore"),
    )


_register(
    "a33_load_anomaly",
    _a33,
    _ALL_CTES
    + ", daily AS (SELECT CAST(query_ts AS DATE) AS day,"
    "   sum(scheduled_time) / 86400.0 AS load FROM queries GROUP BY 1),"
    " r AS (SELECT day, load, avg(load) OVER w AS m,"
    "   stddev_samp(load) OVER w AS sd FROM daily"
    "   WINDOW w AS (ORDER BY day NULLS LAST"
    "    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))"
    " SELECT day, round(load + 1e-9, 6) AS load,"
    "  round(CASE WHEN sd > 0 THEN (load - m) / sd END + 1e-9, 6) AS zscore"
    " FROM r",
)


def _synthetic_sql_text():
    """The deterministic statement synthesized per event (the adapter
    corpus has no SQL text; int literals only — double->string formatting
    is not engine-portable). Shared by a34 query-shape fingerprinting and
    a37 workload novelty; _SYNTH_SQL_CASE is its ANSI-SQL twin."""
    return (
        F.when(
            F.col("event_type") == "purchase",
            F.concat(
                F.lit("INSERT INTO orders (user_id, qty) VALUES ("),
                F.col("user_id").cast("string"),
                F.lit(", "),
                (F.col("event_id") % 7 + 1).cast("string"),
                F.lit(")"),
            ),
        )
        .when(
            F.col("event_type") == "signup",
            F.concat(
                F.lit("CREATE TABLE staging AS SELECT * FROM users WHERE id = "),
                F.col("user_id").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("SELECT * FROM events WHERE user_id = "),
                F.col("user_id").cast("string"),
                F.lit(" AND event_type = '"),
                F.col("event_type"),
                F.lit("' LIMIT "),
                (F.col("event_id") % 100 + 1).cast("string"),
            )
        )
    )


_SYNTH_SQL_CASE = (
    "CASE"
    "  WHEN event_type = 'purchase' THEN"
    "   'INSERT INTO orders (user_id, qty) VALUES (' || CAST(user_id AS VARCHAR)"
    "   || ', ' || CAST(event_id % 7 + 1 AS VARCHAR) || ')'"
    "  WHEN event_type = 'signup' THEN"
    "   'CREATE TABLE staging AS SELECT * FROM users WHERE id = '"
    "   || CAST(user_id AS VARCHAR)"
    "  ELSE 'SELECT * FROM events WHERE user_id = ' || CAST(user_id AS VARCHAR)"
    "   || ' AND event_type = ''' || event_type || ''' LIMIT '"
    "   || CAST(event_id % 100 + 1 AS VARCHAR) END"
)

# normalize_sql's ANSI twin: strip string then numeric literals to '?'
_SYNTH_NORMALIZE_SQL = (
    "regexp_replace(regexp_replace(q, '''[^'']*''', '?', 'g'),"
    " '\\b[0-9]+(\\.[0-9]+)?\\b', '?', 'g')"
)


def _a34(spark: SparkSession, sf: str) -> DataFrame:
    """Query-shape fingerprinting: SQL text normalized by stripping string
    and numeric literals, then rolled up per shape — the workload
    analyzer's classic repeated-query dedup (what a Presto operator would
    use to find the 5 query templates that cost 90% of the cluster).
    Statements come from _synthetic_sql_text (same construction in the
    oracle), and functions.normalize_sql does the literal stripping."""
    ev = read_sf_table(spark, sf, "events")
    sql_text = _synthetic_sql_text()
    return (
        ev.select(
            normalize_sql(sql_text).alias("shape"),
            F.col("value").alias("elapsed"),
        )
        .groupBy("shape")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.round(F.sum("elapsed") + 1e-9, 6).alias("total_elapsed"),
        )
    )


_register(
    "a34_query_shapes",
    _a34,
    f"WITH s AS (SELECT {_SYNTH_SQL_CASE} AS q,"
    " \"value\" AS elapsed FROM events),"
    f" n AS (SELECT {_SYNTH_NORMALIZE_SQL} AS shape, elapsed FROM s)"
    " SELECT shape, CAST(count(*) AS BIGINT) AS n_queries,"
    "  round(sum(elapsed) + 1e-9, 6) AS total_elapsed"
    " FROM n GROUP BY 1",
)


def _x38(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus triage: the table a data curator reads before
    deciding which sources to keep, cap, or re-crawl — doc count, size,
    mean quality (x08's score), and exact-duplicate rate per `source`.
    One scan + one groupBy; the dup rate reuses exact-dedup's survivor
    rule (count - distinct texts = duplicate rows)."""
    docs = read_sf_table(spark, sf, "documents")
    return (
        docs.select(
            "source",
            "n_chars",
            X_text.quality_score("text").alias("q"),
            F.col("text"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(F.avg("q") + 1e-9, 6).alias("avg_quality"),
            F.round(
                (F.count(F.lit(1)) - F.countDistinct("text"))
                / F.count(F.lit(1))
                + 1e-9,
                6,
            ).alias("dup_rate"),
        )
    )


_register(
    "x38_source_triage",
    _x38,
    "WITH q AS (SELECT source, n_chars, text,"
    f" ({_QUALITY_SQL}) AS q FROM documents)"
    " SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
    "  CAST(sum(n_chars) AS BIGINT) AS total_chars,"
    "  round(avg(q) + 1e-9, 6) AS avg_quality,"
    "  round((count(*) - count(DISTINCT text)) * 1.0 / count(*) + 1e-9, 6)"
    "   AS dup_rate"
    " FROM q GROUP BY 1",
)


def _x39(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget sequence packing via textstats.pack_bins — the
    HIERARCHICAL formulation: local prefix sums per (source, doc_id-range
    shard), per-shard totals offset through a tiny aggregated window and
    broadcast back. Identical bins to the naive per-source running-total
    window (the oracle), but no task ever sees a whole source's sequence —
    the round-3 verdict's scale-killer (low-cardinality window partition
    key) fixed structurally. shard_size=128 so the sf0.01 gate actually
    exercises multi-shard recombination (production default is 65536)."""
    docs = read_sf_table(spark, sf, "documents")
    sized = docs.select(
        "source", "doc_id", X_text.token_count("text").cast("long").alias("n_tokens")
    )
    return X_text.pack_bins(
        sized, "source", "doc_id", "n_tokens", budget=2000, shard_size=128
    )


_register(
    "x39_token_packing",
    _x39,
    "SELECT source, doc_id,"
    " CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,"
    " CAST(floor(coalesce(sum(len(string_split_regex(trim(text), '\\s+')))"
    "  OVER (PARTITION BY source ORDER BY doc_id"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0)"
    "  AS BIGINT) AS bin"
    " FROM documents",
)


def _x40(spark: SparkSession, sf: str) -> DataFrame:
    """Table profiling over the event log: per-column null/distinct counts
    and portable min/max strings, one aggregation pass + stack() unpivot
    (extensions.profile.profile_columns — the DESCRIBE/data-quality
    operator; exact distinct counts, as the oracle needs)."""
    ev = read_sf_table(spark, sf, "events")
    return X_prof.profile_columns(ev, ["event_id", "ts", "user_id", "event_type", "value"])


def _x40_sql() -> str:
    def stats(col, dtype, mn, mx):
        return (
            f"SELECT '{col}' AS \"column\", '{dtype}' AS dtype,"
            " CAST(count(*) AS BIGINT) AS n_rows,"
            f" CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            "  AS n_nulls,"
            f" CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,"
            f" {mn} AS min_value, {mx} AS max_value FROM events"
        )

    parts = [
        stats("event_id", "bigint",
              "CAST(min(event_id) AS VARCHAR)", "CAST(max(event_id) AS VARCHAR)"),
        stats("ts", "timestamp_ntz",
              "strftime(min(ts), '%Y-%m-%d %H:%M:%S')",
              "strftime(max(ts), '%Y-%m-%d %H:%M:%S')"),
        stats("user_id", "bigint",
              "CAST(min(user_id) AS VARCHAR)", "CAST(max(user_id) AS VARCHAR)"),
        stats("event_type", "string", "min(event_type)", "max(event_type)"),
        stats("value", "double",
              "printf('%.6f', round(min(\"value\") + 1e-9, 6))",
              "printf('%.6f', round(max(\"value\") + 1e-9, 6))"),
    ]
    return " UNION ALL ".join(parts)


_register("x40_profile_events", _x40, _x40_sql())


def _p05(spark: SparkSession, sf: str) -> DataFrame:
    """Differential-privacy mechanism shape: per-user event counts with
    deterministic Laplace(1) noise derived from a salted md5 of the group
    key (privacy.noisy_counts) — reproducible across engines and reruns,
    so the oracle matches exactly; a real release swaps the fixed salt
    for per-release entropy."""
    ev = read_sf_table(spark, sf, "events")
    return noisy_counts(ev, ["user_id"], scale=1.0)


def _p05_sql() -> str:
    hexpos = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    v = " + ".join(
        f"{hexpos.format(i=i + 1)} * {16 ** (5 - i)}" for i in range(6)
    )
    return (
        # coalesce(., ''): the engine keys noise via concat_ws, which
        # maps a NULL group value to the empty string — the NULL group's
        # count is still a released number and still gets noise
        "WITH g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events"
        "  GROUP BY 1),"
        " k AS (SELECT user_id, n,"
        "  md5('noise|' || coalesce(CAST(user_id AS VARCHAR), '')) AS h FROM g),"
        f" u AS (SELECT user_id, n, (({v}) + 0.5) / {float(16 ** 6)!r} - 0.5 AS u"
        "  FROM k)"
        " SELECT user_id, n,"
        "  round(n + (-1.0 * sign(u) * ln(1.0 - 2.0 * abs(u))) + 1e-9, 6)"
        "   AS noisy_n"
        " FROM u"
    )


_register("p05_noisy_counts", _p05, _p05_sql())


def _a35(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's advisory thresholds as an actionable table instead
    of dashed chart lines (analyze.py:223/252/283/1131): queries over
    10 GB peak memory, over 1 TB input, over 300 s elapsed, and replicated
    (broadcast) joins whose build side exceeds 1e6 bytes — each with its
    affected count. One aggregation pass over the queries corpus (all
    three query-level advisories as parallel sums + stack unpivot) plus
    one over the join pairs."""
    q = workload_queries(spark, sf)
    qrow = q.agg(
        F.sum((F.col("peak_mem") > 1e10).cast("long")).alias("m"),
        F.sum((F.col("input_size") > 1e12).cast("long")).alias("i"),
        F.sum((F.col("elapsed_time") > 300).cast("long")).alias("e"),
    )
    q_adv = qrow.select(
        F.stack(
            F.lit(3),
            F.lit("peak_mem_over_10GB"), F.lit(1e10), F.col("m"),
            F.lit("input_over_1TB"), F.lit(1e12), F.col("i"),
            F.lit("elapsed_over_300s"), F.lit(300.0), F.col("e"),
        ).alias("advisory", "threshold", "n_affected")
    )
    joins = A.joins_sides(
        workload_join_operators(spark, sf), workload_join_nodes(spark, sf)
    )
    j_adv = joins.agg(
        F.sum(
            (
                (F.col("distribution_type") == "REPLICATED")
                & (F.col("build_input_size") > 1e6)
            ).cast("long")
        ).alias("n")
    ).select(
        F.lit("replicated_build_over_1MB").alias("advisory"),
        F.lit(1e6).alias("threshold"),
        F.col("n").alias("n_affected"),
    )
    return q_adv.unionByName(j_adv)


_register(
    "a35_threshold_advisories",
    _a35,
    _ALL_CTES
    + "SELECT 'peak_mem_over_10GB' AS advisory, 1e10 AS threshold,"
    "  CAST(sum(CASE WHEN peak_mem > 1e10 THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS n_affected FROM queries"
    " UNION ALL SELECT 'input_over_1TB', 1e12,"
    "  CAST(sum(CASE WHEN input_size > 1e12 THEN 1 ELSE 0 END) AS BIGINT)"
    "  FROM queries"
    " UNION ALL SELECT 'elapsed_over_300s', 300.0,"
    "  CAST(sum(CASE WHEN elapsed_time > 300 THEN 1 ELSE 0 END) AS BIGINT)"
    "  FROM queries"
    " UNION ALL SELECT 'replicated_build_over_1MB', 1e6,"
    "  CAST(sum(CASE WHEN n.distribution_type = 'REPLICATED'"
    "   AND b.input_size > 1e6 THEN 1 ELSE 0 END) AS BIGINT)"
    "  FROM jnodes n JOIN jprobe p USING (query_id)"
    "  JOIN jbuild b USING (query_id)",
)


# --------------------------------------------------------------------------
# Round-4 temporal operators: as-of join, bucketized range join, interval
# sweep line (extensions/temporal.py). The reference's analyses bucket
# query timestamps (analyze.py:214-260); these add the interval-shaped
# questions its JSONL corpus cannot answer, as shuffle-honest DataFrame
# compositions with cross-engine oracles (DuckDB's NATIVE ASOF JOIN is an
# independent implementation of x41's semantics — the strongest oracle in
# the registry: two unrelated engines, two unrelated algorithms).
# --------------------------------------------------------------------------


def _x41(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: every purchase event picks up the user's most recent
    view at-or-before it (NULLs when the user never viewed before buying).
    Spark side: union + partitioned-window carry (temporal.asof_join);
    oracle: DuckDB `ASOF LEFT JOIN` — independent semantics check."""
    ev = read_sf_table(spark, sf, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id"), F.col("value").alias("view_value")
    )
    out = X_temp.asof_join(
        left, right, "user_id", "purchase_ts", "ts", ["view_id", "view_value"]
    )
    return out.select("event_id", "user_id", "matched_ts", "view_id", "view_value")


_register(
    "x41_asof_join",
    _x41,
    # the right side pre-collapses (user_id, ts) ties to the payload-max
    # row — same rule asof_join applies (max of struct(view_id, view_value)
    # == max view_id since event ids are unique) — because DuckDB's ASOF
    # picks an UNSPECIFIED tied row and would flake the hash comparison
    "WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),"
    " r AS (SELECT user_id, ts, max(event_id) AS view_id,"
    "   max_by(\"value\", event_id) AS view_value"
    "   FROM events WHERE event_type = 'view' GROUP BY 1, 2)"
    " SELECT l.event_id, l.user_id, r.ts AS matched_ts, r.view_id, r.view_value"
    " FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts",
)


def _x45(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketized range join: click events land inside signup-anchored
    intervals [ts, ts + value minutes] of the same user; per-interval
    count + value sum. The equi-join runs on (user, hour bucket) with an
    exact BETWEEN refine (temporal.range_join_bucketed) — the oracle is
    the plain inequality join DuckDB can afford at sf0.01."""
    ev = read_sf_table(spark, sf, "events")
    iv = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("iv_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.col("value") * 6e7).cast("long")
        ).alias("end_ts"),
    )
    pts = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("pt_id"), "user_id", "ts", "value"
    )
    matched = X_temp.range_join_bucketed(
        pts, iv, "user_id", "ts", "start_ts", "end_ts",
        bucket_seconds=3600, max_buckets=64,
    )
    return matched.groupBy("iv_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )


_register(
    "x45_range_join",
    _x45,
    "WITH iv AS (SELECT event_id AS iv_id, user_id, ts AS start_ts,"
    "   ts + to_microseconds(CAST(trunc(\"value\" * 6e7) AS BIGINT)) AS end_ts"
    "   FROM events WHERE event_type = 'signup'),"
    " pt AS (SELECT event_id AS pt_id, user_id, ts, \"value\""
    "   FROM events WHERE event_type = 'click')"
    " SELECT iv_id, CAST(count(*) AS BIGINT) AS n_points,"
    "  round(sum(pt.\"value\"), 6) AS value_sum"
    " FROM pt JOIN iv ON pt.user_id = iv.user_id"
    "  AND pt.ts BETWEEN iv.start_ts AND iv.end_ts"
    " GROUP BY iv_id",
)


def _a36(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster concurrency profile: per-date peak number of simultaneously
    running queries (interval = [query_ts, query_ts + elapsed_time]) and
    how many queries started that date. Sweep line with the hierarchical
    (date x time-shard) prefix sum — temporal.sweep_concurrency; no
    global window, no low-cardinality-only partition key."""
    q = workload_queries(spark, sf)
    iv = q.select(
        F.col("query_ts").alias("start_ts"),
        F.timestamp_micros(
            F.unix_micros(F.col("query_ts").cast("timestamp"))
            + (F.col("elapsed_time") * 1e6).cast("long")
        ).alias("end_ts"),
    )
    return X_temp.sweep_concurrency(iv, "start_ts", "end_ts")


_register(
    "a36_concurrency_profile",
    _a36,
    _ALL_CTES
    + ", iv AS (SELECT query_ts AS s,"
    "   query_ts + to_microseconds(CAST(trunc(elapsed_time * 1e6) AS BIGINT)) AS e"
    "   FROM queries),"
    " days AS (SELECT s, e, UNNEST(range(CAST(s AS DATE), CAST(e AS DATE) + 1,"
    "   INTERVAL 1 DAY))::DATE AS d FROM iv),"
    " clip AS (SELECT d, greatest(s, CAST(d AS TIMESTAMP)) AS cs,"
    "   least(e, CAST(d AS TIMESTAMP) + INTERVAL 1 DAY) AS ce,"
    "   s >= CAST(d AS TIMESTAMP) AS tstart FROM days),"
    " deltas AS (SELECT d, cs AS ts, 1 AS delta, tstart FROM clip"
    "   UNION ALL SELECT d, ce AS ts, -1 AS delta, false FROM clip),"
    " run AS (SELECT d, delta, tstart, sum(delta) OVER (PARTITION BY d"
    "   ORDER BY ts, delta ROWS UNBOUNDED PRECEDING) AS r FROM deltas)"
    " SELECT d AS bucket_date, CAST(max(r) AS BIGINT) AS peak_concurrent,"
    "  CAST(sum(CASE WHEN tstart AND delta = 1 THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS n_started"
    " FROM run GROUP BY d",
)


def _x42(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document duplicated-text fraction (the Gopher/RefinedWeb
    repetition signal x18 covers within-doc): per document, the share of
    its distinct trigrams occurring in >= 1 other document
    (textstats.duplicate_ngram_fraction — inverted-index shape)."""
    # the trigram explode is CPU-dense per row; core-count tasks when
    # the scan arrives as fewer splits (no-op at production file counts)
    docs = min_row_parallelism(read_sf_table(spark, sf, "documents"))
    out = X_text.duplicate_ngram_fraction(docs, "doc_id", "text", k=3)
    return out.select(
        F.col("id").alias("doc_id"), "n_shingles", "n_dup", "dup_frac"
    )


_register(
    "x42_dup_ngram_fraction",
    _x42,
    f"WITH {_SHINGLE_SQL},"
    " freq AS (SELECT shingle, count(*) AS df_ FROM sh GROUP BY 1)"
    " SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_shingles,"
    "  CAST(sum(CASE WHEN df_ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,"
    "  round(CAST(sum(CASE WHEN df_ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)"
    "   / count(*), 6) AS dup_frac"
    " FROM sh JOIN freq USING (shingle) GROUP BY id",
)


def _x43(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality filtering shape: a logistic head over scan-speed
    text features with fixed documented weights
    (textstats.quality_logit / QUALITY_LOGIT_WEIGHTS — swap in trained
    coefficients for a real CCNet/fasttext-style filter). keep compares
    the ROUNDED score on both engines so the 0.5 boundary cannot flip on
    last-ulp exp/ln drift."""
    docs = read_sf_table(spark, sf, "documents")
    q = F.round(X_text.quality_logit("text") + 1e-9, 6)
    return docs.select(
        "doc_id", q.alias("q_score"), (q >= 0.5).alias("keep")
    )


_X43_Z = (
    "(-2.0 + 0.35 * ln(1.0 + len(text))"
    f" + 2.5 * ({_RATIO_SQL.format(lst=_EN_LIST)})"
    f" - 3.0 * ({_PUNCT_SQL})"
    f" + 0.15 * ({_MEAN_TOKLEN_SQL}))"
)

_register(
    "x43_quality_logit",
    _x43,
    "WITH s AS (SELECT doc_id,"
    f" round(1.0 / (1.0 + exp(-{_X43_Z})) + 1e-9, 6) AS q_score"
    " FROM documents)"
    " SELECT doc_id, q_score, q_score >= 0.5 AS keep FROM s",
)


def _x44(spark: SparkSession, sf: str) -> DataFrame:
    """ANN evaluation harness: recall@5 of the hyperplane-LSH index (x12's
    configuration) against exact brute-force top-5 (x05's), for the ten
    query vectors — similarity.ann_recall. The join + aggregate is
    (#queries x k)-sized regardless of corpus size; the oracle reproduces
    BOTH retrieval paths in SQL and intersects them the same way."""
    emb = read_indexable_embeddings(spark, sf)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = X_sim.cosine_topk(emb, queries, k=5)
    ann = X_sim.lsh_topk(emb, n_planes=8, k=5, n_dims=64).filter(
        F.col("query_id") < 10
    )
    return X_sim.ann_recall(ann, exact, k=5)


def _bucket_recall_sql(bucket: str, q: str) -> str:
    """Per-query recall@5 of the ANN that ranks only the embeddings sharing
    the query's `bucket` (an expression over `v`), for the queries id < 10;
    `q` names the CTE of exact-set sizes."""
    cos = _cos_sql("a.v", "b.v")
    return (
        "WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v"
        f"  FROM embeddings WHERE {_EMB_OK}),"
        f" bk AS (SELECT id, v, {bucket} AS bucket FROM e),"
        f" es AS (SELECT a.id AS query_id, b.id AS neighbor_id, {cos} AS cosine"
        "   FROM e a, e b WHERE a.id < 10 AND a.id <> b.id),"
        " er AS (SELECT query_id, neighbor_id, row_number() OVER ("
        "   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM es),"
        " ex AS (SELECT query_id, neighbor_id FROM er WHERE rnk <= 5),"
        f" ans AS (SELECT a.id AS query_id, b.id AS neighbor_id, {cos} AS cosine"
        "   FROM bk a JOIN bk b USING (bucket) WHERE a.id < 10 AND a.id <> b.id),"
        " anr AS (SELECT query_id, neighbor_id, row_number() OVER ("
        "   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM ans),"
        " an AS (SELECT query_id, neighbor_id FROM anr WHERE rnk <= 5),"
        " hits AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits"
        "   FROM ex JOIN an USING (query_id, neighbor_id) GROUP BY 1),"
        # denominator = per-query exact-set size (== 5 whenever the corpus
        # holds >= 5 neighbors), matching similarity.ann_recall's contract
        f" {q} AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact"
        "   FROM ex GROUP BY 1)"
        f" SELECT {q}.query_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,"
        "  round(coalesce(n_hits, 0) / CAST(n_exact AS DOUBLE), 6) AS recall"
        f" FROM {q} LEFT JOIN hits USING (query_id)"
    )


def _x44_sql() -> str:
    return _bucket_recall_sql(_hyperplane_bucket_sql(n_planes=8, n_dims=64), "q")


_register("x44_ann_recall", _x44, _x44_sql())


def _p06(spark: SparkSession, sf: str) -> DataFrame:
    """l-diversity audit over the event log: per user_id (the quasi
    identifier), how many distinct event types (the sensitive attribute)
    the group carries, and whether it meets l=3 — k_anonymize's companion
    (privacy.l_diversity); groups failing either bound get suppressed or
    masked before release."""
    ev = read_sf_table(spark, sf, "events")
    return l_diversity(ev, ["user_id"], "event_type", l=3)


_register(
    "p06_l_diversity",
    _p06,
    "SELECT user_id, CAST(count(*) AS BIGINT) AS group_size,"
    " CAST(count(DISTINCT event_type) AS BIGINT) AS n_sensitive,"
    " count(DISTINCT event_type) >= 3 AS meets_l"
    " FROM events GROUP BY 1",
)


def _s08(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming trending-topics shape: tumbling 1-day windows of per-type
    event counts maintained by the streaming engine, then top-3 rank per
    window computed OVER THE DRAINED RESULT (windowed ranking cannot run
    inside a streaming agg — the standard pattern is rank-in-foreachBatch
    / rank-after-drain over the complete-mode state, which is
    #windows x #types sized, never corpus-sized)."""
    ev = stream_sf_table(spark, sf, "events")
    agg = ev.groupBy(
        F.window("ts", "1 day").alias("w"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    drained = drain(agg, output_mode="complete", partitions=8).select(
        F.col("w.start").alias("bucket"), "event_type", "n_events", "total_value"
    )
    w = Window.partitionBy("bucket").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        drained.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


_register(
    "s08_stream_topk_trending",
    _s08,
    "WITH g AS (SELECT date_trunc('day', ts) AS bucket, event_type,"
    "  CAST(count(*) AS BIGINT) AS n_events, round(sum(\"value\"), 6) AS total_value"
    "  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),"
    " r AS (SELECT *, row_number() OVER (PARTITION BY bucket"
    "   ORDER BY n_events DESC, event_type) AS rnk FROM g)"
    " SELECT bucket, event_type, n_events, total_value, CAST(rnk AS BIGINT) AS rnk"
    " FROM r WHERE rnk <= 3",
)


def _x46(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity audit across the TPC-H star schema's seven FK
    relations (profile.referential_audit): the pre-join data-quality gate.
    Key-value-grain anti-joins — the synthetic tables are clean, so every
    orphan count is 0 and the oracle pins exactly that."""
    t = {n: read_sf_table(spark, sf, n) for n in
         ["orders", "lineitem", "customer", "supplier", "part", "nation", "region"]}
    pairs = [
        ("lineitem.l_orderkey->orders", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
        ("lineitem.l_partkey->part", t["lineitem"], "l_partkey", t["part"], "p_partkey"),
        ("lineitem.l_suppkey->supplier", t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey"),
        ("orders.o_custkey->customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        ("customer.c_nationkey->nation", t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
        ("supplier.s_nationkey->nation", t["supplier"], "s_nationkey", t["nation"], "n_nationkey"),
        ("nation.n_regionkey->region", t["nation"], "n_regionkey", t["region"], "r_regionkey"),
    ]
    return X_prof.referential_audit(pairs)


def _x46_sql() -> str:
    def one(label, child, fk, parent, pk):
        return (
            f"SELECT '{label}' AS relation,"
            f" CAST(count(*) AS BIGINT) AS n_rows,"
            f" CAST(sum(CASE WHEN {fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,"
            f" CAST(sum(CASE WHEN {fk} IS NOT NULL AND NOT EXISTS"
            f"  (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})"
            f"  THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,"
            f" round(CAST(sum(CASE WHEN {fk} IS NOT NULL AND NOT EXISTS"
            f"  (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})"
            f"  THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS orphan_rate"
            f" FROM {child} c"
        )

    return " UNION ALL ".join(
        one(*args)
        for args in [
            ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
            ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
            ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
            ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
            ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
            ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        ]
    )


_register("x46_referential_audit", _x46, _x46_sql())


def _x47(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level exact substring dedup (the sequence-grain dedup of
    Lee et al.'s 'Deduplicating Training Data' line of work): strip every
    token covered by a corpus-duplicated trigram, keep per-doc stats plus
    the cleaned text (dedup.strip_duplicate_spans)."""
    # NULL text has no tokens to strip — filtered on BOTH sides (the
    # oracle would otherwise emit a NULL-stats row the kernel drops)
    docs = read_sf_table(spark, sf, "documents").filter(
        F.col("text").isNotNull()
    )
    out = X_dedup.strip_duplicate_spans(docs, "doc_id", "text", k=3)
    return out.select(
        F.col("id").alias("doc_id"), "n_tokens", "n_removed", "clean_text"
    )


_register(
    "x47_span_dedup",
    _x47,
    r"""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE text IS NOT NULL),
inst AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+2], ' ') AS gram
  FROM tok, UNNEST(range(1, greatest(len(w)-2, 0)+1)) AS t(i)),
dupg AS (SELECT gram FROM inst GROUP BY gram HAVING count(*) >= 2),
cov AS (SELECT DISTINCT doc_id, pos + o AS tp
  FROM inst JOIN dupg USING (gram), UNNEST([0, 1, 2]) AS t(o)),
tokp AS (SELECT doc_id, i AS p, w[i] AS tokn
  FROM tok, UNNEST(range(1, len(w)+1)) AS t(i)),
keep AS (SELECT doc_id, p, tokn FROM tokp WHERE NOT EXISTS
  (SELECT 1 FROM cov WHERE cov.doc_id = tokp.doc_id AND cov.tp = tokp.p - 1)),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
  string_agg(tokn, ' ' ORDER BY p) AS clean_text FROM keep GROUP BY doc_id)
SELECT tok.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
  CAST(len(w) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
  coalesce(agg.clean_text, '') AS clean_text
FROM tok LEFT JOIN agg ON tok.doc_id = agg.doc_id""",
)


def _s09(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream interval join: every signup,
    with its within-2h purchases OR a NULL row if none came — the
    conversion-funnel query (s04 is the inner variant; outer adds the
    'who did NOT convert' rows, which is what funnels are for). Outer
    rows emit when the watermark passes signup_ts + 2h; a finite drain's
    final watermark stops 1 min short of the stream end — and the JOIN
    watermark is the MIN over both input sides, so the cutoff derives from
    the EARLIER of the two sides' max event times (if the last purchase
    lands well before the last signup, the watermark stalls at the purchase
    side's clock and later signups never get their outer NULL row). Left
    side restricted to signups >= 3h before that min-of-max — a STATIC
    cutoff read from the batch table, reproduced verbatim in the oracle."""
    side_max = (
        read_sf_table(spark, sf, "events")
        .agg(
            F.max(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("su"),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("pu"),
        )
        .first()
    )
    cutoff = min(side_max["su"], side_max["pu"]) - timedelta(hours=3)
    # NB the cutoff must NOT filter the stream itself: dropping the last 3 h
    # of signups would cap that side's max event time, and the join's global
    # watermark is the MIN of both sides — it would stall 3 h early and
    # withhold exactly the outer rows the cutoff was meant to protect. The
    # stream runs over everything; the cutoff applies to the DRAINED batch.
    signups, purchases = _signup_purchase_streams(spark, sf)
    joined = interval_join(
        signups, purchases, [("su_user", "pu_user")],
        "signup_ts", "purchase_ts", upper="2 hours", how="left_outer",
    ).select(
        F.col("su_user").alias("user_id"),
        "signup_id",
        "signup_ts",
        "purchase_id",
        F.round("value", 6).alias("purchase_value"),
    )
    return (
        drain(joined, partitions=8)
        .filter(F.col("signup_ts") <= F.lit(cutoff))
        .drop("signup_ts")
    )


_register(
    "s09_stream_outer_interval_join",
    _s09,
    "WITH cut AS (SELECT least("
    "   max(CASE WHEN event_type = 'signup' THEN ts END),"
    "   max(CASE WHEN event_type = 'purchase' THEN ts END))"
    "   - INTERVAL 3 HOURS AS c FROM events),"
    " a AS (SELECT user_id, event_id, ts FROM events, cut"
    "   WHERE event_type = 'signup' AND ts <= c),"
    " b AS (SELECT user_id, event_id, ts, \"value\" FROM events"
    "   WHERE event_type = 'purchase')"
    " SELECT a.user_id, a.event_id AS signup_id, b.event_id AS purchase_id,"
    "  round(b.\"value\", 6) AS purchase_value"
    " FROM a LEFT JOIN b ON a.user_id = b.user_id"
    "  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOURS",
)


def _p07(spark: SparkSession, sf: str) -> DataFrame:
    """Generalization vs suppression: rows whose (user_id, event_type)
    group is under k=10 are lost to suppression (p04); banding user_id
    into ranges of 10 (privacy.generalize_quasi) enlarges groups so far
    fewer rows fall under k. One row per treatment with its suppressed
    count — the utility/privacy trade made measurable."""
    ev = read_sf_table(spark, sf, "events").select("user_id", "event_type")
    raw_w = Window.partitionBy("user_id", "event_type")
    raw = ev.withColumn("__gs", F.count(F.lit(1)).over(raw_w)).agg(
        F.sum((F.col("__gs") < 10).cast("long")).alias("n_suppressed")
    ).select(F.lit("raw").alias("treatment"), "n_suppressed")
    gen_w = Window.partitionBy("band", "event_type")
    gen = (
        ev.withColumn("band", generalize_quasi(F.col("user_id"), 10))
        .withColumn("__gs", F.count(F.lit(1)).over(gen_w))
        .agg(F.sum((F.col("__gs") < 10).cast("long")).alias("n_suppressed"))
        .select(F.lit("generalized").alias("treatment"), "n_suppressed")
    )
    return raw.unionByName(gen)


_register(
    "p07_generalization",
    _p07,
    "WITH raw AS (SELECT CAST(count(*) AS BIGINT) AS gs FROM events"
    "   GROUP BY user_id, event_type),"
    " gen AS (SELECT CAST(count(*) AS BIGINT) AS gs FROM events"
    "   GROUP BY CAST(floor(user_id / 10) AS BIGINT), event_type)"
    " SELECT 'raw' AS treatment,"
    "  CAST(coalesce(sum(CASE WHEN gs < 10 THEN gs END), 0) AS BIGINT)"
    "   AS n_suppressed FROM raw"
    " UNION ALL SELECT 'generalized',"
    "  CAST(coalesce(sum(CASE WHEN gs < 10 THEN gs END), 0) AS BIGINT) FROM gen",
)


def _a37(spark: SparkSession, sf: str) -> DataFrame:
    """Workload novelty: how many (user, query-shape) combinations appear
    for the FIRST time each day — the 'what changed in the workload today'
    analyzer an operator reads before capacity review. min-date per
    (user, shape) then a date rollup: two map-side-combinable aggregates,
    shuffle bounded by |users| x |shapes|, never by query count."""
    ev = read_sf_table(spark, sf, "events")
    shape = normalize_sql(_synthetic_sql_text())
    first_seen = (
        ev.select(
            F.col("user_id"), shape.alias("shape"), F.to_date("ts").alias("d")
        )
        .groupBy("user_id", "shape")
        .agg(F.min("d").alias("first_date"))
    )
    return first_seen.groupBy(F.col("first_date").alias("bucket_date")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new_user_shapes")
    )


_register(
    "a37_workload_novelty",
    _a37,
    f"WITH s AS (SELECT user_id, CAST(ts AS DATE) AS d, {_SYNTH_SQL_CASE} AS q"
    "  FROM events),"
    f" n AS (SELECT user_id, d, {_SYNTH_NORMALIZE_SQL} AS shape FROM s),"
    " fs AS (SELECT user_id, shape, min(d) AS first_date FROM n GROUP BY 1, 2)"
    " SELECT first_date AS bucket_date,"
    "  CAST(count(*) AS BIGINT) AS n_new_user_shapes"
    " FROM fs GROUP BY 1",
)


def _x48(spark: SparkSession, sf: str) -> DataFrame:
    """Log2-bucketed document-length histogram with byte mass per bucket —
    the monitoring profile every ingest pipeline charts (length spectrum
    shifts are the first symptom of a bad crawl batch). One aggregate,
    #buckets output rows."""
    docs = read_sf_table(spark, sf, "documents")
    bucket = F.floor(F.log2(F.greatest(F.col("n_chars"), F.lit(1)))).cast("long")
    return (
        docs.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_register(
    "x48_length_histogram",
    _x48,
    "SELECT CAST(floor(log2(greatest(n_chars, 1))) AS BIGINT) AS log2_bucket,"
    " CAST(count(*) AS BIGINT) AS n_docs,"
    " CAST(sum(n_chars) AS BIGINT) AS total_chars"
    " FROM documents GROUP BY 1",
)


def _x49(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-field consistency audit: does the materialized n_chars column
    actually equal length(text)? The denormalized-column drift check that
    referential audits (x46) don't cover — one aggregate pass, three
    counters + the worst absolute drift."""
    docs = read_sf_table(spark, sf, "documents")
    drift = F.abs(F.length("text") - F.col("n_chars"))
    return docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum((F.length("text") != F.col("n_chars")).cast("long")).alias("n_mismatched"),
        F.sum((F.col("text").isNull() | F.col("n_chars").isNull()).cast("long")).alias(
            "n_nulls"
        ),
        F.max(drift).cast("long").alias("max_drift"),
    )


_register(
    "x49_field_consistency",
    _x49,
    "SELECT CAST(count(*) AS BIGINT) AS n_rows,"
    " CAST(sum(CASE WHEN len(text) <> n_chars THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS n_mismatched,"
    " CAST(sum(CASE WHEN text IS NULL OR n_chars IS NULL THEN 1 ELSE 0 END)"
    "  AS BIGINT) AS n_nulls,"
    " CAST(max(abs(len(text) - n_chars)) AS BIGINT) AS max_drift"
    " FROM documents",
)


def _x50(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-hygiene audit: per label — vector count, NULL-vector
    count, dimension consistency (min/max length), zero-vector count,
    and mean L2 norm. The pre-index sanity gate for any ANN build (a
    single NULL, ragged or zero vector poisons cosine math silently);
    completes the audit family (x46 referential, x49 field drift) and
    is the one embeddings consumer that deliberately does NOT apply the
    indexable filter — its job is to COUNT what the filter would drop.
    One aggregate pass, norm via the same in-order fold the similarity
    module uses (NULL vectors contribute n_vectors + n_null_vectors
    only: size/norm are NULL and every other aggregate skips them)."""
    emb = read_sf_table(spark, sf, "embeddings")
    norm_sq = X_sim.dot_expr(F.col("embedding"), F.col("embedding"))
    return (
        emb.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(F.col("embedding").isNull().cast("long"))
            .cast("long").alias("n_null_vectors"),
            F.min(F.size("embedding")).cast("long").alias("min_dims"),
            F.max(F.size("embedding")).cast("long").alias("max_dims"),
            # coalesce: an all-NULL label group sums over no rows ->
            # NULL here, but 0 in the oracle's CASE ... ELSE 0 sum
            F.coalesce(
                F.sum((norm_sq == 0.0).cast("long")), F.lit(0)
            ).cast("long").alias("n_zero_vectors"),
            F.round(F.avg(F.sqrt(norm_sq)) + 1e-9, 6).alias("avg_norm"),
        )
    )


def _x51(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end training-data pipeline, composed as ONE chained DataFrame
    plan: quality filter (x43's logistic head) → exact dedup (x01's min-id
    survivor) → near-dedup (x02/x15's minhash-LSH + connected components)
    → decontamination (x25's 5-gram benchmark overlap, docs 0-19 playing
    the eval set) → token-budget packing (x39's hierarchical pack_bins).
    Every stage is individually oracle-proven; the chain exists to catch
    contract mismatches between them (column names, null conventions,
    survivor rules) that per-operator oracles cannot. The oracle reproduces
    the full five-stage cascade in SQL over the same chained CTEs.

    The near-dedup stage REUSES the corpus-level shared_lsh_pairs silver
    instead of re-running minhash on the filtered corpus: a doc's
    signature and band hashes depend only on its own text, so a pair
    collides in the subset iff it collides in the full corpus — the
    subset's candidate pairs are EXACTLY the full-corpus pairs with both
    endpoints surviving the upstream filters (two broadcast-able
    semi-joins against the survivor ids). Equivalence is not assumed:
    the oracle recomputes the subset minhash from scratch in SQL, so a
    divergence is a hash mismatch. At 100 TB this is the right pipeline
    shape anyway — the pair silver is built once and every downstream
    consumer restricts it, rather than each stage re-shuffling the
    shingle corpus."""
    docs = read_sf_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    q = F.round(X_text.quality_logit("text") + 1e-9, 6)
    # stage outputs are materialized (localCheckpoint) because every
    # following stage reads its predecessor 2-4 times (survivor aggregate
    # + semi/anti-join shapes): un-materialized, the chained plan
    # re-executes the quality regex battery and each dedup stage once per
    # reference — the r15 plan audit read this query at 82 Exchange /
    # 30 scan instances. This is also the production shape: a staged
    # curation pipeline materializes each stage's survivor set. The
    # dataflow contracts the chain exists to test (column names, null
    # conventions, survivor rules) flow through unchanged.
    kept = corpus.filter(q >= 0.5).transform(materialize)
    exd = X_dedup.drop_exact_duplicates(kept, ["text"], "doc_id").transform(materialize)
    ids = exd.select("doc_id")
    pairs = (
        shared_lsh_pairs(spark, sf)
        .join(ids.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
        .join(ids.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
    )
    nd = X_dedup.drop_near_duplicates(exd, "doc_id", pairs).transform(materialize)
    clean = X_dedup.decontaminate(nd, bench, "doc_id", "text", k=5)
    sized = clean.select(
        "source", "doc_id", X_text.token_count("text").cast("long").alias("n_tokens")
    )
    return X_text.pack_bins(
        sized, "source", "doc_id", "n_tokens", budget=2000, shard_size=128
    )


_register(
    "x51_pipeline_e2e",
    _x51,
    "WITH RECURSIVE"
    " kept AS (SELECT source, doc_id, text FROM documents WHERE doc_id >= 20"
    f"  AND round(1.0 / (1.0 + exp(-{_X43_Z})) + 1e-9, 6) >= 0.5),"
    " canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),"
    " exd AS (SELECT k.* FROM kept k JOIN canon USING (doc_id)),"
    f" {_shingle_sql('exd')},"
    f" {_lsh_pairs_sql('prs')},"
    f" {_cc_sql('prs', 'e')},"
    " nd AS (SELECT * FROM exd"
    "   WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)),"
    " ctok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM nd),"
    " csh AS (SELECT DISTINCT doc_id AS id, array_to_string(w[i:i+4], ' ') AS shingle"
    "        FROM ctok, UNNEST(range(1, greatest(len(w)-4, 0)+1)) AS t(i)),"
    " btok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w"
    "   FROM documents WHERE doc_id < 20),"
    " bsh AS (SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS shingle"
    "        FROM btok, UNNEST(range(1, greatest(len(w)-4, 0)+1)) AS t(i)),"
    " dirty AS (SELECT DISTINCT id FROM csh JOIN bsh USING (shingle)),"
    " clean AS (SELECT source, doc_id, text FROM nd"
    "   WHERE doc_id NOT IN (SELECT id FROM dirty))"
    " SELECT source, doc_id,"
    " CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,"
    " CAST(floor(coalesce(sum(len(string_split_regex(trim(text), '\\s+')))"
    "  OVER (PARTITION BY source ORDER BY doc_id"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0)"
    "  AS BIGINT) AS bin"
    " FROM clean",
)


_register(
    "x50_embedding_hygiene",
    _x50,
    # norm precomputed NULL-safely (list_dot_product(NULL, NULL) is NULL,
    # but inside CASE/aggregates it must never be the bare two-NULL call
    # DuckDB's list_inner_product rejects): coalesce to [] for the dot,
    # then null the result back out for NULL vectors
    "WITH e AS (SELECT CAST(label AS BIGINT) AS label,"
    "  CAST(embedding AS DOUBLE[]) AS v,"
    "  CASE WHEN embedding IS NULL THEN NULL"
    "   ELSE list_dot_product(CAST(embedding AS DOUBLE[]),"
    "    CAST(embedding AS DOUBLE[])) END AS nsq"
    "  FROM embeddings)"
    " SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,"
    "  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS n_null_vectors,"
    "  CAST(min(len(v)) AS BIGINT) AS min_dims,"
    "  CAST(max(len(v)) AS BIGINT) AS max_dims,"
    "  CAST(sum(CASE WHEN nsq = 0.0 THEN 1 ELSE 0 END)"
    "   AS BIGINT) AS n_zero_vectors,"
    "  round(avg(sqrt(nsq)) + 1e-9, 6) AS avg_norm"
    " FROM e GROUP BY 1",
)


# --------------------------------------------------------------------------
# Round-5 additions: broadcast-Bloom incremental dedup, count-min sketches.
# --------------------------------------------------------------------------


def _x52(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-prefiltered exact new-vs-corpus dedup (dedup.py:
    bloom_incremental_exact_dedup — the broadcast-bitmap front half of
    continuous-ingest dedup; reference analyzer/extract.py:96-104
    file-exists dedup generalized to content identity at corpus-independent
    per-batch cost). The synthetic 'new' batch is fresh docs (doc_id % 5
    == 0) plus RE-KEYED COPIES of corpus docs (doc_id % 11 == 3, shifted
    +1_000_000) so both paths are exercised: copies must die in the
    verify anti-join, fresh docs must survive the prefilter untouched.
    The pipeline output is exact (Bloom false positives are removed by the
    digest anti-join; false negatives cannot exist), so the oracle is the
    plain content anti-join — hash-free."""
    docs = read_sf_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    fresh = docs.filter(F.col("doc_id") % 5 == 0)
    copies = corpus.filter(F.col("doc_id") % 11 == 3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    new = fresh.unionByName(copies)
    out = X_dedup.bloom_incremental_exact_dedup(
        corpus, new, "doc_id", "text", m_bits=1 << 16, k_hashes=5
    )
    return out.select("doc_id")


_register(
    "x52_bloom_incremental_dedup",
    _x52,
    "WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),"
    " nw AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0"
    "   UNION ALL SELECT doc_id + 1000000, text FROM documents"
    "    WHERE doc_id % 5 <> 0 AND doc_id % 11 = 3)"
    " SELECT n.doc_id AS doc_id FROM nw n WHERE n.text IS NULL"
    "  OR NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = n.text)",
)


def _x53(spark: SparkSession, sf: str) -> DataFrame:
    """Certified-exact heavy-hitter tokens through a count-min sketch
    (sketches.py:cms_heavy_hitters): sketch → estimate → candidate cut →
    exact-count candidates → assert the certification bound. Production
    xxhash64 mode — the certified output is provably the exact top-k (or
    the job fails loudly), so the expected output contains no hash at all
    and the oracle is the plain exact top-k, the same hash-free-oracle move
    as x20/x13. The md5↔xxhash64 sketch-shape equivalence is pinned in
    tests/test_sketches.py."""
    docs = read_sf_table(spark, sf, "documents")
    return X_sk.cms_heavy_hitters(
        docs, "text", top=20, margin=4, width=4096, depth=4, mode="xxhash64"
    )


_register(
    "x53_cms_heavy_hitters",
    _x53,
    "WITH t AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term"
    "  FROM documents WHERE text IS NOT NULL)"
    " SELECT term, CAST(count(*) AS BIGINT) AS n FROM t WHERE term <> ''"
    " GROUP BY term ORDER BY n DESC, term LIMIT 20",
)


def _x54(spark: SparkSession, sf: str) -> DataFrame:
    """Adjacent-bigram PMI collocations (textstats.pmi_collocations):
    vocabulary-grain joins only — unigram counts meet the bigram table at
    one row per bigram TYPE, totals broadcast; min_count floors the
    rare-pair noise. Ranked on the 6-dp rounded score (cross-engine ln()
    ulp armor, same move as x22)."""
    docs = read_sf_table(spark, sf, "documents")
    return X_text.pmi_collocations(
        docs, "doc_id", "text", min_count=5, top=20, round_to=6
    )


_register(
    "x54_pmi_collocations",
    _x54,
    "WITH tok AS (SELECT string_split_regex(trim(text), '\\s+') AS w"
    "  FROM documents WHERE text IS NOT NULL),"
    " bi AS (SELECT w[i] AS w1, w[i+1] AS w2"
    "  FROM tok, UNNEST(range(1, greatest(len(w)-1, 0)+1)) AS t(i)"
    "  WHERE len(w) >= 2),"
    " uni AS (SELECT unnest(w) AS wd FROM tok),"
    " pc AS (SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY 1, 2),"
    " uc AS (SELECT wd, count(*) AS n_w FROM uni WHERE wd <> '' GROUP BY 1),"
    " tp AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS tp FROM pc),"
    " tu AS (SELECT CAST(sum(n_w) AS DOUBLE) AS tu FROM uc)"
    " SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,"
    "  round(ln((n_pair / tp) / ((a.n_w / tu) * (b.n_w / tu))) + 1e-9, 6) AS pmi"
    " FROM pc JOIN uc a ON a.wd = pc.w1 JOIN uc b ON b.wd = pc.w2, tp, tu"
    " WHERE n_pair >= 5"
    " ORDER BY pmi DESC, w1, w2 LIMIT 20",
)


def _x55(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source Zipf rank-frequency fit (textstats.zipf_slope): the
    corpus-health slope of ln(count) on ln(rank). Ranks computed with the
    HIERARCHICAL two-level row_number (low-cardinality group key sharded by
    -floor(log2(count)), monotone between shards), so no task ever sorts a
    whole source's vocabulary; the fit is one regr_slope aggregate."""
    docs = read_sf_table(spark, sf, "documents")
    out = X_text.zipf_slope(docs, "source", "text")
    return out.select(
        "source",
        "n_terms",
        F.round(F.col("zipf_slope") + 1e-9, 6).alias("zipf_slope"),
    )


_register(
    "x55_zipf_slope",
    _x55,
    "WITH t AS (SELECT source AS grp,"
    "   unnest(string_split_regex(trim(text), '\\s+')) AS term"
    "  FROM documents WHERE text IS NOT NULL),"
    " c AS (SELECT grp, term, count(*) AS cnt FROM t WHERE term <> ''"
    "  GROUP BY 1, 2),"
    " r AS (SELECT grp, cnt, row_number() OVER"
    "   (PARTITION BY grp ORDER BY cnt DESC, term ASC) AS rank FROM c)"
    " SELECT grp AS source, CAST(count(*) AS BIGINT) AS n_terms,"
    "  round(regr_slope(ln(cnt), ln(rank)) + 1e-9, 6) AS zipf_slope"
    " FROM r GROUP BY 1",
)


def _x56(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection (dedup.py:
    sorted_neighborhood_pairs — Hernández-Stolfo SNM, the ORDERING-based
    blocking family): global rank over the normalized-text key via the
    hierarchical two-level row_number, windowed neighbor pairs through a
    floor(rank/window) bucket equi-join, then exact 3-shingle Jaccard
    verification on candidates only (ngram_jaccard pair mode). The oracle
    reproduces the full rank → window → Jaccard cascade, so a rank or
    bucket bug diverges immediately."""
    docs = read_sf_table(spark, sf, "documents")
    cand = X_dedup.sorted_neighborhood_pairs(docs, "doc_id", "text", window=10)
    sh = X_dedup.shingles(docs, "doc_id", "text", k=3)
    ver = X_dedup.ngram_jaccard(sh, pairs=cand)
    return ver.filter(F.col("jaccard") >= 0.3).select(
        "id_a", "id_b", F.round(F.col("jaccard") + 1e-9, 6).alias("jaccard")
    )


_register(
    "x56_sorted_neighborhood",
    _x56,
    "WITH nk AS (SELECT doc_id AS id, trim(regexp_replace(regexp_replace("
    "   lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS key"
    "  FROM documents),"
    " r AS (SELECT id, row_number() OVER"
    "   (ORDER BY key ASC NULLS FIRST, id ASC) AS rnk FROM nk),"
    " cand AS (SELECT a.id AS id_a, b.id AS id_b FROM r a JOIN r b"
    "   ON b.rnk > a.rnk AND b.rnk - a.rnk <= 9),"
    f" {_CAND_JACCARD_SQL}",
)


def _s10(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming ingest dedup against a STATIC seen-set: the event stream
    left-anti-joins the batch table of already-ingested event ids (the
    streaming twin of x52/x35's incremental dedup — continuous ingest
    where every micro-batch drops rows the store already has), then rolls
    up novel events per day. Stream-static anti-joins need no state store
    or watermark bound (the static side is re-planned each micro-batch,
    picking up store updates for free); at scale the seen-set side is a
    parquet digest table, pruned by the join's runtime filter. Oracle:
    the identical batch anti-join."""
    ev = stream_sf_table(spark, sf, "events")
    seen = read_sf_table(spark, sf, "events").filter(
        F.col("event_id") % 3 == 0
    ).select("event_id")
    novel = ev.join(seen, on="event_id", how="left_anti")
    agg = novel.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )
    return drain(agg, output_mode="complete", partitions=8).select(
        F.col("w.start").alias("bucket"), "n_events", "value_sum"
    )


_register(
    "s10_stream_ingest_dedup",
    _s10,
    "SELECT date_trunc('day', ts) AS bucket,"
    " CAST(count(*) AS BIGINT) AS n_events,"
    " round(sum(\"value\"), 6) AS value_sum"
    " FROM events WHERE event_id % 3 <> 0 AND ts IS NOT NULL GROUP BY 1",
)


def _x57(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus snapshot drift audit (profile.py:snapshot_diff): simulate a
    refresh of the documents table — doc_id % 7 == 0 removed, % 5 == 0
    re-crawled with new content (' v2' suffix), % 11 == 0 duplicated in
    as fresh ids (+1_000_000) — and classify every row per source through
    the digest full-outer join. The oracle reproduces the same refresh
    and classifies with IS (NOT) DISTINCT FROM on the raw text, so the
    digest path must agree with true content comparison."""
    docs = read_sf_table(spark, sf, "documents")
    old = docs
    new = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).withColumn(
                "doc_id", F.col("doc_id") + F.lit(1000000)
            )
        )
    )
    return X_prof.snapshot_diff(old, new, "doc_id", ["text"], group_col="source")


_register(
    "x57_snapshot_drift",
    _x57,
    "WITH old AS (SELECT doc_id, text, source FROM documents),"
    " nw AS (SELECT doc_id,"
    "   CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text,"
    "   source FROM documents WHERE doc_id % 7 <> 0"
    "  UNION ALL SELECT doc_id + 1000000, text, source FROM documents"
    "   WHERE doc_id % 11 = 0),"
    " j AS (SELECT coalesce(n.source, o.source) AS source,"
    "   CASE WHEN o.doc_id IS NULL THEN 'added'"
    "        WHEN n.doc_id IS NULL THEN 'removed'"
    "        WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'"
    "        ELSE 'changed' END AS status"
    "  FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)"
    " SELECT source, status, CAST(count(*) AS BIGINT) AS n"
    " FROM j GROUP BY 1, 2",
)


def _x59(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware near-dedup materialization (dedup.py:
    drop_near_duplicates_by): same minhash-LSH component graph as x15, but
    the survivor is the LONGEST document per cluster (argmax by (n_chars,
    doc_id)) instead of the min-id — the production policy of keeping the
    best copy. Oracle: x14's recursive-CTE components + the same
    struct-argmax, so the election rule itself is cross-checked."""
    docs = read_sf_table(spark, sf, "documents")
    pairs = shared_lsh_pairs(spark, sf)
    return X_dedup.drop_near_duplicates_by(
        docs, "doc_id", pairs, F.col("n_chars")
    ).select("doc_id")


_register(
    "x59_near_dedup_keep_best",
    _x59,
    _X14_CC_SQL
    + ", ranked AS (SELECT cc.id, row_number() OVER (PARTITION BY cluster_id"
    "    ORDER BY d.n_chars DESC, cc.id DESC) AS rn"
    "   FROM cc JOIN documents d ON d.doc_id = cc.id)"
    " SELECT doc_id FROM documents"
    " WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rn > 1)",
)


def _x58(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source vocabulary coverage (textstats.vocab_coverage): share of
    token occurrences covered by the top-10/100/1000 terms — zipf_slope's
    companion corpus-health metric, computed from the same shared
    hierarchical ranked spectrum with fixed-cut conditional sums (no
    prefix-sum window)."""
    docs = read_sf_table(spark, sf, "documents")
    out = X_text.vocab_coverage(docs, "source", "text", tops=(10, 100, 1000))
    return out.select(
        "source",
        "n_terms",
        *[
            F.round(F.col(f"cov_{n}") + 1e-9, 6).alias(f"cov_{n}")
            for n in (10, 100, 1000)
        ],
    )


_register(
    "x58_vocab_coverage",
    _x58,
    "WITH t AS (SELECT source AS grp,"
    "   unnest(string_split_regex(trim(text), '\\s+')) AS term"
    "  FROM documents WHERE text IS NOT NULL),"
    " c AS (SELECT grp, term, count(*) AS cnt FROM t WHERE term <> ''"
    "  GROUP BY 1, 2),"
    " r AS (SELECT grp, cnt, row_number() OVER"
    "   (PARTITION BY grp ORDER BY cnt DESC, term ASC) AS rank FROM c)"
    " SELECT grp AS source, CAST(count(*) AS BIGINT) AS n_terms,"
    "  round(CAST(sum(CASE WHEN rank <= 10 THEN cnt ELSE 0 END) AS DOUBLE)"
    "   / sum(cnt) + 1e-9, 6) AS cov_10,"
    "  round(CAST(sum(CASE WHEN rank <= 100 THEN cnt ELSE 0 END) AS DOUBLE)"
    "   / sum(cnt) + 1e-9, 6) AS cov_100,"
    "  round(CAST(sum(CASE WHEN rank <= 1000 THEN cnt ELSE 0 END) AS DOUBLE)"
    "   / sum(cnt) + 1e-9, 6) AS cov_1000"
    " FROM r GROUP BY 1",
)


def _x60(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source near-duplication matrix: which sources copy from
    which — every minhash-LSH near-dup pair (x02's md5 pipeline) joined
    back to both docs' source labels, counted per unordered source pair
    (least/greatest canonicalization). The crawl-overlap audit a corpus
    operator reads before deciding which source to drop; pair-grain work
    is bounded by the candidate pairs, source-matrix grain by #sources²."""
    docs = read_sf_table(spark, sf, "documents")
    pairs = shared_lsh_pairs(spark, sf)
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(src.select(F.col("doc_id").alias("id_a"),
                              F.col("source").alias("__sa")), on="id_a")
        .join(src.select(F.col("doc_id").alias("id_b"),
                         F.col("source").alias("__sb")), on="id_b")
    )
    return (
        j.select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        # sorted so the curation report's chart reads the same every run
        .orderBy("source_a", "source_b")
    )


_register(
    "x60_cross_source_dups",
    _x60,
    f"WITH {_SHINGLE_SQL}, {_lsh_pairs_sql('prs')}"
    " SELECT least(da.source, db.source) AS source_a,"
    "  greatest(da.source, db.source) AS source_b,"
    "  CAST(count(*) AS BIGINT) AS n_pairs"
    " FROM prs JOIN documents da ON da.doc_id = id_a"
    "  JOIN documents db ON db.doc_id = id_b"
    " GROUP BY 1, 2",
)


def _x62(spark: SparkSession, sf: str) -> DataFrame:
    """FILTERED ANN (similarity.ivf_topk(corpus_filter=...)): metadata-
    constrained nearest-neighbor search — the index is built once over the
    full corpus, the label predicate applies to candidate neighbors at
    query time. Driven through the same exactness reduction as x13
    (n_probe == n_cells ⇒ filtered IVF ≡ filtered brute force, KMeans
    provably cancels), so the oracle is brute-force top-k over the
    label-filtered corpus."""
    emb = read_sf_table(spark, sf, "embeddings")
    out = X_sim.ivf_topk(
        emb.filter(F.col("vec_id") < 200).coalesce(4),
        n_cells=8, n_probe=8, k=5, seed=42, max_iter=8,
        corpus_filter=F.col("label") % 2 == 0,
    )
    return _rounded_topk(out)


_register(
    "x62_filtered_ann",
    _x62,
    _cosine_topk_sql("vec_id < 200", "vec_id < 200 AND label % 2 = 0"),
)


def _x61(spark: SparkSession, sf: str) -> DataFrame:
    """Split-leakage audit: near-dup pairs that STRADDLE train/val/test
    boundaries — the eval-contamination check every LLM data split needs
    (a test doc with a train near-twin silently inflates eval scores).
    Composes two proven stages: x16's deterministic hash split and x02's
    minhash-LSH pair pipeline; pairs are counted per canonical
    (split_a <= split_b) cell, so off-diagonal rows ARE the leakage. The
    oracle replays both stages (md5 bucket split + band joins) in SQL."""
    docs = read_sf_table(spark, sf, "documents")
    split = X_samp.hash_split(docs, "doc_id").select("doc_id", "split")
    pairs = shared_lsh_pairs(spark, sf)
    j = (
        pairs.join(split.select(F.col("doc_id").alias("id_a"),
                                F.col("split").alias("__pa")), on="id_a")
        .join(split.select(F.col("doc_id").alias("id_b"),
                           F.col("split").alias("__pb")), on="id_b")
    )
    return (
        j.select(
            F.least("__pa", "__pb").alias("split_a"),
            F.greatest("__pa", "__pb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


_register(
    "x61_split_leakage",
    _x61,
    f"WITH {_SHINGLE_SQL}, {_lsh_pairs_sql('prs')},"
    f" sp AS (SELECT doc_id, CASE WHEN {_X16_BUCKET_SQL} < 230 THEN 'train'"
    f"   WHEN {_X16_BUCKET_SQL} < 243 THEN 'val'"
    "   ELSE 'test' END AS split FROM documents)"
    " SELECT least(sa.split, sb.split) AS split_a,"
    "  greatest(sa.split, sb.split) AS split_b,"
    "  CAST(count(*) AS BIGINT) AS n_pairs"
    " FROM prs JOIN sp sa ON sa.doc_id = id_a JOIN sp sb ON sb.doc_id = id_b"
    " GROUP BY 1, 2",
)


def _x63(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated bigram-LM document scoring (textstats.bigram_logprob):
    Jelinek-Mercer mix of corpus bigram and unigram probabilities — the
    order-sensitive upgrade of x26's unigram proxy (shuffled prose now
    scores like gibberish). All count tables live at vocabulary grain;
    the oracle replays the exact interpolation arithmetic."""
    docs = read_sf_table(spark, sf, "documents")
    out = X_text.bigram_logprob(docs, "doc_id", "text", lam=0.7)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        F.round(F.col("avg_neg_logprob") + 1e-9, 6).alias("avg_neg_logprob"),
    )


# textstats' lowercase token array
_LOWER_TOKS_SQL = "list_transform(string_split_regex(trim(text), '\\s+'), t -> lower(t))"

_register(
    "x63_bigram_logprob",
    _x63,
    "WITH base AS (SELECT doc_id AS id,"
    f"   {_LOWER_TOKS_SQL} AS toks"
    "  FROM documents WHERE text IS NOT NULL),"
    " ui AS (SELECT id, unnest(toks) AS w FROM base),"
    " ui2 AS (SELECT * FROM ui WHERE w <> ''),"
    " uni AS (SELECT w, count(*) AS c1 FROM ui2 GROUP BY 1),"
    " tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni),"
    " bii AS (SELECT id, toks[i] AS w_prev, toks[i+1] AS w"
    "  FROM base, UNNEST(range(1, greatest(len(toks)-1, 0)+1)) AS t(i)"
    "  WHERE len(toks) >= 2 AND toks[i] <> '' AND toks[i+1] <> ''),"
    " bi AS (SELECT w_prev, w, count(*) AS c2 FROM bii GROUP BY 1, 2),"
    " sb AS (SELECT id, -ln(0.7 * c2 / cp.c1 + 0.3 * u.c1 / n) AS nll"
    "  FROM bii JOIN bi USING (w_prev, w)"
    "   JOIN uni cp ON cp.w = bii.w_prev JOIN uni u ON u.w = bii.w, tot),"
    " fst AS (SELECT id, -ln(c1 / n) AS nll FROM ("
    "   SELECT id, toks[1] AS w FROM base WHERE len(toks) >= 1 AND toks[1] <> ''"
    "  ) f JOIN uni USING (w), tot),"
    " allr AS (SELECT * FROM sb UNION ALL SELECT * FROM fst)"
    " SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_tokens,"
    "  round(sum(nll) / count(*) + 1e-9, 6) AS avg_neg_logprob"
    " FROM allr GROUP BY 1",
)


def _x64(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dedup MATERIALIZATION — x33's blocked pair pipeline
    completed to the survivor set (SemDeDup-style semantic dedup): blocked
    hyperplane-LSH candidates, exact cosine verify at 0.25, connected
    components, keep the min-id per cluster. The embedding-side twin of
    x15, closing the text/embedding parity gap: every dedup family now
    has both a pair query and a materialization query. Consumes the
    shared_embedding_clusters CC silver (round 11) so a fresh plan pays
    only the survivor anti-join — the iterative CC chain re-executing
    per plan construction was x64's 4.1-7.9 s warm-solo variance.
    Oracle: x33's deterministic md5-hyperplane SQL + the recursive
    CC + the same survivor anti-join."""
    emb = read_sf_table(spark, sf, "embeddings")
    cc = shared_embedding_clusters(spark, sf)
    losers = cc.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("vec_id")
    )
    return emb.join(losers, on="vec_id", how="left_anti").select("vec_id")


def _x64_sql() -> str:
    base = _x33_sql()
    head, tail = base.split(" SELECT id_a, id_b,", 1)
    assert tail.endswith("WHERE cosine > 0.25")
    return (
        "WITH RECURSIVE " + head[len("WITH "):]
        + ", prs AS (SELECT id_a, id_b FROM scored WHERE cosine > 0.25),"
        f" {_cc_sql('prs', 'e2')}"
        " SELECT vec_id FROM embeddings"
        " WHERE vec_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)"
    )


_register("x64_embedding_dedup_keep", _x64, _x64_sql())


def _x65(spark: SparkSession, sf: str) -> DataFrame:
    """MULTI-PASS sorted-neighborhood dedup (the production SNM recipe the
    x56 docstring prescribes): pass 1 sorts by normalized text, pass 2 by
    the WORD-REVERSED normalized text — a doc pair differing only in its
    leading words sorts apart in pass 1 but adjacent in pass 2, closing
    SNM's prefix blind spot. Candidate union is deduplicated before the
    single exact-Jaccard verification (candidates stay pair-grain; each
    pass is the proven x56 pipeline with a different key Column)."""
    docs = read_sf_table(spark, sf, "documents")
    norm = X_text.normalized_text("text")
    rev = F.array_join(F.reverse(F.split(norm, " ")), " ")
    cand = (
        X_dedup.sorted_neighborhood_pairs(docs, "doc_id", "text", window=10)
        .unionByName(
            X_dedup.sorted_neighborhood_pairs(
                docs, "doc_id", "text", window=10, key=rev
            )
        )
        .distinct()
    )
    sh = X_dedup.shingles(docs, "doc_id", "text", k=3)
    ver = X_dedup.ngram_jaccard(sh, pairs=cand)
    return ver.filter(F.col("jaccard") >= 0.3).select(
        "id_a", "id_b", F.round(F.col("jaccard") + 1e-9, 6).alias("jaccard")
    )


_X65_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)

_register(
    "x65_snm_multipass",
    _x65,
    f"WITH nk AS (SELECT doc_id AS id, {_X65_NORM} AS key1,"
    f"   array_to_string(list_reverse(string_split({_X65_NORM}, ' ')), ' ') AS key2"
    "  FROM documents),"
    " r1 AS (SELECT id, row_number() OVER"
    "   (ORDER BY key1 ASC NULLS FIRST, id ASC) AS rnk FROM nk),"
    " r2 AS (SELECT id, row_number() OVER"
    "   (ORDER BY key2 ASC NULLS FIRST, id ASC) AS rnk FROM nk),"
    " cand AS (SELECT a.id AS id_a, b.id AS id_b FROM r1 a JOIN r1 b"
    "   ON b.rnk > a.rnk AND b.rnk - a.rnk <= 9"
    "  UNION SELECT a.id, b.id FROM r2 a JOIN r2 b"
    "   ON b.rnk > a.rnk AND b.rnk - a.rnk <= 9),"
    f" {_CAND_JACCARD_SQL}",
)


def _x66(spark: SparkSession, sf: str) -> DataFrame:
    """Per-suite contamination matrix (dedup.contamination_matrix): x25's
    leakage check broken down by (corpus source × benchmark suite) — docs
    0-39 play two eval suites (doc_id parity), the rest are the corpus.
    Benchmark (shingle, suite) pairs broadcast; the corpus never
    shuffles."""
    docs = read_sf_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") < 40).withColumn(
        "suite", F.concat(F.lit("suite_"), (F.col("doc_id") % 2).cast("string"))
    )
    corpus = docs.filter(F.col("doc_id") >= 40)
    return X_dedup.contamination_matrix(
        corpus, bench, "doc_id", "text", corpus_group="source",
        bench_group="suite", k=5,
    )


_register(
    "x66_contamination_matrix",
    _x66,
    "WITH ctok AS (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w"
    "  FROM documents WHERE doc_id >= 40),"
    " csh AS (SELECT DISTINCT doc_id AS id, source,"
    "    array_to_string(w[i:i+4], ' ') AS shingle"
    "  FROM ctok, UNNEST(range(1, greatest(len(w)-4, 0)+1)) AS t(i)),"
    " btok AS (SELECT doc_id, 'suite_' || CAST(doc_id % 2 AS VARCHAR) AS suite,"
    "    string_split_regex(trim(text), '\\s+') AS w"
    "  FROM documents WHERE doc_id < 40),"
    " bsh AS (SELECT DISTINCT suite,"
    "    array_to_string(w[i:i+4], ' ') AS shingle"
    "  FROM btok, UNNEST(range(1, greatest(len(w)-4, 0)+1)) AS t(i))"
    " SELECT source, suite, CAST(count(DISTINCT id) AS BIGINT) AS n_docs,"
    "  CAST(count(*) AS BIGINT) AS n_gram_hits"
    " FROM csh JOIN bsh USING (shingle)"
    " GROUP BY 1, 2",
)


def _s11(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming load-anomaly monitor: the event stream's per-(day,
    event_type) counts join a STATIC historical profile (per-type mean /
    population-stddev of daily counts, computed batch-side) and emit
    z-scores — a33's anomaly detection moved to the live path, the
    standard ops-monitoring shape (static profile re-planned per
    micro-batch, so a nightly profile refresh is picked up for free; no
    stream-stream state). Oracle: the identical batch composition."""
    hist = (
        # ts IS NOT NULL: an undatable event is no day's count — the
        # batch profile must skip it exactly as the streaming window does
        read_sf_table(spark, sf, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("event_type")
        .agg(
            F.avg("n").alias("mu"),
            F.stddev_pop("n").alias("sigma"),
        )
    )
    ev = stream_sf_table(spark, sf, "events")
    agg = ev.groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        drain(agg, output_mode="complete", partitions=8)
        .join(F.broadcast(hist), on="event_type")
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            "n_events",
            F.round(
                F.when(
                    F.col("sigma") > 0,
                    (F.col("n_events") - F.col("mu")) / F.col("sigma"),
                ).otherwise(F.lit(0.0))
                + 1e-9,
                6,
            ).alias("z"),
        )
    )


_register(
    "s11_stream_anomaly",
    _s11,
    "WITH daily AS (SELECT date_trunc('day', ts) AS bucket, event_type,"
    "   CAST(count(*) AS BIGINT) AS n_events FROM events"
    "   WHERE ts IS NOT NULL GROUP BY 1, 2),"
    " hist AS (SELECT event_type, avg(n_events) AS mu,"
    "   stddev_pop(n_events) AS sigma FROM daily GROUP BY 1)"
    " SELECT bucket, event_type, n_events,"
    "  round(CASE WHEN sigma > 0 THEN (n_events - mu) / sigma ELSE 0.0 END"
    "   + 1e-9, 6) AS z"
    " FROM daily JOIN hist USING (event_type)",
)


def _p08(spark: SparkSession, sf: str) -> DataFrame:
    """t-closeness audit over the event log (privacy.t_closeness): per
    user_id, the total-variation distance between the user's event-type
    distribution and the table-wide one — the third release-readiness leg
    after k-anonymity (p04) and l-diversity (p06); computed in sparse
    form (no group × domain densification). Rounded for cross-engine
    float portability."""
    ev = read_sf_table(spark, sf, "events")
    out = t_closeness(ev, ["user_id"], "event_type", t=0.2)
    return out.select(
        "user_id",
        "group_size",
        F.round(F.col("tvd") + 1e-9, 6).alias("tvd"),
        (F.round(F.col("tvd") + 1e-9, 6) <= 0.2).alias("meets_t"),
    )


_register(
    "p08_t_closeness",
    _p08,
    "WITH cell AS (SELECT user_id, event_type, count(*) AS n"
    "  FROM events GROUP BY 1, 2),"
    " grp AS (SELECT user_id, sum(n) AS gn FROM cell GROUP BY 1),"
    " gl AS (SELECT event_type, count(*) AS ng FROM events GROUP BY 1),"
    " tot AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM events),"
    " tv AS (SELECT user_id,"
    "   sum(abs(CAST(n AS DOUBLE) / gn - ng / nt)) / 2"
    "    + (1 - sum(ng / nt)) / 2 AS tvd"
    "  FROM cell JOIN grp USING (user_id)"
    "   JOIN gl ON cell.event_type IS NOT DISTINCT FROM gl.event_type, tot"
    "  GROUP BY 1)"
    " SELECT user_id, CAST(gn AS BIGINT) AS group_size,"
    "  round(tvd + 1e-9, 6) AS tvd,"
    "  round(tvd + 1e-9, 6) <= 0.2 AS meets_t"
    " FROM tv JOIN grp USING (user_id)",
)


def _x67(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source distinctive vocabulary (textstats.distinctive_terms):
    Monroe et al. weighted log-odds with the global-counts Dirichlet
    prior — which words characterize each source against the rest.
    Vocabulary-grain joins; ranking hierarchical with local pruning; the
    oracle replays the exact shrinkage arithmetic and ranks on the same
    rounded score."""
    docs = read_sf_table(spark, sf, "documents")
    return X_text.distinctive_terms(docs, "source", "text", top=5)


_register(
    "x67_distinctive_terms",
    _x67,
    "WITH t AS (SELECT source AS grp, lower(w.term) AS term FROM documents,"
    "   unnest(string_split_regex(trim(text), '\\s+')) AS w(term)"
    "  WHERE text IS NOT NULL),"
    " ykw AS (SELECT grp, term, CAST(count(*) AS DOUBLE) AS y"
    "   FROM t WHERE term <> '' GROUP BY 1, 2),"
    " yw AS (SELECT term, sum(y) AS yg FROM ykw GROUP BY 1),"
    " nk AS (SELECT grp, sum(y) AS nkv FROM ykw GROUP BY 1),"
    " a0 AS (SELECT sum(yg) AS a0v FROM yw),"
    " sc AS (SELECT grp, term, CAST(y AS BIGINT) AS n,"
    "   round(((ln((y + yg) / (nkv + a0v - y - yg))"
    "         - ln((yg - y + yg) / (a0v - nkv + a0v - (yg - y) - yg))))"
    "    / sqrt(1.0 / (y + yg) + 1.0 / (yg - y + yg)) + 1e-9, 6) AS z"
    "  FROM ykw JOIN yw USING (term) JOIN nk USING (grp), a0),"
    " r AS (SELECT *, row_number() OVER (PARTITION BY grp"
    "   ORDER BY z DESC, term ASC) AS rank FROM sc)"
    " SELECT grp AS source, term, n, z, rank FROM r WHERE rank <= 5",
)


def _s12(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming CUSUM drift alarms (streaming/cusum.py — the
    second custom applyInPandasWithState operator beside sessionization):
    per event_type, rows whose cumulated above-(target+slack) drift
    exceeds the threshold. State is two doubles per key (prefix sum +
    running min — the Page-CUSUM closed form), so the oracle is the exact
    window formulation S = P - min(0, running_min(P)); single-batch
    availableNow drain makes per-key processing order total."""
    ev = stream_sf_table(spark, sf, "events")
    alarms = cusum_alarms(
        ev, "event_type", "ts", "event_id", "value",
        target=50.0, slack=2.0, threshold=300.0,
    )
    return drain(alarms, partitions=8).select(
        F.col("key").alias("event_type"),
        "event_id",
        F.round(F.col("s_plus") + 1e-9, 6).alias("s_plus"),
    )


_register(
    "s12_stream_cusum",
    _s12,
    "WITH p AS (SELECT event_type, ts, event_id,"
    "   sum(\"value\" - 52.0) OVER (PARTITION BY event_type"
    "    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS pf FROM events),"
    " s AS (SELECT *, pf - least(0, min(pf) OVER (PARTITION BY event_type"
    "    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)) AS sp FROM p)"
    " SELECT event_type, event_id, round(sp + 1e-9, 6) AS s_plus"
    " FROM s WHERE sp > 300.0",
)


def _x68(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix over the event log: users cohorted by
    first-seen date; for each (cohort_date, day_offset) the count of
    cohort members active that day — the standard retention triangle.
    Shapes: user-grain first-seen aggregate, distinct (user, day)
    activity, one user-keyed join, and a (cohort × offset)-grain count
    distinct — no window anywhere, every aggregate map-side combinable."""
    ev = read_sf_table(spark, sf, "events")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_date"))
    activity = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        activity.join(first, on="user_id")
        .select(
            "cohort_date",
            F.datediff(F.col("d"), F.col("cohort_date")).cast("long").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_date", "day_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


_register(
    "x68_cohort_retention",
    _x68,
    "WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date"
    "  FROM events GROUP BY 1),"
    " a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)"
    " SELECT cohort_date,"
    "  CAST(date_diff('day', cohort_date, d) AS BIGINT) AS day_offset,"
    "  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users"
    " FROM a JOIN f USING (user_id)"
    " GROUP BY 1, 2",
)


def _x69(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order write-layout key (profile.zorder_key): Morton interleave of
    two quantized event dimensions (user bucket, value bucket) — sorting
    by this key before writing co-locates rows that are close in BOTH
    dimensions, so row-group min/max stats prune scans for predicates on
    either. The query returns per-key-bucket counts (the layout
    histogram); the oracle reproduces the bit interleave with plain
    arithmetic."""
    ev = read_sf_table(spark, sf, "events")
    q = ev.select(
        (F.col("user_id") % 16).alias("ub"),
        F.least(F.lit(15), (F.col("value") / 32.0).cast("long")).alias("vb"),
    )
    key = X_prof.zorder_key(["ub", "vb"], bits=4)
    return (
        q.select(key.alias("zkey"))
        .groupBy("zkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


_X69_ZKEY = " + ".join(
    f"((({c} // {1 << b}) % 2) * {1 << (b * 2 + i)})"
    for b in range(4)
    for i, c in ((0, "ub"), (1, "vb"))
)

_register(
    "x69_zorder_layout",
    _x69,
    "WITH q AS (SELECT user_id % 16 AS ub,"
    "   least(15, CAST(trunc(\"value\" / 32.0) AS BIGINT)) AS vb FROM events)"
    f" SELECT CAST({_X69_ZKEY} AS BIGINT) AS zkey,"
    "  CAST(count(*) AS BIGINT) AS n"
    " FROM q GROUP BY 1",
)


def _x70(spark: SparkSession, sf: str) -> DataFrame:
    """Population-stability-index drift report: per event_type, PSI of the
    value distribution between the first and second half of the time range
    — the standard ML-monitoring drift metric (PSI = Σ (p_cur − p_base) ·
    ln(p_cur / p_base) over fixed buckets; > 0.2 conventionally flags
    drift). Fixed-width buckets (16 × 32-wide, clamped) keep the bucket
    edges engine-portable — no cross-engine percentile hazards; the 1e-6
    floor keeps empty cells finite (standard PSI practice). Everything is
    two bounded aggregates and a (type × bucket)-grain join."""
    ev = read_sf_table(spark, sf, "events")
    # ts arrives TIMESTAMP_NTZ from the batch parquet read; compare in
    # micros space (value-preserving under the UTC-pinned session)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    # floor on both engines: Spark's cast truncates but DuckDB's CAST
    # rounds-to-nearest, so an odd epoch sum would shift the boundary by
    # 1 us cross-engine (the sum ~3.4e15 is exactly double-representable,
    # so floor is exact on both)
    mid = ev.select(F.floor((F.min(us) + F.max(us)) / 2).cast("long").alias("m"))
    b = ev.crossJoin(F.broadcast(mid)).select(
        "event_type",
        F.when(us < F.col("m"), F.lit("base")).otherwise(F.lit("cur")).alias("half"),
        F.least(F.lit(15), (F.col("value") / 32.0).cast("long")).alias("bucket"),
    )
    cell = b.groupBy("event_type", "half", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cell.groupBy("event_type", "half").agg(F.sum("n").alias("tn"))
    p = cell.join(tot, on=["event_type", "half"]).select(
        "event_type", "half", "bucket",
        F.greatest(F.lit(1e-6), F.col("n") / F.col("tn")).alias("p"),
    )
    base = p.filter(F.col("half") == "base").select(
        "event_type", "bucket", F.col("p").alias("pb")
    )
    cur = p.filter(F.col("half") == "cur").select(
        "event_type", "bucket", F.col("p").alias("pc")
    )
    j = base.join(cur, on=["event_type", "bucket"], how="full_outer").select(
        "event_type",
        F.coalesce(F.col("pb"), F.lit(1e-6)).alias("pb"),
        F.coalesce(F.col("pc"), F.lit(1e-6)).alias("pc"),
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.round(
                F.sum((F.col("pc") - F.col("pb")) * F.log(F.col("pc") / F.col("pb")))
                + 1e-9,
                6,
            ).alias("psi")
        )
    )


_register(
    "x70_psi_drift",
    _x70,
    "WITH mid AS (SELECT CAST(floor((epoch_us(min(ts)) + epoch_us(max(ts)))"
    "   / 2) AS BIGINT) AS m FROM events),"
    " b AS (SELECT event_type,"
    "   CASE WHEN epoch_us(ts) < m THEN 'base' ELSE 'cur' END AS half,"
    "   least(15, CAST(trunc(\"value\" / 32.0) AS BIGINT)) AS bucket"
    "  FROM events, mid),"
    " cell AS (SELECT event_type, half, bucket, count(*) AS n"
    "  FROM b GROUP BY 1, 2, 3),"
    " tot AS (SELECT event_type, half, sum(n) AS tn FROM cell GROUP BY 1, 2),"
    " p AS (SELECT event_type, half, bucket,"
    "   greatest(1e-6, CAST(n AS DOUBLE) / tn) AS p"
    "  FROM cell JOIN tot USING (event_type, half)),"
    " base AS (SELECT event_type, bucket, p AS pb FROM p WHERE half = 'base'),"
    " cur AS (SELECT event_type, bucket, p AS pc FROM p WHERE half = 'cur'),"
    " j AS (SELECT coalesce(base.event_type, cur.event_type) AS event_type,"
    "   coalesce(pb, 1e-6) AS pb, coalesce(pc, 1e-6) AS pc"
    "  FROM base FULL OUTER JOIN cur USING (event_type, bucket))"
    " SELECT event_type, round(sum((pc - pb) * ln(pc / pb)) + 1e-9, 6) AS psi"
    " FROM j GROUP BY 1",
)


def _x71(spark: SparkSession, sf: str) -> DataFrame:
    """User-behavior transition matrix: adjacent event-type bigrams per
    user in event-time order — the Markov-chain view of product telemetry
    (which actions follow which). One lag window per user_id (a
    corpus-cardinality key, never the enum) and a 25-cell aggregate.
    An undatable (NULL-ts) event has no position in event-time order —
    placing it anywhere fabricates two transitions, and engines disagree
    on where (NULLS FIRST vs LAST) — so it is excluded on BOTH sides."""
    ev = read_sf_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    return t.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


_register(
    "x71_behavior_transitions",
    _x71,
    "WITH t AS (SELECT lag(event_type) OVER"
    "   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,"
    "   event_type AS next_type FROM events WHERE ts IS NOT NULL)"
    " SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n"
    " FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2",
)


def _x72(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup cluster-size histogram: log2-bucketed sizes of the x14
    component clusters — the dedup-ops dashboard number (a corpus whose
    mass sits in giant clusters needs different treatment than one with
    only twins; the x34 scaling analysis is exactly the giant-cluster
    regime). Component grain throughout; histogram grain is log2 buckets."""
    docs = read_sf_table(spark, sf, "documents")
    cc = shared_dedup_clusters(spark, sf)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy(
            F.pow(F.lit(2.0), F.floor(F.log2("sz"))).cast("long").alias("size_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
        )
    )


_register(
    "x72_cluster_size_histogram",
    _x72,
    _X14_CC_SQL
    + ", sizes AS (SELECT cluster_id, count(*) AS sz FROM cc GROUP BY 1)"
    " SELECT CAST(power(2.0, floor(log2(sz))) AS BIGINT) AS size_bucket,"
    "  CAST(count(*) AS BIGINT) AS n_clusters,"
    "  CAST(sum(sz) AS BIGINT) AS n_docs"
    " FROM sizes GROUP BY 1",
)


def _x73(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing overlap detection (textstats.winnowing_fingerprints —
    the MOSS algorithm): per-doc window-min k-gram fingerprints at density
    ~2/(w+1), then doc pairs sharing >= 2 selected fingerprints through
    the fingerprint inverted index. The winnowing guarantee (any shared
    run of >= w+k-1 tokens shares a fingerprint) makes this the
    position-robust plagiarism/overlap detector at a fraction of
    full-shingle cost. Oracle replays hashing, window-min selection and
    the pair join exactly (md5 mode). Runs the exact enumeration
    (max_df=None); production at scale sets winnowing_overlap_pairs'
    MOSS-standard max_df boilerplate guard (tests/test_skew.py proves
    the bound binds)."""
    docs = read_sf_table(spark, sf, "documents")
    return X_text.winnowing_overlap_pairs(
        docs, "doc_id", "text", k=5, w=4, mode="md5", min_shared=2
    )


_register(
    "x73_winnowing_overlap",
    _x73,
    "WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w"
    "  FROM documents),"
    " g AS (SELECT doc_id AS id, i AS pos,"
    "   substr(md5(array_to_string(w[i:i+4], ' ')), 1, 8) AS h"
    "  FROM tok, UNNEST(range(1, greatest(len(w)-4, 0)+1)) AS t(i)),"
    " tagged AS (SELECT id, pos,"
    "   h || '#' || lpad(CAST(pos AS VARCHAR), 8, '0') AS hp FROM g),"
    " mx AS (SELECT id, max(pos) AS maxp FROM tagged GROUP BY 1),"
    " sel AS (SELECT id, min(hp) OVER (PARTITION BY id ORDER BY pos"
    "    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s, pos FROM tagged),"
    " fp AS (SELECT DISTINCT sel.id, string_split(s, '#')[1] AS fp"
    "  FROM sel JOIN mx ON mx.id = sel.id"
    "  WHERE pos <= maxp - 3 OR pos = 1)"
    " SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_shared"
    " FROM fp a JOIN fp b ON a.fp = b.fp AND a.id < b.id"
    " GROUP BY 1, 2 HAVING count(*) >= 2",
)


def _x74(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy record linkage, SNM-blocked: candidates from a sorted-
    neighborhood pass keyed by the 32-char text prefix (window 10 —
    LINEAR candidate count by construction, n x window), verified with
    Levenshtein distance <= 8 on the prefixes — the record-linkage
    operator (Fellegi-Sunter blocking + edit-distance compare). Both
    engines implement classic Wagner-Fischer levenshtein(), so the
    verify predicate is oracle-exact.

    Attribute-banded blocking (an equi-join on exact attributes plus a
    length band) is the right choice when a discriminative exact
    attribute exists, but its cost is sum-of-block-size^2 — on this
    corpus (5 langs x narrow length range) blocks grow with the data and
    the sf0.1->sf1 slope measured 94x. Rank-window blocking replaces the quadratic with
    n x window while KEEPING edit-distance verification; the recall
    trade (leading-char edits sort apart) is SNM's documented blind
    spot, closed in production by multi-pass keys (x65's pattern)."""
    docs = read_sf_table(spark, sf, "documents")
    cand = X_dedup.sorted_neighborhood_pairs(
        docs, "doc_id", "text", window=10, key=F.substring("text", 1, 32)
    )
    pref = docs.select(F.col("doc_id").alias("id"), F.substring("text", 1, 32).alias("__p"))
    return (
        cand.join(pref.withColumnsRenamed({"id": "id_a", "__p": "__pa"}), on="id_a")
        .join(pref.withColumnsRenamed({"id": "id_b", "__p": "__pb"}), on="id_b")
        .select(
            "id_a", "id_b", F.levenshtein("__pa", "__pb").cast("long").alias("dist")
        )
        .filter(F.col("dist") <= 8)
    )


_register(
    "x74_fuzzy_linkage",
    _x74,
    "WITH pk AS (SELECT doc_id AS id, substr(text, 1, 32) AS p FROM documents),"
    " r AS (SELECT id, p, row_number() OVER (ORDER BY p ASC NULLS FIRST, id ASC)"
    "   AS rnk FROM pk)"
    " SELECT a.id AS id_a, b.id AS id_b,"
    "  CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist"
    " FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk <= 9"
    " WHERE levenshtein(a.p, b.p) <= 8",
)


def _x75(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard via KMV distinct sketches
    (sketches.kmv_sketch + kmv_pairwise_jaccard): per-source word-BIGRAM
    sets folded to the k=64 minimum md5 values, then every source pair's
    similarity estimated from the bottom-k of the sketch union — the
    bounded-memory way to answer "which sources share vocabulary" when
    per-source vocabularies are 1e8-distinct at 100 TB (the exact version
    is a vocabulary x vocabulary join; the sketch version is pairs x 2k
    rows). k=64 < per-source bigram vocab here, so the driver exercises
    the GENUINE estimation path; the oracle replays sketch selection and
    the union bottom-k exactly (md5 order is engine-portable)."""
    docs = read_sf_table(spark, sf, "documents")
    grams = docs.select(
        "source", F.explode(X_dedup.gram_array("text", 2)).alias("gram")
    )
    sk = X_sk.kmv_sketch(grams, "source", "gram", k=64, mode="md5")
    out = X_sk.kmv_pairwise_jaccard(sk, "source", k=64)
    return out.select(
        F.col("ga").alias("source_a"), F.col("gb").alias("source_b"), "est_jaccard"
    )


_register(
    "x75_kmv_jaccard",
    _x75,
    "WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,"
    "   source FROM documents),"
    " grams AS (SELECT DISTINCT source,"
    "   md5(w[i] || ' ' || w[i+1]) AS h"
    "  FROM tok, UNNEST(range(1, greatest(len(w)-1, 0)+1)) AS t(i)),"
    " sk AS (SELECT * FROM (SELECT source, h,"
    "   row_number() OVER (PARTITION BY source ORDER BY h) AS rank"
    "  FROM grams) WHERE rank <= 64),"
    " srcs AS (SELECT DISTINCT source FROM sk),"
    " pf AS (SELECT a.source AS ga, b.source AS gb FROM srcs a, srcs b"
    "  WHERE a.source < b.source),"
    " un AS (SELECT DISTINCT ga, gb, h FROM ("
    "   SELECT pf.ga, pf.gb, sk.h FROM pf JOIN sk ON sk.source = pf.ga"
    "   UNION ALL"
    "   SELECT pf.ga, pf.gb, sk.h FROM pf JOIN sk ON sk.source = pf.gb)),"
    " bot AS (SELECT * FROM (SELECT ga, gb, h,"
    "   row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rank FROM un)"
    "  WHERE rank <= 64)"
    " SELECT bot.ga AS source_a, bot.gb AS source_b,"
    "  round(sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL THEN 1"
    "    ELSE 0 END) / count(*), 6) AS est_jaccard"
    " FROM bot"
    " LEFT JOIN sk sa ON sa.source = bot.ga AND sa.h = bot.h"
    " LEFT JOIN sk sb ON sb.source = bot.gb AND sb.h = bot.h"
    " GROUP BY 1, 2",
)


_X76_PHRASES = ["table scan", "hash agg", "slow query", "window order"]


def _x76(spark: SparkSession, sf: str) -> DataFrame:
    """Banned-phrase contamination audit: per (source, phrase) document
    and occurrence counts for a broadcast list of literal phrases — the
    "is benchmark boilerplate / license text / canary string X in my
    corpus, and where" question. Occurrences count by the replace-length
    identity (len(t) - len(replace(t, p))) / len(p) — leftmost
    non-overlapping on both engines — so the corpus is ONE scan with P
    codegen expressions per row and a source-grain aggregate; no
    corpus x phrases row explosion, no shuffle beyond #sources rows.
    (For thousands of patterns the right tool is an Aho-Corasick automaton
    in a mapInPandas stage; the expression form is the P <= dozens case.)"""
    docs = read_sf_table(spark, sf, "documents")
    occ = [
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(p))))
            / len(p)
        ).cast("long").alias(f"__o{i}")
        for i, p in enumerate(_X76_PHRASES)
    ]
    per_source = docs.select("source", *occ).groupBy("source").agg(
        *[F.sum(f"__o{i}").alias(f"__hits{i}") for i in range(len(_X76_PHRASES))],
        *[
            F.sum((F.col(f"__o{i}") > 0).cast("long")).alias(f"__docs{i}")
            for i in range(len(_X76_PHRASES))
        ],
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("phrase"),
                    F.col(f"__docs{i}").alias("n_docs"),
                    F.col(f"__hits{i}").alias("n_hits"),
                )
                for i, p in enumerate(_X76_PHRASES)
            ]
        )
    ).alias("r")
    return (
        per_source.select("source", rows)
        .select("source", "r.phrase", "r.n_docs", "r.n_hits")
        .filter(F.col("n_hits") > 0)
    )


_register(
    "x76_banned_phrases",
    _x76,
    "WITH p AS (SELECT * FROM (VALUES ('table scan'), ('hash agg'),"
    "   ('slow query'), ('window order')) AS v(phrase)),"
    " occ AS (SELECT source, phrase,"
    "   CAST(trunc((length(text) - length(replace(text, phrase, '')))"
    "     / length(phrase)) AS BIGINT) AS o"
    "  FROM documents, p)"
    " SELECT source, phrase,"
    "  CAST(sum(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,"
    "  CAST(sum(o) AS BIGINT) AS n_hits"
    " FROM occ GROUP BY 1, 2 HAVING sum(o) > 0",
)


def _x77(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-arrival-time histogram: per event_type, the distribution of
    microsecond gaps between a user's consecutive events of that type,
    log2-bucketed — the workload-cadence profile (bursty vs periodic
    traffic) that sizes streaming watermarks and session timeouts. The
    lag window partitions by (user_id, event_type) — corpus-cardinality
    key, so no per-type single-task funnel — and the histogram grain is
    #types x #buckets."""
    ev = read_sf_table(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "event_type",
            "user_id",
            "ts",
            "event_id",
            F.lag("ts").over(w).alias("__prev"),
        )
        # timestampdiff handles TIMESTAMP_NTZ (unix_micros does not)
        .withColumn("gap_us", F.expr("timestampdiff(MICROSECOND, __prev, ts)"))
        .filter(F.col("gap_us").isNotNull())
    )
    return gaps.groupBy(
        "event_type",
        F.floor(F.log2(F.col("gap_us") + 1)).cast("long").alias("gap_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(F.avg("gap_us") / 1e6, 6).alias("mean_gap_s"),
    )


_register(
    "x77_interarrival",
    _x77,
    "WITH g AS (SELECT event_type,"
    "   date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id, event_type"
    "     ORDER BY ts, event_id), ts) AS gap_us"
    "  FROM events)"
    " SELECT event_type,"
    "  CAST(floor(log2(gap_us + 1)) AS BIGINT) AS gap_bucket,"
    "  CAST(count(*) AS BIGINT) AS n_gaps,"
    "  round(avg(gap_us) / 1e6, 6) AS mean_gap_s"
    " FROM g WHERE gap_us IS NOT NULL GROUP BY 1, 2",
)


def _x78(spark: SparkSession, sf: str) -> DataFrame:
    """Truncation-duplicate groups (dedup.truncation_dedup_groups):
    documents agreeing on md5(head-64 || 0x1f || tail-64) — the archive
    double-store failure mode (same crawl saved twice, one copy corrupted
    mid-body) that whole-text exact hashing misses, caught at exact-dedup
    cost (one hash-partitioned groupBy on a 32-hex key).

    The synthetic corpus has no mid-body-corrupted twins, so the query
    PLANTS them deterministically (every 7th long doc gets a twin with
    the middle replaced and id+10^6) and both engines replay the same
    planting — the oracle is falsifiable: every planted twin MUST come
    back as a 2-doc group and nothing else may."""
    docs = read_sf_table(spark, sf, "documents")
    corrupted = (
        docs.filter((F.col("doc_id") % 7 == 0) & (F.col("n_chars") >= 160))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(
                F.substring("text", 1, 80),
                F.lit(" [snip] "),
                F.substring(F.col("text"), -80, 80),
            ).alias("text"),
        )
    )
    corpus = docs.select("doc_id", "text").unionByName(corrupted)
    return X_dedup.truncation_dedup_groups(corpus, "doc_id", "text", head=64, tail=64)


_register(
    "x78_truncation_dups",
    _x78,
    "WITH corpus AS ("
    "  SELECT doc_id, text FROM documents"
    "  UNION ALL"
    "  SELECT doc_id + 1000000 AS doc_id,"
    "   substr(text, 1, 80) || ' [snip] ' || substr(text, -80, 80) AS text"
    "  FROM documents WHERE doc_id % 7 = 0 AND n_chars >= 160)"
    " SELECT md5(substr(text, 1, 64) || chr(31) || substr(text, -64, 64))"
    "   AS group_key,"
    "  CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS min_id"
    " FROM corpus GROUP BY 1 HAVING count(*) >= 2",
)


def _x79(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual-kNN graph degree histogram: exact cosine top-5 inside a
    capped query subset (vec_id < 200), keep edges where BOTH endpoints
    rank each other, count mutual degree per node (0 included), histogram
    the degrees — the neighborhood-quality diagnostic behind mutual-kNN
    clustering and hubness detection (embeddings where many nodes have
    degree 0 while a few hub at 5 embed poorly). The subset cap makes the
    exact pass affordable; the 100 TB path feeds the SAME mutual-join +
    histogram shape from ANN candidates (x12/x13) instead of exact top-k."""
    emb = read_sf_table(spark, sf, "embeddings").filter(F.col("vec_id") < 200)
    knn = X_sim.cosine_topk(emb, emb, k=5).select("query_id", "neighbor_id")
    rev = knn.select(
        F.col("neighbor_id").alias("query_id"), F.col("query_id").alias("neighbor_id")
    )
    mutual = knn.join(rev, on=["query_id", "neighbor_id"]).filter(
        F.col("query_id") < F.col("neighbor_id")
    )
    ends = mutual.select(F.col("query_id").alias("id")).unionByName(
        mutual.select(F.col("neighbor_id").alias("id"))
    ).withColumn("__e", F.lit(1))
    deg = (
        emb.select(F.col("vec_id").alias("id"))
        .join(ends, on="id", how="left")
        .groupBy("id")
        .agg(F.count("__e").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))


_register(
    "x79_mutual_knn",
    _x79,
    "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv"
    "  FROM embeddings WHERE vec_id < 200),"
    " s AS (SELECT a.query_id, b.query_id AS neighbor_id,"
    f"   {_cos_sql('a.qv', 'b.qv')} AS cosine"
    "  FROM q a, q b WHERE a.query_id <> b.query_id),"
    f" {_TOPK_RANK_SQL},"
    " e AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),"
    " m AS (SELECT a.query_id AS ida, a.neighbor_id AS idb FROM e a"
    "  JOIN e b ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id"
    "  WHERE a.query_id < a.neighbor_id),"
    " ends AS (SELECT ida AS id FROM m UNION ALL SELECT idb AS id FROM m),"
    " deg AS (SELECT q.query_id AS id, count(ends.id) AS degree"
    "  FROM q LEFT JOIN ends ON ends.id = q.query_id GROUP BY 1)"
    " SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1",
)


def _x80(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-fertility accounting per (source, lang): chars per
    whitespace token and BPE-ish subword tokens per whitespace token —
    the cost model behind token-budgeted corpus planning (a source whose
    fertility is 2x costs 2x the training tokens for the same text mass).
    Sum-before-divide keeps every aggregate an exact integer until the
    single final division; pure Column expressions at scan speed."""
    docs = read_sf_table(spark, sf, "documents")
    per = docs.select(
        "source",
        "lang",
        "n_chars",
        X_text.token_count("text").cast("long").alias("__ws"),
        X_text.bpe_ish_token_count("text").cast("long").alias("__bpe"),
    )
    return per.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.sum("n_chars") / F.sum("__ws"), 6).alias("chars_per_token"),
        F.round(F.sum("__bpe") / F.sum("__ws"), 6).alias("bpe_fertility"),
    )


_register(
    "x80_tokenizer_fertility",
    _x80,
    "WITH per AS (SELECT source, lang, n_chars,"
    "   len(string_split_regex(trim(text), '\\s+')) AS ws,"
    "   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe"
    "  FROM documents)"
    " SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,"
    "  round(CAST(sum(n_chars) AS DOUBLE) / sum(ws), 6) AS chars_per_token,"
    "  round(CAST(sum(bpe) AS DOUBLE) / sum(ws), 6) AS bpe_fertility"
    " FROM per GROUP BY 1, 2",
)


def _x81(spark: SparkSession, sf: str) -> DataFrame:
    """LSH dedup-quality evaluation: candidate pairs from the x02 MinHash
    LSH configuration scored against the EXACT Jaccard >= 0.5 pair
    universe — (tp, fp, fn, precision, recall) in one row. The eval-suite
    twin of x44 (ANN recall) for the dedup family: precision says how much
    verify work the bands waste, recall says what the dedup pass silently
    misses at this (bands, rows) operating point. Ground truth restricted
    to pairs sharing >= 1 shingle is COMPLETE for J >= 0.5 (a positive-
    Jaccard pair shares a shingle by definition), so no all-pairs scan;
    the co-shingle join beats the prefix-filter formulation ~4x on this
    template-heavy corpus (measured round 7 — prefix pruning needs
    selective prefixes to win)."""
    docs = read_sf_table(spark, sf, "documents")
    sh = X_dedup.shingles(docs, "doc_id", "text", k=3)
    truth = (
        X_dedup.ngram_jaccard(sh)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.lit(1).alias("__t"))
    )
    lsh = shared_lsh_pairs(spark, sf).select("id_a", "id_b", F.lit(1).alias("__l"))
    both = truth.join(lsh, on=["id_a", "id_b"], how="full_outer")
    agg = both.agg(
        F.sum(
            ((F.col("__t") == 1) & (F.col("__l") == 1)).cast("long")
        ).alias("tp"),
        F.sum((F.col("__t").isNull() & (F.col("__l") == 1)).cast("long")).alias("fp"),
        F.sum(((F.col("__t") == 1) & F.col("__l").isNull()).cast("long")).alias("fn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6),
        ).alias("recall"),
    )


_register(
    "x81_lsh_dedup_eval",
    _x81,
    f"WITH {_SHINGLE_SQL}, {_OVERLAP_SQL},"
    " truth AS (SELECT id_a, id_b FROM inter"
    "  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b"
    "  WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5),"
    f" {_lsh_pairs_sql('lsh')},"
    " j AS (SELECT coalesce(t.id_a, l.id_a) AS ia,"
    "   t.id_a IS NOT NULL AS in_t, l.id_a IS NOT NULL AS in_l"
    "  FROM truth t FULL JOIN lsh l ON t.id_a = l.id_a AND t.id_b = l.id_b),"
    " c AS (SELECT CAST(sum(CASE WHEN in_t AND in_l THEN 1 ELSE 0 END) AS BIGINT) AS tp,"
    "   CAST(sum(CASE WHEN NOT in_t AND in_l THEN 1 ELSE 0 END) AS BIGINT) AS fp,"
    "   CAST(sum(CASE WHEN in_t AND NOT in_l THEN 1 ELSE 0 END) AS BIGINT) AS fn"
    "  FROM j)"
    " SELECT tp, fp, fn,"
    "  CASE WHEN tp + fp > 0 THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END"
    "   AS precision,"
    "  CASE WHEN tp + fn > 0 THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END"
    "   AS recall"
    " FROM c",
)


def _x82(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus novelty accounting per source: the share of each source's
    (doc, 3-gram) incidences whose gram FIRST appears in that very doc
    (global min-doc_id attribution) — the redundancy-growth curve a
    curriculum/dedup planner reads ("late sources add nothing new").
    Vocabulary-grain first-seen join; integer sums until one final
    division."""
    docs = read_sf_table(spark, sf, "documents")
    grams = docs.select(
        "doc_id", "source", F.explode(X_dedup.gram_array("text", 3)).alias("g")
    ).distinct()
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, on="g")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("long")).alias(
                "n_novel"
            ),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_grams").cast("long").alias("n_grams"),
        F.sum("n_novel").cast("long").alias("n_novel"),
        F.round(F.sum("n_novel") / F.sum("n_grams"), 6).alias("novelty"),
    )


_register(
    "x82_source_novelty",
    _x82,
    "WITH tok AS (SELECT doc_id, source,"
    "   string_split_regex(trim(text), '\\s+') AS w FROM documents),"
    " g AS (SELECT DISTINCT doc_id, source, array_to_string(w[i:i+2], ' ') AS g"
    "  FROM tok, UNNEST(range(1, greatest(len(w)-2, 0)+1)) AS t(i)),"
    " f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY 1),"
    " d AS (SELECT doc_id, source, count(*) AS n_grams,"
    "   sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS n_novel"
    "  FROM g JOIN f USING (g) GROUP BY 1, 2)"
    " SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
    "  CAST(sum(n_grams) AS BIGINT) AS n_grams,"
    "  CAST(sum(n_novel) AS BIGINT) AS n_novel,"
    "  round(CAST(sum(n_novel) AS DOUBLE) / sum(n_grams), 6) AS novelty"
    " FROM d GROUP BY 1",
)


def _p09(spark: SparkSession, sf: str) -> DataFrame:
    """Local-DP randomized response (Warner 1965) over a sensitive bit
    (value > 100), deterministically replayable: per event, coin1 (md5
    bits) decides truth-vs-forced with p = 1/2, coin2 supplies the forced
    answer with q = 1/2; the per-type debiased prevalence estimate is
    (obs - (1-p)q) / p. The privacy-suite leg where the CLIENT perturbs
    before the engine ever sees the truth (RAPPOR-style telemetry); the
    debias arithmetic is exact-integer until one final division, and the
    audit emits true vs debiased side by side. Deterministic md5 coins
    are the engine-portable stand-in for the client RNG — same pattern
    as p05's deterministic Laplace."""
    ev = read_sf_table(spark, sf, "events")
    h = F.md5(F.concat(F.lit("rr#"), F.col("event_id").cast("string")))
    coin1 = F.conv(F.substring(h, 1, 2), 16, 10).cast("long") < 128
    coin2 = F.conv(F.substring(h, 3, 2), 16, 10).cast("long") < 128
    bit = F.col("value") > 100
    reported = F.when(coin1, bit).otherwise(coin2)
    per = ev.select(
        "event_type",
        bit.cast("long").alias("__true"),
        reported.cast("long").alias("__rep"),
    )
    return per.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__rep").cast("long").alias("n_reported"),
        F.round(F.sum("__true") / F.count(F.lit(1)), 6).alias("pi_true"),
        F.round(
            (F.sum("__rep") / F.count(F.lit(1)) - F.lit(0.25)) / F.lit(0.5), 6
        ).alias("pi_debiased"),
    )


_P09_HEXPAIR = (
    "((strpos('0123456789abcdef', substr(h, {a}, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(h, {b}, 1)) - 1))"
)

_register(
    "p09_randomized_response",
    _p09,
    "WITH e AS (SELECT event_type, \"value\" > 100 AS bit,"
    "   md5('rr#' || CAST(event_id AS VARCHAR)) AS h FROM events),"
    " r AS (SELECT event_type, CASE WHEN bit THEN 1 ELSE 0 END AS t,"
    "   CASE WHEN " + _P09_HEXPAIR.format(a=1, b=2) + " < 128 THEN"
    "     (CASE WHEN bit THEN 1 ELSE 0 END)"
    "    ELSE (CASE WHEN " + _P09_HEXPAIR.format(a=3, b=4) + " < 128"
    "     THEN 1 ELSE 0 END) END AS rep"
    "  FROM e)"
    " SELECT event_type, CAST(count(*) AS BIGINT) AS n,"
    "  CAST(sum(rep) AS BIGINT) AS n_reported,"
    "  round(CAST(sum(t) AS DOUBLE) / count(*), 6) AS pi_true,"
    "  round((CAST(sum(rep) AS DOUBLE) / count(*) - 0.25) / 0.5, 6)"
    "   AS pi_debiased"
    " FROM r GROUP BY 1",
)


def _s13(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming CDC latest-value snapshot: complete-mode per-user
    aggregation keeping (last ts, value and type at the (ts, event_id)
    argmax, event count) — the materialized "current state" table a
    change-stream consumer maintains (upsert-by-key), expressed as a pure
    declarative streaming agg (state = one row per key, no custom
    stateful op needed: max/max_by/count all merge incrementally).
    Deterministic argmax via the unique (ts, event_id) pair."""
    ev = stream_sf_table(spark, sf, "events")
    snap = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.max_by(
            F.struct(F.col("value").alias("v"), F.col("event_type").alias("t")),
            F.struct("ts", "event_id"),
        ).alias("__last"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return drain(snap, output_mode="complete", partitions=8).select(
        "user_id",
        "last_ts",
        F.col("__last.v").alias("last_value"),
        F.col("__last.t").alias("last_type"),
        "n_events",
    )


_register(
    "s13_stream_latest_snapshot",
    _s13,
    "SELECT user_id, ts AS last_ts, \"value\" AS last_value,"
    " event_type AS last_type, n_events FROM ("
    " SELECT *, row_number() OVER (PARTITION BY user_id"
    "   ORDER BY ts DESC, event_id DESC) AS rn,"
    "  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events"
    " FROM events) WHERE rn = 1",
)


def shared_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts of the shared LSH dup graph, cached at the
    same (session, sf) grain as shared_lsh_pairs: x100 (census) and x145
    (transitivity) run the identical degree-ordered wedge enumeration —
    the most expensive graph kernel in the bench — so the second consumer
    pays only its own downstream aggregate (the shared_dedup_clusters /
    shared_embedding_pairs economics). Node grain, so the cache stays
    tiny at any scale."""
    return _cached_adapter(
        "dup_triangles_md5",
        spark,
        sf_dir,
        lambda: X_graph.triangle_counts(shared_lsh_pairs(spark, sf_dir)),
    )


def _x83(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank centrality over the x02 LSH candidate-pair graph
    (graph.pagerank, 5 fixed power iterations, damping 0.85) — duplication
    gravity: boilerplate/template docs sit central in the near-dup graph
    long before components fully merge. Per-iteration cost is one
    equi-join + one aggregate over the (bucket-bounded) edge set; the
    oracle unrolls the same recurrence as chained CTEs."""
    docs = read_sf_table(spark, sf, "documents")
    pairs = shared_lsh_pairs(spark, sf)
    pr = X_graph.pagerank(pairs, iters=5, damping=0.85)
    return pr.select("id", F.round(F.col("rank") + 1e-9, 6).alias("rank"))


def _x83_oracle() -> str:
    ctes = [
        "ed AS (SELECT id_a AS src, id_b AS dst FROM pairs"
        " UNION SELECT id_b, id_a FROM pairs)",
        "deg AS (SELECT src, count(*) AS dg FROM ed GROUP BY 1)",
        "pr0 AS (SELECT src AS id, 1.0 AS rank FROM deg)",
    ]
    for i in range(5):
        ctes.append(
            f"pr{i + 1} AS (SELECT ed.dst AS id,"
            f" 0.15 + 0.85 * sum(pr{i}.rank / deg.dg) AS rank"
            f" FROM ed JOIN pr{i} ON pr{i}.id = ed.src"
            f" JOIN deg ON deg.src = ed.src GROUP BY ed.dst)"
        )
    return (
        f"WITH {_SHINGLE_SQL}, {_lsh_pairs_sql('pairs')},"
        + ", ".join(ctes)
        + " SELECT id, round(rank + 1e-9, 6) AS rank FROM pr5"
    )


_register("x83_dedup_pagerank", _x83, _x83_oracle())


def _x84(spark: SparkSession, sf: str) -> DataFrame:
    """Normalization-robust exact dedup: duplicate groups on
    textstats.normalized_text (lowercase, strip punctuation, collapse
    whitespace) — catches the formatting-variant duplicates (case
    changes, punctuation injection, re-wrapping) that byte-exact hashing
    misses, still at exact-dedup cost. The corpus has no formatting
    variants, so the query PLANTS deterministic ones (every 9th doc gets
    an uppercased, punctuation-noised twin at id+2*10^6); the oracle
    replays the planting and the normalization, making every planted
    twin a REQUIRED group."""
    docs = read_sf_table(spark, sf, "documents").select("doc_id", "text")
    variants = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" !! ")).alias("text"),
    )
    corpus = docs.unionByName(variants)
    keyed = corpus.select(
        "doc_id", X_text.normalized_text("text").alias("__norm")
    )
    return (
        keyed.groupBy(F.md5("__norm").alias("norm_key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("doc_id").alias("canonical_id"),
        )
        .filter(F.col("n_copies") >= 2)
    )


_register(
    "x84_normalized_dedup",
    _x84,
    "WITH corpus AS ("
    "  SELECT doc_id, text FROM documents"
    "  UNION ALL"
    "  SELECT doc_id + 2000000, '  ' || upper(text) || ' !! '"
    "  FROM documents WHERE doc_id % 9 = 0),"
    " keyed AS (SELECT doc_id,"
    "   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    "    '\\s+', ' ', 'g')) AS norm"
    "  FROM corpus)"
    " SELECT md5(norm) AS norm_key, CAST(count(*) AS BIGINT) AS n_copies,"
    "  min(doc_id) AS canonical_id"
    " FROM keyed GROUP BY 1 HAVING count(*) >= 2",
)


def _x85(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable histogram quantiles (sketches.histogram_quantiles): p50 /
    p90 / p99 of events.value per event_type at centi-resolution — the
    latency-dashboard percentile shape: histogram bounded by range x
    resolution (not rows), shards merge by cell addition, readout exact
    at the resolution grain (quantile_disc of rounded values). The oracle
    replays bin-cumulative-ceil readout directly."""
    ev = read_sf_table(spark, sf, "events")
    return X_sk.histogram_quantiles(
        ev, "event_type", "value", resolution=100, qs=(0.5, 0.9, 0.99)
    )


_register(
    "x85_histogram_quantiles",
    _x85,
    "WITH bins AS (SELECT event_type,"
    "   CAST(round(\"value\" * 100, 0) AS BIGINT) AS bin, count(*) AS n"
    "  FROM events WHERE \"value\" IS NOT NULL GROUP BY 1, 2),"
    " cum AS (SELECT event_type, bin, n,"
    "   sum(n) OVER (PARTITION BY event_type ORDER BY bin"
    "    ROWS UNBOUNDED PRECEDING) AS c,"
    "   sum(n) OVER (PARTITION BY event_type) AS tot"
    "  FROM bins)"
    " SELECT event_type, CAST(max(tot) AS BIGINT) AS n,"
    "  round(min(CASE WHEN c >= ceil(0.5 * tot) THEN bin END) / 100.0, 6) AS p50,"
    "  round(min(CASE WHEN c >= ceil(0.9 * tot) THEN bin END) / 100.0, 6) AS p90,"
    "  round(min(CASE WHEN c >= ceil(0.99 * tot) THEN bin END) / 100.0, 6) AS p99"
    " FROM cum GROUP BY 1",
)


def _x86(spark: SparkSession, sf: str) -> DataFrame:
    """PII inventory per source: counts of email / IPv4 / phone matches
    and affected docs — the "what leaks, where, how much" report a data
    owner reads before choosing redaction (x23) vs dropping; same regex
    definitions as redact_pii so inventory and redaction agree. PII is
    PLANTED deterministically on modular doc_id classes (emails on %5,
    IPs on %3, phones on %7) and the oracle replays the planting, so
    every count is a required, falsifiable number. One scan, three
    regexp_count codegen expressions, source-grain aggregate."""
    docs = read_sf_table(spark, sf, "documents")
    planted = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" from 10.0.0."), (F.col("doc_id") % 255).cast("string")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" tel +12 3456 7890")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    counted = planted.select(
        "source",
        F.regexp_count(
            "text", F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
        ).cast("long").alias("__em"),
        F.regexp_count("text", F.lit(r"\b(\d{1,3}\.){3}\d{1,3}\b")).cast("long").alias(
            "__ip"
        ),
        F.regexp_count("text", F.lit(r"\+?\d[\d\- ]{7,}\d")).cast("long").alias(
            "__ph"
        ),
    )
    return counted.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(((F.col("__em") + F.col("__ip") + F.col("__ph")) > 0).cast("long"))
        .cast("long")
        .alias("docs_with_pii"),
        F.sum("__em").cast("long").alias("n_emails"),
        F.sum("__ip").cast("long").alias("n_ips"),
        F.sum("__ph").cast("long").alias("n_phones"),
    )


_register(
    "x86_pii_inventory",
    _x86,
    "WITH planted AS (SELECT source, text"
    "   || CASE WHEN doc_id % 5 = 0 THEN ' contact user'"
    "      || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END"
    "   || CASE WHEN doc_id % 3 = 0 THEN ' from 10.0.0.'"
    "      || CAST(doc_id % 255 AS VARCHAR) ELSE '' END"
    "   || CASE WHEN doc_id % 7 = 0 THEN ' tel +12 3456 7890' ELSE '' END"
    "   AS text FROM documents),"
    " c AS (SELECT source,"
    "   len(regexp_extract_all(text,"
    "    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS em,"
    "   len(regexp_extract_all(text, '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b')) AS ip,"
    "   len(regexp_extract_all(text, '\\+?\\d[\\d\\- ]{7,}\\d')) AS ph"
    "  FROM planted)"
    " SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
    "  CAST(sum(CASE WHEN em + ip + ph > 0 THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS docs_with_pii,"
    "  CAST(sum(em) AS BIGINT) AS n_emails,"
    "  CAST(sum(ip) AS BIGINT) AS n_ips,"
    "  CAST(sum(ph) AS BIGINT) AS n_phones"
    " FROM c GROUP BY 1",
)


def _p10(spark: SparkSession, sf: str) -> DataFrame:
    """Quasi-identifier uniqueness spectrum: how many (user_id,
    event_type) equivalence classes have size 1, 2, ... 5, 6+ and how
    many ROWS sit in each — the re-identification risk profile that
    motivates p04's k-anonymity suppression (the k_bucket=1 row IS the
    unique-row attack surface; p04 suppresses below 10). Group sizes are
    one aggregate; the spectrum is a second aggregate over group-grain
    rows."""
    ev = read_sf_table(spark, sf, "events")
    gs = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("__gs"))
    return (
        gs.groupBy(F.least(F.col("__gs"), F.lit(6)).cast("long").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("__gs").cast("long").alias("n_rows"),
        )
    )


_register(
    "p10_uniqueness_spectrum",
    _p10,
    "WITH gs AS (SELECT user_id, event_type, count(*) AS gs"
    "  FROM events GROUP BY 1, 2)"
    " SELECT CAST(least(gs, 6) AS BIGINT) AS k_bucket,"
    "  CAST(count(*) AS BIGINT) AS n_groups,"
    "  CAST(sum(gs) AS BIGINT) AS n_rows"
    " FROM gs GROUP BY 1",
)


def _x87(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency audit (profile.fd_audit) over three candidate
    FDs: documents.source -> lang and lang -> source (both genuinely
    violated — sources are multilingual) and nation.n_name -> n_regionkey
    (holds — names are unique), so the audit exercises both verdicts. One
    lhs-grain exact count-distinct per candidate; candidates union at one
    row each."""
    docs = read_sf_table(spark, sf, "documents")
    nat = read_sf_table(spark, sf, "nation")
    return (
        X_prof.fd_audit(docs, "source", "lang", "documents.source->lang")
        .unionByName(X_prof.fd_audit(docs, "lang", "source", "documents.lang->source"))
        .unionByName(
            X_prof.fd_audit(nat, "n_name", "n_regionkey", "nation.n_name->n_regionkey")
        )
    )


_X87_ONE = (
    " (SELECT '{name}' AS fd, CAST(count(*) AS BIGINT) AS n_groups,"
    "  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,"
    "  CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT)"
    "   AS rows_in_violating"
    " FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS nd, count(*) AS n"
    "   FROM {tbl} GROUP BY 1))"
)

_register(
    "x87_fd_audit",
    _x87,
    _X87_ONE.format(name="documents.source->lang", lhs="source", rhs="lang", tbl="documents")
    + " UNION ALL "
    + _X87_ONE.format(name="documents.lang->source", lhs="lang", rhs="source", tbl="documents")
    + " UNION ALL "
    + _X87_ONE.format(
        name="nation.n_name->n_regionkey", lhs="n_name", rhs="n_regionkey", tbl="nation"
    ),
)


def _x88(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-based join-cardinality estimation (sketches.cms_inner_product):
    |orders join customer ON custkey| estimated from two count-min
    sketches vs the exact count — the cost-based-optimizer primitive
    (estimate a 100 TB join's size from constant-size mergeable state
    before choosing broadcast vs shuffle). Output: (est, exact,
    overshoot); the CMS identity guarantees est >= exact. md5 mode so the
    oracle replays cell placement digit-for-digit."""
    orders = read_sf_table(spark, sf, "orders")
    cust = read_sf_table(spark, sf, "customer")
    sk_o = X_sk.countmin_sketch(
        orders.select(F.col("o_custkey").cast("string").alias("term")),
        "term", width=1024, depth=4, mode="md5",
    )
    sk_c = X_sk.countmin_sketch(
        cust.select(F.col("c_custkey").cast("string").alias("term")),
        "term", width=1024, depth=4, mode="md5",
    )
    est = X_sk.cms_inner_product(sk_o, sk_c)
    oc = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("__no")
    )
    cc = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("__nc")
    )
    exact = oc.join(cc, on="k").agg(
        F.coalesce(F.sum(F.col("__no") * F.col("__nc")), F.lit(0))
        .cast("long")
        .alias("exact")
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "est", "exact", F.round(F.col("est") / F.col("exact"), 6).alias("overshoot")
        )
    )


def _x88_cell_sql(src: str) -> str:
    digit = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    val = " + ".join(
        f"{digit.format(i=i + 1)} * {16 ** (3 - i)}" for i in range(4)
    )
    return (
        f"(SELECT d, pos, count(*) AS n FROM"
        f" (SELECT d, ({val}) % 1024 AS pos FROM"
        f"  (SELECT d, md5(CAST(d AS VARCHAR) || '#' || term) AS h"
        f"   FROM {src}, UNNEST([0, 1, 2, 3]) AS t(d)))"
        f" GROUP BY 1, 2)"
    )


_register(
    "x88_join_size_estimate",
    _x88,
    "WITH oterm AS (SELECT CAST(o_custkey AS VARCHAR) AS term FROM orders),"
    " cterm AS (SELECT CAST(c_custkey AS VARCHAR) AS term FROM customer),"
    f" co AS {_x88_cell_sql('oterm')},"
    f" cc AS {_x88_cell_sql('cterm')},"
    " ipd AS (SELECT a.d, sum(a.n * coalesce(b.n, 0)) AS ip FROM co a"
    "  LEFT JOIN cc b ON a.d = b.d AND a.pos = b.pos GROUP BY 1),"
    " est AS (SELECT CAST(min(ip) AS BIGINT) AS est FROM ipd),"
    " ex AS (SELECT CAST(coalesce(sum(o.cnt * c.cnt), 0) AS BIGINT) AS exact"
    "  FROM (SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY 1) o"
    "  JOIN (SELECT c_custkey AS k, count(*) AS cnt FROM customer GROUP BY 1) c"
    "   USING (k))"
    " SELECT est, exact, round(CAST(est AS DOUBLE) / exact, 6) AS overshoot"
    " FROM est, ex",
)


def _x89(spark: SparkSession, sf: str) -> DataFrame:
    """Character-level Shannon entropy per source (bits/char) — the
    cheapest gibberish / encoding-damage / binary-spill detector: natural
    text sits ~4-4.5 bits, base64 blobs and key dumps jump toward 6, and
    mojibake collapses the char distribution. Char counts are one
    map-side-combinable aggregate (grain = source x alphabet, a schema
    constant); the entropy sum runs over alphabet-grain rows."""
    docs = read_sf_table(spark, sf, "documents")
    chars = docs.select(
        "source", F.explode(F.split("text", "")).alias("c")
    ).filter(F.col("c") != "")
    counts = chars.groupBy("source", "c").agg(F.count(F.lit(1)).alias("__n"))
    tot = counts.groupBy("source").agg(
        F.sum("__n").alias("__tot"), F.count(F.lit(1)).alias("__distinct")
    )
    p = F.col("__n") / F.col("__tot")
    return (
        counts.join(tot, on="source")
        .groupBy("source")
        .agg(
            F.max("__tot").cast("long").alias("n_chars"),
            F.max("__distinct").cast("long").alias("n_distinct_chars"),
            F.round(-F.sum(p * F.log2(p)) + 1e-9, 6).alias("entropy_bits"),
        )
    )


_register(
    "x89_char_entropy",
    _x89,
    "WITH ch AS (SELECT source, unnest(string_split(text, '')) AS c"
    "  FROM documents),"
    " counts AS (SELECT source, c, count(*) AS n FROM ch WHERE c <> ''"
    "  GROUP BY 1, 2),"
    " tot AS (SELECT source, sum(n) AS tot, count(*) AS nd FROM counts"
    "  GROUP BY 1)"
    " SELECT source, CAST(max(tot) AS BIGINT) AS n_chars,"
    "  CAST(max(nd) AS BIGINT) AS n_distinct_chars,"
    "  round(-sum((CAST(n AS DOUBLE) / tot) * log2(CAST(n AS DOUBLE) / tot))"
    "   + 1e-9, 6) AS entropy_bits"
    " FROM counts JOIN tot USING (source) GROUP BY 1",
)


def _s14(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming percentile dashboard: the histogram-sketch build
    (bounded (event_type, centi-bin) cells) runs as a complete-mode
    STREAMING aggregation — state = range x resolution cells, constant
    regardless of stream length — and the exact-at-resolution quantile
    readout (sketches.histogram_readout) runs batch-side on the drained
    cells. The streaming twin of x85, sharing its oracle: histograms are
    the percentile shape that streams, because cells merge and quantile
    state does not."""
    ev = stream_sf_table(spark, sf, "events")
    # NULL values are unmeasurable — excluded exactly as the batch
    # histogram_quantiles does (see sketches.py)
    bins = ev.filter(F.col("value").isNotNull()).groupBy(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("__bin"),
    ).agg(F.count(F.lit(1)).alias("__n"))
    hist = drain(bins, output_mode="complete", partitions=8)
    return X_sk.histogram_readout(hist, "event_type", resolution=100, qs=(0.5, 0.9, 0.99))


_register("s14_stream_percentiles", _s14, _ORACLES["x85_histogram_quantiles"])


def _x90(spark: SparkSession, sf: str) -> DataFrame:
    """Shingle document-frequency spectrum: how many distinct 3-shingles
    occur in 1, 2, 4, ... documents (log2-bucketed df) with the total
    incidence mass per bucket — the duplication-spectrum fingerprint of a
    corpus (a fat high-df tail = boilerplate/templates; the x22/x34
    max-df skew bound is chosen by reading exactly this curve).
    Vocabulary-grain aggregates only."""
    docs = read_sf_table(spark, sf, "documents")
    sh = X_dedup.shingles(docs, "doc_id", "text", k=3)
    df_ = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    return (
        df_.groupBy(
            F.pow(F.lit(2.0), F.floor(F.log2("__df"))).cast("long").alias("df_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum("__df").cast("long").alias("n_incidences"),
        )
    )


_register(
    "x90_shingle_df_spectrum",
    _x90,
    f"WITH {_SHINGLE_SQL},"
    " d AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)"
    " SELECT CAST(power(2.0, floor(log2(df))) AS BIGINT) AS df_bucket,"
    "  CAST(count(*) AS BIGINT) AS n_shingles,"
    "  CAST(sum(df) AS BIGINT) AS n_incidences"
    " FROM d GROUP BY 1",
)


def _x91(spark: SparkSession, sf: str) -> DataFrame:
    """Traffic burstiness per event type: the Fano factor (variance /
    mean) of per-minute event counts — Poisson arrivals sit at 1.0,
    bursty traffic far above; the number that decides whether a
    streaming job needs burst headroom or can size for the mean. All
    moments accumulate as exact integer sums (n, sum x, sum x^2) at
    (type x minute) grain; the two divisions happen once at the end."""
    ev = read_sf_table(spark, sf, "events")
    per_min = ev.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("__m")
    ).agg(F.count(F.lit(1)).alias("__x"))
    mom = per_min.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__s1"),
        F.sum(F.col("__x") * F.col("__x")).alias("__s2"),
    )
    n, s1, s2 = F.col("__n"), F.col("__s1"), F.col("__s2")
    # try_divide: sample variance (and so Fano) is undefined for a
    # single-cell group (n = 1 -> n*(n-1) = 0); NULL-on-zero matches the
    # oracle's x/0 -> NULL
    variance = F.try_divide(n * s2 - s1 * s1, n * (n - 1))
    mean = s1 / n
    return mom.select(
        "event_type",
        n.cast("long").alias("n_minutes"),
        F.round(mean, 6).alias("mean_per_min"),
        F.round(F.try_divide(variance, mean), 6).alias("fano"),
    )


_register(
    "x91_burstiness",
    _x91,
    "WITH pm AS (SELECT event_type, date_trunc('minute', ts) AS m,"
    "   count(*) AS x FROM events GROUP BY 1, 2),"
    " mom AS (SELECT event_type, count(*) AS n, sum(x) AS s1,"
    "   sum(x * x) AS s2 FROM pm GROUP BY 1)"
    " SELECT event_type, CAST(n AS BIGINT) AS n_minutes,"
    "  round(CAST(s1 AS DOUBLE) / n, 6) AS mean_per_min,"
    "  round((CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1)))"
    "   / (CAST(s1 AS DOUBLE) / n), 6) AS fano"
    " FROM mom",
)


def _x92(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus report card: rank every source on four proven
    metrics — char entropy (x89), BPE fertility (x80), gram novelty
    (x82), near-dup involvement (x02 graph) — and sum the ranks into one
    composite ordering. Rank aggregation (Borda) instead of weighted
    z-scores keeps the composite INTEGER-deterministic across engines.
    The metric frames are all source-grain aggregates (~#sources rows);
    the ranking windows run over that aggregated grain, and ties break
    lexicographically by source. High entropy / low fertility / high
    novelty / low dup-rate rank well."""
    docs = read_sf_table(spark, sf, "documents")

    chars = docs.select("source", F.explode(F.split("text", "")).alias("c")).filter(
        F.col("c") != ""
    )
    counts = chars.groupBy("source", "c").agg(F.count(F.lit(1)).alias("__n"))
    w_tot = Window.partitionBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = F.col("__n") / F.sum("__n").over(w_tot)
    ent = (
        counts.withColumn("__p", p)
        .groupBy("source")
        .agg(F.round(-F.sum(F.col("__p") * F.log2("__p")) + 1e-9, 6).alias("entropy"))
    )

    fert = (
        docs.select(
            "source",
            X_text.token_count("text").cast("long").alias("__ws"),
            X_text.bpe_ish_token_count("text").cast("long").alias("__bpe"),
        )
        .groupBy("source")
        .agg(F.round(F.sum("__bpe") / F.sum("__ws"), 6).alias("fertility"))
    )

    grams = docs.select(
        "doc_id", "source", F.explode(X_dedup.gram_array("text", 3)).alias("g")
    ).distinct()
    first = grams.groupBy("g").agg(F.min("doc_id").alias("__fd"))
    nov = (
        grams.join(first, on="g")
        .groupBy("source")
        .agg(
            F.round(
                F.sum((F.col("doc_id") == F.col("__fd")).cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("novelty")
        )
    )

    pairs = shared_lsh_pairs(spark, sf)
    dup_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("__d", F.lit(1))
    )
    dup = (
        docs.select("doc_id", "source")
        .join(dup_ids, on="doc_id", how="left")
        .groupBy("source")
        .agg(F.round(F.count("__d") / F.count(F.lit(1)), 6).alias("dup_rate"))
    )

    # re-aggregate the joined metric frame at source grain immediately
    # before the global rank windows: the plan then reads Window <-
    # Exchange SinglePartition <- Aggregate, making the bounded input
    # structurally evident (and lint-provable), not just argued
    m = (
        ent.join(fert, on="source")
        .join(nov, on="source")
        .join(dup, on="source")
        .groupBy("source")
        .agg(
            F.max("entropy").alias("entropy"),
            F.max("fertility").alias("fertility"),
            F.max("novelty").alias("novelty"),
            F.max("dup_rate").alias("dup_rate"),
        )
    )
    r_ent = F.row_number().over(Window.orderBy(F.desc("entropy"), "source"))
    r_fert = F.row_number().over(Window.orderBy(F.asc("fertility"), "source"))
    r_nov = F.row_number().over(Window.orderBy(F.desc("novelty"), "source"))
    r_dup = F.row_number().over(Window.orderBy(F.asc("dup_rate"), "source"))
    ranked = m.select(
        "source",
        "entropy",
        "fertility",
        "novelty",
        "dup_rate",
        r_ent.cast("long").alias("r_entropy"),
        r_fert.cast("long").alias("r_fertility"),
        r_nov.cast("long").alias("r_novelty"),
        r_dup.cast("long").alias("r_dup"),
    )
    return ranked.withColumn(
        "composite",
        (
            F.col("r_entropy") + F.col("r_fertility") + F.col("r_novelty")
            + F.col("r_dup")
        ).cast("long"),
    )


_register(
    "x92_source_report_card",
    _x92,
    f"WITH {_SHINGLE_SQL}, {_lsh_pairs_sql('pairs')},"
    " ch AS (SELECT source, unnest(string_split(text, '')) AS c FROM documents),"
    " ccounts AS (SELECT source, c, count(*) AS n FROM ch WHERE c <> ''"
    "  GROUP BY 1, 2),"
    " ctot AS (SELECT source, sum(n) AS tot FROM ccounts GROUP BY 1),"
    " ent AS (SELECT ccounts.source,"
    "   round(-sum((CAST(n AS DOUBLE) / tot) * log2(CAST(n AS DOUBLE) / tot))"
    "    + 1e-9, 6) AS entropy"
    "  FROM ccounts JOIN ctot ON ctot.source = ccounts.source GROUP BY 1),"
    " fert AS (SELECT source, round(CAST(sum(len(regexp_extract_all(text,"
    "   '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) AS DOUBLE)"
    "   / sum(len(string_split_regex(trim(text), '\\s+'))), 6) AS fertility"
    "  FROM documents GROUP BY 1),"
    " g AS (SELECT DISTINCT doc_id, source,"
    "   array_to_string(w[i:i+2], ' ') AS g"
    "  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w"
    "    FROM documents), UNNEST(range(1, greatest(len(w)-2, 0)+1)) AS t(i)),"
    " fg AS (SELECT g, min(doc_id) AS fd FROM g GROUP BY 1),"
    " nov AS (SELECT source, round(CAST(sum(CASE WHEN doc_id = fd THEN 1"
    "   ELSE 0 END) AS DOUBLE) / count(*), 6) AS novelty"
    "  FROM g JOIN fg USING (g) GROUP BY 1),"
    " dids AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM pairs"
    "  UNION ALL SELECT id_b FROM pairs)),"
    " dup AS (SELECT d.source, round(CAST(count(dids.id) AS DOUBLE)"
    "   / count(*), 6) AS dup_rate"
    "  FROM documents d LEFT JOIN dids ON dids.id = d.doc_id GROUP BY 1),"
    " m AS (SELECT ent.source, entropy, fertility, novelty, dup_rate"
    "  FROM ent JOIN fert ON fert.source = ent.source"
    "  JOIN nov ON nov.source = ent.source"
    "  JOIN dup ON dup.source = ent.source),"
    " ranked AS (SELECT *,"
    "  CAST(row_number() OVER (ORDER BY entropy DESC, source) AS BIGINT)"
    "   AS r_entropy,"
    "  CAST(row_number() OVER (ORDER BY fertility ASC, source) AS BIGINT)"
    "   AS r_fertility,"
    "  CAST(row_number() OVER (ORDER BY novelty DESC, source) AS BIGINT)"
    "   AS r_novelty,"
    "  CAST(row_number() OVER (ORDER BY dup_rate ASC, source) AS BIGINT)"
    "   AS r_dup"
    "  FROM m)"
    " SELECT source, entropy, fertility, novelty, dup_rate,"
    "  r_entropy, r_fertility, r_novelty, r_dup,"
    "  r_entropy + r_fertility + r_novelty + r_dup AS composite"
    " FROM ranked",
)


def _x93(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash estimator calibration: for every x02 LSH candidate pair,
    the signature-level similarity estimate (matching components / 16)
    against exact shingle Jaccard, rolled up into a calibration summary —
    (n_pairs, mean_est, mean_exact, mean_abs_err, max_abs_err). The
    estimator-quality eval for the dedup family's measuring stick itself:
    E[est] = J per component, so a drifting mean_abs_err beyond binomial
    noise means a broken hash or band pipeline. Cost: signatures already
    exist at doc grain; exact Jaccard runs on CANDIDATES only.
    Candidates come from shared_lsh_pairs and signatures from
    shared_minhash_sigs — the same deterministic shingle->sig->band
    pipeline (k=3, 16 hashes, 4 bands, md5), so the pair set and the
    signature table are identical by construction and both shuffles are
    paid once per session."""
    docs = read_sf_table(spark, sf, "documents")
    sh = X_dedup.shingles(docs, "doc_id", "text", k=3)
    sig = shared_minhash_sigs(spark, sf)
    cand = shared_lsh_pairs(spark, sf).select("id_a", "id_b")
    exact = X_dedup.ngram_jaccard(sh, pairs=cand)
    sa = sig.select(
        F.col("id").alias("id_a"),
        *[F.col(f"sig_{i}").alias(f"__a{i}") for i in range(16)],
    )
    sb = sig.select(
        F.col("id").alias("id_b"),
        *[F.col(f"sig_{i}").alias(f"__b{i}") for i in range(16)],
    )
    est = (
        cand.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            (
                sum(
                    (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
                    for i in range(16)
                )
                / F.lit(16.0)
            ).alias("__est"),
        )
    )
    j = est.join(exact, on=["id_a", "id_b"])
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("__est") + 1e-9, 6).alias("mean_est"),
        F.round(F.avg("jaccard") + 1e-9, 6).alias("mean_exact"),
        F.round(F.avg(F.abs(F.col("__est") - F.col("jaccard"))) + 1e-9, 6).alias(
            "mean_abs_err"
        ),
        F.round(F.max(F.abs(F.col("__est") - F.col("jaccard"))) + 1e-9, 6).alias(
            "max_abs_err"
        ),
    )


_register(
    "x93_minhash_calibration",
    _x93,
    f"WITH {_SHINGLE_SQL}, {_lsh_pairs_sql('cand')},"
    f" {_CAND_OVERLAP_SQL},"
    " exact AS (SELECT id_a, id_b,"
    "   CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jac FROM inter"
    "  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b),"
    " est AS (SELECT c.id_a, c.id_b, ("
    + " + ".join(
        f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END" for i in range(16)
    )
    + ") / 16.0 AS e"
    "  FROM cand c JOIN sig a ON a.id = c.id_a JOIN sig b ON b.id = c.id_b)"
    " SELECT CAST(count(*) AS BIGINT) AS n_pairs,"
    "  round(avg(e) + 1e-9, 6) AS mean_est,"
    "  round(avg(jac) + 1e-9, 6) AS mean_exact,"
    "  round(avg(abs(e - jac)) + 1e-9, 6) AS mean_abs_err,"
    "  round(max(abs(e - jac)) + 1e-9, 6) AS max_abs_err"
    " FROM est JOIN exact USING (id_a, id_b)",
)


def _x94(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional entropy H(lang | source) vs H(lang): how many bits of
    language uncertainty remain once the source is known — the
    information-theoretic refinement of x87's binary FD verdict (an FD
    that is violated may still be NEARLY deterministic; mutual
    information says how nearly). One (source x lang) joint-count
    aggregate; entropies from exact integer counts with one final
    division chain."""
    docs = read_sf_table(spark, sf, "documents")
    joint = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("__n"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_src = Window.partitionBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    enriched = joint.withColumn("__tot", F.sum("__n").over(w_all)).withColumn(
        "__nsrc", F.sum("__n").over(w_src)
    )
    p_joint = F.col("__n") / F.col("__tot")
    p_cond = F.col("__n") / F.col("__nsrc")
    # H(lang|source) = -sum p(s,l) log2 p(l|s); H(lang) from lang marginals
    h_cond = enriched.agg(
        F.round(-F.sum(p_joint * F.log2(p_cond)) + 1e-9, 6).alias("h_lang_given_source")
    )
    lang_m = joint.groupBy("lang").agg(F.sum("__n").alias("__nl"))
    w_all2 = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    h_lang = (
        lang_m.withColumn("__tot", F.sum("__nl").over(w_all2))
        .agg(
            F.round(
                -F.sum((F.col("__nl") / F.col("__tot")) * F.log2(F.col("__nl") / F.col("__tot")))
                + 1e-9,
                6,
            ).alias("h_lang")
        )
    )
    return (
        h_lang.crossJoin(F.broadcast(h_cond))
        .select(
            "h_lang",
            "h_lang_given_source",
            F.round(
                F.col("h_lang") - F.col("h_lang_given_source") + 1e-9, 6
            ).alias("mutual_information"),
        )
    )


_register(
    "x94_conditional_entropy",
    _x94,
    "WITH joint AS (SELECT source, lang, count(*) AS n FROM documents"
    "  GROUP BY 1, 2),"
    " tot AS (SELECT sum(n) AS t FROM joint),"
    " src AS (SELECT source, sum(n) AS ns FROM joint GROUP BY 1),"
    " hc AS (SELECT round(-sum((CAST(n AS DOUBLE) / t)"
    "   * log2(CAST(n AS DOUBLE) / ns)) + 1e-9, 6) AS h_lang_given_source"
    "  FROM joint JOIN src USING (source) CROSS JOIN tot),"
    " lm AS (SELECT lang, sum(n) AS nl FROM joint GROUP BY 1),"
    " hl AS (SELECT round(-sum((CAST(nl AS DOUBLE) / t)"
    "   * log2(CAST(nl AS DOUBLE) / t)) + 1e-9, 6) AS h_lang FROM lm, tot)"
    " SELECT h_lang, h_lang_given_source,"
    "  round(h_lang - h_lang_given_source + 1e-9, 6) AS mutual_information"
    " FROM hl, hc",
)


def _x95(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget mix planner: given target mix weights over sources
    and a global token budget, the per-source sampling rate, allocated
    tokens, and achieved mix — the PLANNING step upstream of x27's
    resampling (compute rates from source-grain token totals, then
    sample). rate_s = min(1, budget * w_s / tokens_s): undersized
    sources saturate at 1 and the achieved mix shows the shortfall
    honestly. Everything after the one token-count aggregate is
    source-grain arithmetic."""
    docs = read_sf_table(spark, sf, "documents")
    budget = 100_000
    per_src = docs.groupBy("source").agg(
        F.sum(X_text.token_count("text").cast("long")).alias("__tokens")
    )
    n_src = 20  # uniform target mix over the fixed source set
    w = 1.0 / n_src
    planned = per_src.select(
        "source",
        F.col("__tokens").cast("long").alias("tokens_available"),
        F.round(
            F.least(F.lit(1.0), F.lit(budget * w) / F.col("__tokens")), 6
        ).alias("rate"),
        F.least(F.lit(float(budget * w)), F.col("__tokens").cast("double"))
        .cast("long")
        .alias("tokens_allocated"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return planned.withColumn(
        "achieved_share",
        F.round(
            F.col("tokens_allocated") / F.sum("tokens_allocated").over(w_all), 6
        ),
    )


_register(
    "x95_mix_planner",
    _x95,
    "WITH per AS (SELECT source,"
    "   CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)"
    "    AS tokens_available"
    "  FROM documents GROUP BY 1),"
    " planned AS (SELECT source, tokens_available,"
    "   round(least(1.0, 5000.0 / tokens_available), 6) AS rate,"
    "   CAST(least(5000.0, CAST(tokens_available AS DOUBLE)) AS BIGINT)"
    "    AS tokens_allocated"
    "  FROM per)"
    " SELECT source, tokens_available, rate, tokens_allocated,"
    "  round(CAST(tokens_allocated AS DOUBLE)"
    "   / sum(tokens_allocated) OVER (), 6) AS achieved_share"
    " FROM planned",
)


def _p11(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity risk-utility sweep: for k in {2, 5, 10, 20}, how many
    (user_id, event_type) groups and rows p04-style suppression would
    drop — the curve a data owner reads to pick k (the p04 operator
    fixes k=10; this query shows what that choice costs and what the
    alternatives would). One group-size aggregate, then four CASE sums
    over group-grain rows."""
    ev = read_sf_table(spark, sf, "events")
    gs = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("__gs"))
    rows_ = [
        F.struct(
            F.lit(k).alias("k"),
            F.sum((F.col("__gs") < k).cast("long")).cast("long").alias("groups_suppressed"),
            F.sum(F.when(F.col("__gs") < k, F.col("__gs")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rows_suppressed"),
        )
        for k in (2, 5, 10, 20)
    ]
    agg = gs.agg(F.array(*rows_).alias("__arr"))
    return agg.select(F.explode("__arr").alias("r")).select(
        F.col("r.k").cast("long").alias("k"),
        "r.groups_suppressed",
        "r.rows_suppressed",
    )


_register(
    "p11_k_sweep",
    _p11,
    "WITH gs AS (SELECT user_id, event_type, count(*) AS gs FROM events"
    "  GROUP BY 1, 2)"
    " SELECT CAST(k AS BIGINT) AS k,"
    "  CAST(sum(CASE WHEN gs < k THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS groups_suppressed,"
    "  CAST(sum(CASE WHEN gs < k THEN gs ELSE 0 END) AS BIGINT)"
    "   AS rows_suppressed"
    " FROM gs, UNNEST([2, 5, 10, 20]) AS t(k) GROUP BY 1",
)


def _x96(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-source length outliers via median/MAD (the
    histogram-quantile machinery applied twice at resolution 1 — both
    medians EXACT): a doc is an outlier when |n_chars - median| exceeds
    5 x MAD (any positive deviation when MAD = 0). Mean/stddev outlier
    rules break on the very contamination they should find (a few huge
    docs drag the mean); median/MAD has a 50% breakdown point. Cost: two
    value-grain histogram passes + one broadcast join of source-grain
    stats."""
    docs = read_sf_table(spark, sf, "documents")
    med = X_sk.histogram_quantiles(
        docs, "source", "n_chars", resolution=1, qs=(0.5,)
    ).select("source", F.col("p50").cast("long").alias("__med"))
    dev = docs.join(F.broadcast(med), on="source").select(
        "source", F.abs(F.col("n_chars") - F.col("__med")).cast("long").alias("dev")
    )
    mad = X_sk.histogram_quantiles(
        dev, "source", "dev", resolution=1, qs=(0.5,)
    ).select("source", F.col("p50").cast("long").alias("__mad"))
    flagged = dev.join(F.broadcast(mad), on="source").select(
        "source",
        (
            (F.col("dev") > 5 * F.col("__mad"))
            & (F.col("dev") > 0)
        ).cast("long").alias("__out"),
    )
    per = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__out").cast("long").alias("n_outliers"),
    )
    return (
        per.join(F.broadcast(med), on="source")
        .join(F.broadcast(mad), on="source")
        .select(
            "source",
            "n_docs",
            F.col("__med").alias("median_chars"),
            F.col("__mad").alias("mad_chars"),
            "n_outliers",
        )
    )


_X96_MED = (
    " {out} AS (SELECT source,"
    "  CAST(min(CASE WHEN c >= ceil(0.5 * tot) THEN v END) AS BIGINT) AS {col}"
    " FROM (SELECT source, v, sum(n) OVER (PARTITION BY source ORDER BY v"
    "    ROWS UNBOUNDED PRECEDING) AS c,"
    "   sum(n) OVER (PARTITION BY source) AS tot"
    "  FROM (SELECT source, {expr} AS v, count(*) AS n FROM {src}"
    "   GROUP BY 1, 2)) GROUP BY 1)"
)

_register(
    "x96_length_outliers",
    _x96,
    "WITH"
    + _X96_MED.format(out="med", col="med", expr="n_chars", src="documents")
    + ", dev AS (SELECT d.source, abs(d.n_chars - med.med) AS dev"
    "  FROM documents d JOIN med ON med.source = d.source),"
    + _X96_MED.format(out="madt", col="mad", expr="dev", src="dev")
    + " SELECT dev.source, CAST(count(*) AS BIGINT) AS n_docs,"
    "  CAST(max(med.med) AS BIGINT) AS median_chars,"
    "  CAST(max(madt.mad) AS BIGINT) AS mad_chars,"
    "  CAST(sum(CASE WHEN dev > 5 * madt.mad AND dev > 0 THEN 1 ELSE 0 END)"
    "   AS BIGINT) AS n_outliers"
    " FROM dev JOIN med ON med.source = dev.source"
    " JOIN madt ON madt.source = dev.source"
    " GROUP BY 1",
)


def _x97(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-key skew audit: for each candidate partition/join key, the
    row count, exact distinct-key count, and the hottest key's share of
    rows — the pre-flight numbers that decide salting (p02), AQE skew
    hints, and broadcast choices BEFORE a 100 TB shuffle is launched.
    Max-share needs no sort and no window: key-grain counts then max/sum
    — every statement map-side combinable."""

    def audit(df: DataFrame, col: str, name: str) -> DataFrame:
        g = df.groupBy(F.col(col).alias("__k")).agg(F.count(F.lit(1)).alias("__n"))
        return g.agg(
            F.lit(name).alias("key_name"),
            F.sum("__n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("ndv"),
            F.round(F.max("__n") / F.sum("__n"), 6).alias("max_key_share"),
        )

    ev = read_sf_table(spark, sf, "events")
    orders = read_sf_table(spark, sf, "orders")
    li = read_sf_table(spark, sf, "lineitem")
    docs = read_sf_table(spark, sf, "documents")
    return (
        audit(ev, "user_id", "events.user_id")
        .unionByName(audit(ev, "event_type", "events.event_type"))
        .unionByName(audit(orders, "o_custkey", "orders.o_custkey"))
        .unionByName(audit(li, "l_orderkey", "lineitem.l_orderkey"))
        .unionByName(audit(docs, "source", "documents.source"))
    )


_X97_ONE = (
    " (SELECT '{name}' AS key_name, CAST(sum(n) AS BIGINT) AS n_rows,"
    "  CAST(count(*) AS BIGINT) AS ndv,"
    "  round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS max_key_share"
    " FROM (SELECT {col} AS k, count(*) AS n FROM {tbl} GROUP BY 1))"
)

_register(
    "x97_skew_audit",
    _x97,
    " UNION ALL ".join(
        _X97_ONE.format(name=n, col=c, tbl=t)
        for n, c, t in [
            ("events.user_id", "user_id", "events"),
            ("events.event_type", "event_type", "events"),
            ("orders.o_custkey", "o_custkey", "orders"),
            ("lineitem.l_orderkey", "l_orderkey", "lineitem"),
            ("documents.source", "source", "documents"),
        ]
    ),
)


def _p12(spark: SparkSession, sf: str) -> DataFrame:
    """Contribution-clipped DP daily histogram: each user contributes at
    most C = 5 events (first 5 by (ts, event_id) — deterministic clip),
    bounding the L1 sensitivity of every daily count at C, then
    deterministic Laplace(scale = C/eps, eps = 1) noise per day — the
    sensitivity-accounting step p05's raw noisy counts deliberately
    skipped, and the difference between "added noise" and an actual DP
    budget claim. The clip window is keyed by user_id (corpus
    cardinality); noise reuses p05's reproducible inverse-CDF hash
    mechanism (salt swap = real entropy in production)."""
    ev = read_sf_table(spark, sf, "events")
    # asc_nulls_last pins the clip order cross-engine: an undatable
    # (NULL-ts) event contributes only after every dated one — Spark's
    # asc default is NULLS FIRST, DuckDB's is NULLS LAST, and the clip
    # would otherwise keep different events for that user
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    clipped = ev.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= 5)
    g = clipped.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_clipped"))
    return g.withColumn(
        "noisy_n",
        F.round(
            F.col("n_clipped")
            + laplace_noise(F.col("bucket"), scale=5.0, salt="dphist")
            + 1e-9,
            6,
        ),
    )


_register(
    "p12_dp_clipped_histogram",
    _p12,
    "WITH r AS (SELECT ts, row_number() OVER (PARTITION BY user_id"
    "   ORDER BY ts NULLS LAST, event_id) AS rn FROM events),"
    " g AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS bucket,"
    "   CAST(count(*) AS BIGINT) AS n_clipped FROM r WHERE rn <= 5 GROUP BY 1),"
    " k AS (SELECT bucket, n_clipped,"
    "   md5('dphist|' || CAST(bucket AS VARCHAR)) AS h FROM g),"
    " u AS (SELECT bucket, n_clipped,"
    "   (((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576"
    "    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536"
    "    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096"
    "    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 256"
    "    + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16"
    "    + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 1) + 0.5)"
    "    / 16777216.0 - 0.5 AS u"
    "  FROM k)"
    " SELECT bucket, n_clipped,"
    "  round(n_clipped + (-5.0 * sign(u) * ln(1.0 - 2.0 * abs(u))) + 1e-9, 6)"
    "   AS noisy_n"
    " FROM u",
)


def _x98(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT shingle-Jaccard self-join via prefix filtering — the lossless
    counterpart to x02's MinHash-LSH: same candidate-then-verify shape,
    but the df-ascending prefix guarantee means zero false negatives, so
    the oracle can be a completely independent BRUTE-FORCE all-pairs
    Jaccard (the strongest falsifiability in the suite: any pair the
    pruning drops that it shouldn't is an instant hash mismatch)."""
    return shared_prefix_pairs(spark, sf)


_register(
    "x98_prefix_filter_join",
    _x98,
    r"WITH t0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w"
    "   FROM documents),"
    " tok AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS tok"
    "   FROM t0, UNNEST(range(1, greatest(len(w) - 3, 0) + 1)) AS t(i)),"
    " sz AS (SELECT doc_id, count(*) AS m FROM tok GROUP BY 1),"
    " inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i"
    "   FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id"
    "   GROUP BY 1, 2)"
    " SELECT id_a, id_b,"
    "  round(CAST(i AS DOUBLE) / (sa.m + sb.m - i), 6) AS jaccard"
    " FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b"
    " WHERE CAST(i AS DOUBLE) / (sa.m + sb.m - i) >= 0.5",
)


def _a38(spark: SparkSession, sf: str) -> DataFrame:
    """Join-graph mining: which table PAIRS are scanned inside the same
    query, how often, and what share of the workload that is — the
    numbers behind bucketing / co-partitioning / sort-key advice (two
    tables co-scanned in 40% of queries are the ones to co-locate).
    Per-query distinct tables first, so the pair fan-out is bounded by
    (tables per query)^2 — a plan-shape constant — not corpus size."""
    # one shuffle, no self-join (r15): collect each query's DISTINCT table
    # set (collect_set subsumes the former .distinct() pass) and enumerate
    # ordered pairs with array combinatorics — the per-query set is a
    # plan-shape constant, so the explode is narrow, while the former
    # pn-self-join shuffled the node table twice more. Same pairs, same
    # counts: sort_array + slice-from-successor yields exactly the
    # a.t < b.t enumeration.
    grouped = (
        workload_plan_nodes(spark, sf)
        .groupBy("query_id")
        .agg(F.sort_array(F.collect_set("deepest_scan_table")).alias("__ts"))
        .transform(materialize)  # read by tot AND the pair explode
    )
    tot = grouped.agg(F.count(F.lit(1)).alias("__nq"))
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    "__ts",
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("__ts"), i + F.lit(2), F.size("__ts") - i - 1
                        ),
                        lambda b: F.struct(
                            a.alias("table_a"), b.alias("table_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.table_a"), F.col("p.table_b"))
    return (
        pairs.groupBy("table_a", "table_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
        .crossJoin(F.broadcast(tot))
        .select(
            "table_a",
            "table_b",
            "n_queries",
            F.round(F.col("n_queries") / F.col("__nq"), 6).alias("query_share"),
        )
    )


_register(
    "a38_table_cooccurrence",
    _a38,
    _ALL_CTES
    + ", pt AS (SELECT DISTINCT query_id, deepest_scan_table AS t FROM pnodes)"
    " SELECT a.t AS table_a, b.t AS table_b,"
    "  CAST(count(*) AS BIGINT) AS n_queries,"
    "  round(count(*) / CAST((SELECT count(DISTINCT query_id) FROM pt) AS DOUBLE),"
    "   6) AS query_share"
    " FROM pt a JOIN pt b ON a.query_id = b.query_id AND a.t < b.t"
    " GROUP BY 1, 2",
)


def _x99(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis-Spirakis A-ES): per
    source, the 20 documents with the largest key ln(u)/w, u a 24-bit
    md5-derived uniform, w = whitespace token count — equivalent to
    sampling WITHOUT replacement with probability proportional to token
    mass, the right way to subsample a corpus when downstream cost is
    token-metered. The hash replaces RNG state so any engine replays the
    same sample (salt swap = fresh entropy in production). The per-source
    top-k runs through sampling._hierarchical_row_number (range shards of
    the key, per-shard local top-20, aggregated offset window) — `source`
    alone is the low-cardinality partition key the engine's window lint
    bans over raw rows."""
    # NULL text has no token weight and NULL source no sampling cohort
    # — filtered on BOTH sides (NULL keys rank differently across
    # engines and the shard machinery is join-based)
    docs = read_sf_table(spark, sf, "documents").filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    w = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double")
    u = (
        (F.conv(F.substring(F.md5(F.concat(F.lit("wsamp|"), F.col("doc_id").cast("string"))), 1, 6), 16, 10).cast("double") + 0.5)
        / F.lit(16777216.0)
    )
    keyed = docs.select(
        "source",
        "doc_id",
        w.cast("long").alias("n_tokens"),
        (F.log(u) / w).alias("__key"),
    )
    # shard = coarse range bucket of the DESCENDING sort key: ascending
    # floor(-key) tracks descending key, so shards are order-monotone as
    # _hierarchical_row_number requires
    ranked = X_samp._hierarchical_row_number(
        keyed,
        ["source"],
        [F.col("__key").desc(), F.col("doc_id")],
        F.floor(-F.col("__key") * 1024).cast("long"),
        "__rk",
        local_prune=F.lit(20),
    )
    return (
        ranked.filter(F.col("__rk") <= 20)
        .select("source", "doc_id", "n_tokens", F.col("__rk").cast("long").alias("sample_rank"))
    )


_register(
    "x99_weighted_sample",
    _x99,
    r"WITH b AS (SELECT source, doc_id,"
    r"   len(string_split_regex(trim(text), '\s+')) AS n_tokens,"
    "   md5('wsamp|' || CAST(doc_id AS VARCHAR)) AS h FROM documents"
    "   WHERE text IS NOT NULL AND source IS NOT NULL),"
    " k AS (SELECT source, doc_id, n_tokens,"
    "   ln((((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576"
    "    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536"
    "    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096"
    "    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 256"
    "    + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16"
    "    + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 1) + 0.5)"
    "    / 16777216.0) / n_tokens AS key FROM b),"
    " r AS (SELECT source, doc_id, n_tokens,"
    "   row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rk"
    "  FROM k)"
    " SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,"
    "  CAST(rk AS BIGINT) AS sample_rank"
    " FROM r WHERE rk <= 20",
)


def _x100(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the x02 LSH candidate-pair graph
    (graph.triangle_counts, degree-ordered orientation): clique-density
    refinement between raw pairs and x14's components — high triangle
    counts mark mutual-duplicate template clusters, zero marks banding
    hubs/chains where collapsing a whole component would over-delete.
    The oracle enumerates triangles BRUTE-FORCE as an a<b<c triple join
    over the replayed pair set — fully independent of the orientation
    trick, so a wedge the pruning miscounts is a hash mismatch."""
    return shared_dup_triangles(spark, sf)


_register(
    "x100_dup_triangles",
    _x100,
    f"WITH {_SHINGLE_SQL}, {_lsh_pairs_sql('pairs')},"
    " tri AS (SELECT p1.id_a AS x, p1.id_b AS y, p2.id_b AS z"
    "  FROM pairs p1 JOIN pairs p2 ON p2.id_a = p1.id_b"
    "  JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),"
    " tn AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri"
    "  UNION ALL SELECT z FROM tri)"
    " SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM tn GROUP BY 1",
)


def _s15(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming funnel-conversion detection (streaming/funnel.py,
    applyInPandasWithState): signup ARMS, error DISARMS, purchase
    CONSUMES within a 1h horizon — the order-SENSITIVE pattern a
    stream-stream interval join (s04) cannot express. Conversions emit
    in the purchase's own batch (no watermark-dependent residue), so
    the drained stream equals the batch lag() formulation exactly."""
    ev = stream_sf_table(spark, sf, "events").withWatermark("ts", "1 minute")
    conv = funnel_conversions(ev, horizon_seconds=3600.0)
    return drain(conv, partitions=8).select(
        "user_id",
        "signup_ts",
        "purchase_ts",
        F.round("latency_s", 6).alias("latency_s"),
    )


_register(
    "s15_stream_funnel",
    _s15,
    "WITH rel AS (SELECT user_id, ts, event_id, event_type FROM events"
    "  WHERE event_type IN ('signup', 'error', 'purchase')),"
    " lagd AS (SELECT user_id, ts, event_type,"
    "   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    "    AS ptype,"
    "   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts"
    "  FROM rel)"
    " SELECT user_id, pts AS signup_ts, ts AS purchase_ts,"
    "  round(CAST(epoch_us(ts) - epoch_us(pts) AS DOUBLE) / 1e6, 6)"
    "   AS latency_s"
    " FROM lagd WHERE event_type = 'purchase' AND ptype = 'signup'"
    "  AND epoch_us(ts) - epoch_us(pts) <= 3600000000",
)


def _x101(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-FREE split assignment — the fix for what x61 audits: every
    member of a near-dup cluster (x14 components; singletons are their
    own cluster) is split by the hash of its CLUSTER canonical id, so
    near-duplicate train/test straddle is impossible BY CONSTRUCTION,
    not by post-hoc repair. Composition of two proven operators
    (connected_components ∘ hash_split), which is the point: the split
    key must be the canonical id, a contract a per-doc hash_split (x16)
    silently violates on deduplicated corpora."""
    docs = read_sf_table(spark, sf, "documents")
    cc = shared_dedup_clusters(spark, sf)
    canon = (
        docs.select("doc_id")
        .join(cc.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("split_key"))
    )
    out = X_samp.hash_split(canon, "split_key", {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.select("doc_id", "split_key", "split")


_X101_BUCKET = (
    "((strpos('0123456789abcdef', substr(md5(CAST(split_key AS VARCHAR)), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(CAST(split_key AS VARCHAR)), 2, 1)) - 1))"
)

_register(
    "x101_leakage_free_split",
    _x101,
    _X14_CC_SQL
    + ", canon AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS split_key"
    "   FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),"
    f" lab AS (SELECT doc_id, split_key, {_X101_BUCKET} AS bucket FROM canon)"
    " SELECT doc_id, split_key,"
    "  CASE WHEN bucket < 205 THEN 'train' WHEN bucket < 231 THEN 'val'"
    "   ELSE 'test' END AS split FROM lab",
)


def _p13(spark: SparkSession, sf: str) -> DataFrame:
    """DP histogram release with STABILITY THRESHOLDING over an unbounded
    key domain ((source, lang) cells): noisy count released only when it
    clears tau = 1 + 2*ln(3/(2*delta))/eps (eps=1, delta=0.05 ->
    tau ~= 7.802) — the step that makes a histogram over keys the
    adversary may not know (approximate-DP: the key set itself leaks)
    actually private, and the difference between p05's mechanism shape
    and a releasable artifact. Suppression happens AFTER noise, so the
    release is a pure function of (cell key, count) — engine-replayable.
    At sf0.01 both branches are exercised (18 of 97 cells clear tau)."""
    tau = 1.0 + 2.0 * math.log(3.0 / (2.0 * 0.05))
    docs = read_sf_table(spark, sf, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    key = F.concat_ws("|", F.col("source"), F.col("lang"))
    noisy = g.withColumn(
        "noisy_n",
        F.round(F.col("__n") + laplace_noise(key, scale=1.0, salt="dprel") + 1e-9, 6),
    )
    return noisy.filter(F.col("noisy_n") > F.lit(tau)).select(
        "source", "lang", "noisy_n"
    )


def _p13_sql() -> str:
    tau = 1.0 + 2.0 * math.log(3.0 / (2.0 * 0.05))
    hexpos = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    v = " + ".join(f"{hexpos.format(i=i + 1)} * {16 ** (5 - i)}" for i in range(6))
    return (
        "WITH g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n"
        "  FROM documents GROUP BY 1, 2),"
        " k AS (SELECT source, lang, n,"
        "  md5('dprel|' || source || '|' || lang) AS h FROM g),"
        f" u AS (SELECT source, lang, n, (({v}) + 0.5) / {float(16 ** 6)!r} - 0.5 AS u"
        "  FROM k),"
        " r AS (SELECT source, lang,"
        "  round(n + (-1.0 * sign(u) * ln(1.0 - 2.0 * abs(u))) + 1e-9, 6) AS noisy_n"
        "  FROM u)"
        f" SELECT source, lang, noisy_n FROM r WHERE noisy_n > {tau!r}"
    )


_register("p13_dp_thresholded_release", _p13, _p13_sql())


def _x102(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka/truncation recall curve: recall@5 of exact top-k over
    PREFIX-truncated embeddings (16 and 32 of 64 dims) against the full-
    dimension truth — the measurement behind the modern "store the prefix,
    rerank with the tail" embedding-cost play: it tells you how many dims
    the ANN tier can drop before recall pays. Pure composition of proven
    pieces (slice -> cosine_topk -> ann_recall), one curve row per
    (dims, query); queries capped to vec_id < 10 like x44 (broadcast query
    side; corpus side scans once per dims level)."""
    emb = read_indexable_embeddings(spark, sf)
    q_full = emb.filter(F.col("vec_id") < 10)
    exact = X_sim.cosine_topk(emb, q_full, k=5)
    out = None
    for dims in (16, 32):
        # an indexable full vector can still have an all-zero PREFIX —
        # not rankable at that dims level, excluded on both sides
        tr = emb.select(
            "vec_id", F.slice("embedding", 1, dims).alias("embedding")
        ).filter(X_sim.indexable_expr(F.col("embedding")))
        ann = X_sim.cosine_topk(tr, tr.filter(F.col("vec_id") < 10), k=5)
        rec = X_sim.ann_recall(ann, exact, k=5).select(
            F.lit(dims).cast("long").alias("dims"), "query_id", "n_hits", "recall"
        )
        out = rec if out is None else out.unionByName(rec)
    return out


def _x102_sql() -> str:
    cos = _cos_sql("a.v", "b.v")

    def topk(name: str, src: str) -> str:
        return (
            f" {name}s AS (SELECT a.id AS query_id, b.id AS neighbor_id,"
            f" {cos} AS cosine FROM {src} a, {src} b"
            "  WHERE a.id < 10 AND a.id <> b.id),"
            f" {name}r AS (SELECT query_id, neighbor_id, row_number() OVER ("
            f"  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk"
            f"  FROM {name}s),"
            f" {name} AS (SELECT query_id, neighbor_id FROM {name}r WHERE rnk <= 5)"
        )

    per_dims = []
    for dims in (16, 32):
        per_dims.append(
            f"(SELECT {dims} AS dims, q.query_id,"
            f" CAST(coalesce(h{dims}.n_hits, 0) AS BIGINT) AS n_hits,"
            f" round(coalesce(h{dims}.n_hits, 0) / CAST(q.n_exact AS DOUBLE), 6)"
            "  AS recall"
            " FROM qd q LEFT JOIN ("
            "  SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits"
            f"  FROM ex JOIN an{dims} USING (query_id, neighbor_id) GROUP BY 1"
            f" ) h{dims} USING (query_id))"
        )
    return (
        "WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v"
        f"  FROM embeddings WHERE {_EMB_OK}),"
        " e16 AS (SELECT id, v[1:16] AS v FROM e"
        "  WHERE list_dot_product(v[1:16], v[1:16]) > 0),"
        " e32 AS (SELECT id, v[1:32] AS v FROM e"
        "  WHERE list_dot_product(v[1:32], v[1:32]) > 0),"
        + topk("ex", "e") + ","
        + topk("an16", "e16") + ","
        + topk("an32", "e32") + ","
        " qd AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact"
        "  FROM ex GROUP BY 1)"
        " SELECT * FROM (" + " UNION ALL ".join(per_dims) + ")"
    )


_register("x102_matryoshka_recall", _x102, _x102_sql())


def _x103(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-adjusted effective-token accounting per source: each doc's
    tokens weighted by 1/near-dup-cluster-size (x14 components; singleton
    docs weigh 1), so a source padded with 10 copies of the same page
    contributes its tokens once — the "how much data do we REALLY have"
    number that sizes training runs, where raw token counts over-report
    duplicated sources. Integer sums + one weighted sum; cluster sizes
    join back at doc grain."""
    docs = read_sf_table(spark, sf, "documents")
    cc = shared_dedup_clusters(spark, sf)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("__sz"))
    member = cc.join(sizes, "cluster_id").select(
        F.col("id").alias("doc_id"), F.col("__sz")
    )
    toks = docs.select(
        "doc_id", "source", X_text.token_count("text").cast("long").alias("__t")
    )
    weighted = toks.join(member, "doc_id", "left").withColumn(
        "__w", F.coalesce(F.col("__sz"), F.lit(1))
    )
    return weighted.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__t").cast("long").alias("raw_tokens"),
        F.round(F.sum(F.col("__t") / F.col("__w")), 6).alias("effective_tokens"),
        F.round(1 - F.sum(F.col("__t") / F.col("__w")) / F.sum("__t"), 6).alias(
            "dup_discount"
        ),
    )


_register(
    "x103_effective_tokens",
    _x103,
    _X14_CC_SQL
    + ", sz AS (SELECT cluster_id, count(*) AS s FROM cc GROUP BY 1),"
    " mem AS (SELECT cc.id AS doc_id, sz.s FROM cc JOIN sz USING (cluster_id)),"
    " t AS (SELECT d.doc_id, d.source,"
    "   CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS tok,"
    "   coalesce(mem.s, 1) AS w"
    "  FROM documents d LEFT JOIN mem ON mem.doc_id = d.doc_id)"
    " SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
    "  CAST(sum(tok) AS BIGINT) AS raw_tokens,"
    "  round(sum(CAST(tok AS DOUBLE) / w), 6) AS effective_tokens,"
    "  round(1 - sum(CAST(tok AS DOUBLE) / w) / sum(tok), 6) AS dup_discount"
    " FROM t GROUP BY 1",
)


def _x104(spark: SparkSession, sf: str) -> DataFrame:
    """Duplication concentration (Lorenz curve + Gini) over near-dup
    cluster sizes, computed ENTIRELY at cluster-SIZE grain: cluster sizes
    (singletons = 1) collapse to a (size, n_clusters) histogram — a few
    hundred rows no matter the corpus — and both the descending-size
    Lorenz points and the grouped-data Gini
    (G = sum s_k*c_k*(2*K_{k-1} + c_k - C) / (C*N), ascending sizes,
    K = cumulative cluster count) are exact integer arithmetic over that
    histogram until the final divisions. The global windows therefore run
    over DOUBLY-aggregated rows — the engine's lint-accepted shape — and
    "the top 1% of clusters hold X% of docs" never touches doc grain."""
    docs = read_sf_table(spark, sf, "documents")
    cc = shared_dedup_clusters(spark, sf)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("s"))
    n_clustered_docs = sizes.select(F.sum("s").alias("v"))
    singles = (
        docs.select(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(n_clustered_docs))
        .select((F.col("n") - F.col("v")).alias("c1"))
    )
    hist = (
        sizes.groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"))
        .unionByName(
            singles.select(F.lit(1).alias("s"), F.col("c1").alias("c"))
        )
        .groupBy("s")
        .agg(F.sum("c").cast("long").alias("c"))
        # materialized (r16 plan audit): consumed by the totals scalar
        # AND the cumulative-window frame; size-grain histogram (a few
        # hundred rows at any corpus scale)
        .transform(materialize)
    )
    tot = hist.agg(
        F.sum("c").alias("__C"), F.sum(F.col("s") * F.col("c")).alias("__N")
    )
    w_desc = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_asc_excl = Window.orderBy(F.col("s")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = (
        hist.withColumn("__cc", F.sum("c").over(w_desc))
        .withColumn("__cd", F.sum(F.col("s") * F.col("c")).over(w_desc))
        .withColumn("__k", F.coalesce(F.sum("c").over(w_asc_excl), F.lit(0)))
        .crossJoin(F.broadcast(tot))
        # materialized: consumed twice (Gini scalar + Lorenz select);
        # same size-grain rows (r16: x104's plan was 70 Exchange from
        # exactly this double duplication)
        .transform(materialize)
    )
    gini = cum.select(
        F.sum(
            F.col("s") * F.col("c") * (2 * F.col("__k") + F.col("c") - F.col("__C"))
        ).alias("__g"),
        F.first("__C").alias("__C2"),
        F.first("__N").alias("__N2"),
    ).select(
        F.round(F.col("__g") / (F.col("__C2") * F.col("__N2")), 6).alias("gini")
    )
    return cum.crossJoin(F.broadcast(gini)).select(
        F.col("s").cast("long").alias("cluster_size"),
        F.col("c").alias("n_clusters"),
        F.round(F.col("__cc") / F.col("__C"), 6).alias("cum_cluster_share"),
        F.round(F.col("__cd") / F.col("__N"), 6).alias("cum_doc_share"),
        "gini",
    )


_register(
    "x104_dup_concentration",
    _x104,
    _X14_CC_SQL
    + ", szs AS (SELECT cluster_id, count(*) AS s FROM cc GROUP BY 1),"
    " h0 AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM szs GROUP BY 1),"
    " ones AS (SELECT 1 AS s, CAST((SELECT count(*) FROM documents)"
    "   - coalesce((SELECT sum(s) FROM szs), 0) AS BIGINT) AS c),"
    " h AS (SELECT s, CAST(sum(c) AS BIGINT) AS c FROM"
    "   (SELECT * FROM h0 UNION ALL SELECT * FROM ones) GROUP BY 1),"
    " tot AS (SELECT sum(c) AS ctot, sum(s * c) AS ntot FROM h),"
    " cum AS (SELECT s, c,"
    "   sum(c) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cc,"
    "   sum(s * c) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cd,"
    "   coalesce(sum(c) OVER (ORDER BY s ASC"
    "     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS k"
    "  FROM h),"
    " g AS (SELECT round(CAST(sum(s * c * (2 * k + c"
    "     - (SELECT ctot FROM tot))) AS DOUBLE)"
    "   / ((SELECT ctot FROM tot) * (SELECT ntot FROM tot)), 6) AS gini FROM cum)"
    " SELECT CAST(s AS BIGINT) AS cluster_size, c AS n_clusters,"
    "  round(CAST(cc AS DOUBLE) / (SELECT ctot FROM tot), 6) AS cum_cluster_share,"
    "  round(CAST(cd AS DOUBLE) / (SELECT ntot FROM tot), 6) AS cum_doc_share,"
    "  (SELECT gini FROM g) AS gini"
    " FROM cum",
)


def _x105(spark: SparkSession, sf: str) -> DataFrame:
    """Within-source quantile normalization of the x08 quality score:
    each doc's percent_rank (RANK semantics: ties share, = (rank-1)/(n-1))
    among its source's docs — the transform that makes quality thresholds
    comparable ACROSS sources whose raw score distributions differ (a 0.6
    from a boilerplate-heavy crawl is not a 0.6 from curated text). Ranks
    run through sampling._hierarchical_row_number (range shards of the
    rounded score; `source` alone is the lint-banned partition key), then
    collapse to RANK via min-row_number per (source, score). Scores are
    rounded (+1e-9, 6) BEFORE ranking so the order compares identically
    in any engine (the x03/x08 half-grid convention)."""
    docs = read_sf_table(spark, sf, "documents")
    # NULL text has no quality score and NULL source no cohort to
    # normalize within — both filtered on BOTH sides (NULL keys are
    # join-rejecting here but window-partition-preserved in the oracle,
    # so leaving them in diverges cross-engine)
    scored = docs.filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    ).select(
        "doc_id",
        "source",
        F.round(X_text.quality_score("text") + 1e-9, 6).alias("quality"),
    )
    ranked = X_samp._hierarchical_row_number(
        scored,
        ["source"],
        [F.col("quality"), F.col("doc_id")],
        F.floor(F.col("quality") * 64).cast("long"),
        "__rn",
    )
    minrn = ranked.groupBy("source", "quality").agg(
        F.min("__rn").alias("__rank")
    )
    n = scored.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    return (
        ranked.join(minrn, ["source", "quality"])
        .join(F.broadcast(n), "source")
        .select(
            "doc_id",
            "source",
            "quality",
            F.when(F.col("__n") > 1,
                   F.round((F.col("__rank") - 1) / (F.col("__n") - 1), 6))
            .otherwise(F.lit(0.0))
            .alias("pct_rank"),
        )
    )


_register(
    "x105_quality_quantile_norm",
    _x105,
    f"WITH q AS (SELECT doc_id, source, round({_QUALITY_SQL} + 1e-9, 6) AS quality"
    " FROM documents"
    "  WHERE text IS NOT NULL AND source IS NOT NULL)"
    " SELECT doc_id, source, quality,"
    "  round(percent_rank() OVER (PARTITION BY source ORDER BY quality), 6)"
    "   AS pct_rank"
    " FROM q",
)


def _x106(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (RRF, k=60): the
    embedding cosine top-10 (dense leg, x05's operator) fused with an
    n-gram-Jaccard lexical top-10 (sparse leg, posting-list join scoped
    to the query side), fused score = sum over legs of 1/(60 + rank),
    top-5 per query — the standard way to combine rankers with
    incomparable score scales, and the shape of every modern
    hybrid-search stack. A candidate present in one leg only simply
    contributes one term (full-outer fusion join). Per-query windows key
    on query_id (bounded candidates per query); the lexical leg's
    shingle join only explodes the 10-query side, never corpus x corpus."""
    emb = read_indexable_embeddings(spark, sf)
    docs = read_sf_table(spark, sf, "documents")
    r1 = X_sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=10).select(
        "query_id", "neighbor_id", F.col("rank").alias("__r1")
    )
    shc = X_dedup.shingles(docs, "doc_id", "text", k=3)
    szs = shc.groupBy("id").agg(F.count(F.lit(1)).alias("__m"))
    inter = (
        shc.filter(F.col("id") < 10)
        .select(F.col("id").alias("query_id"), "shingle")
        .join(shc.select(F.col("id").alias("neighbor_id"), "shingle"), "shingle")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    jac = (
        inter.join(szs.select(F.col("id").alias("query_id"), F.col("__m").alias("__ma")), "query_id")
        .join(szs.select(F.col("id").alias("neighbor_id"), F.col("__m").alias("__mb")), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (F.col("__i") / (F.col("__ma") + F.col("__mb") - F.col("__i"))).alias("__j"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("__j").desc(), F.col("neighbor_id"))
    r2 = (
        jac.withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= 10)
        .select("query_id", "neighbor_id", "__r2")
    )
    fused = (
        r1.join(r2, ["query_id", "neighbor_id"], "full_outer")
        .withColumn(
            "__s",
            F.coalesce(1.0 / (60 + F.col("__r1")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("__r2")), F.lit(0.0)),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("__s").desc(), F.col("neighbor_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__s"), 6).alias("rrf_score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _x106_sql() -> str:
    cos = _cos_sql("a.v", "b.v")
    return (
        f"WITH {_SHINGLE_SQL},"
        " e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v"
        f"  FROM embeddings WHERE {_EMB_OK}),"
        f" es AS (SELECT a.id AS query_id, b.id AS neighbor_id, {cos} AS cosine"
        "   FROM e a, e b WHERE a.id < 10 AND a.id <> b.id),"
        " r1 AS (SELECT query_id, neighbor_id, rnk AS r1 FROM ("
        "   SELECT query_id, neighbor_id, row_number() OVER ("
        "    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk"
        "   FROM es) WHERE rnk <= 10),"
        " szs AS (SELECT id, count(*) AS m FROM sh GROUP BY 1),"
        " inter AS (SELECT q.id AS query_id, c.id AS neighbor_id, count(*) AS i"
        "   FROM sh q JOIN sh c USING (shingle)"
        "   WHERE q.id < 10 AND q.id <> c.id GROUP BY 1, 2),"
        " jac AS (SELECT query_id, neighbor_id,"
        "   CAST(i AS DOUBLE) / (ma.m + mb.m - i) AS j"
        "  FROM inter JOIN szs ma ON ma.id = query_id"
        "  JOIN szs mb ON mb.id = neighbor_id),"
        " r2 AS (SELECT query_id, neighbor_id, rnk AS r2 FROM ("
        "   SELECT query_id, neighbor_id, row_number() OVER ("
        "    PARTITION BY query_id ORDER BY j DESC, neighbor_id) AS rnk"
        "   FROM jac) WHERE rnk <= 10),"
        " fused AS (SELECT coalesce(r1.query_id, r2.query_id) AS query_id,"
        "   coalesce(r1.neighbor_id, r2.neighbor_id) AS neighbor_id,"
        "   coalesce(1.0 / (60 + r1), 0.0) + coalesce(1.0 / (60 + r2), 0.0) AS s"
        "  FROM r1 FULL OUTER JOIN r2 USING (query_id, neighbor_id))"
        " SELECT query_id, neighbor_id, round(s, 6) AS rrf_score,"
        "  CAST(rank AS BIGINT) AS rank FROM ("
        "  SELECT query_id, neighbor_id, s, row_number() OVER ("
        "   PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank"
        "  FROM fused) WHERE rank <= 5"
    )


_register("x106_rrf_hybrid_search", _x106, _x106_sql())


def _x107(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source embedding isotropy / collapse audit: centroid norm vs
    mean vector norm. A healthy embedding space has a small common-mean
    component (ratio << 1); ratio -> 1 means the source's vectors have
    collapsed toward one direction (dead encoder, templated inputs, or a
    normalization bug) — the DISTRIBUTIONAL complement to x50's
    per-vector hygiene. All dim-grain aggregates: posexplode ->
    (source, dim) centroid cells (sources x dims rows, corpus-size
    independent) + per-vector norms at scan speed; no vector ever
    crosses the wire whole."""
    emb = read_sf_table(spark, sf, "embeddings")
    docs = read_sf_table(spark, sf, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    j = emb.join(docs, "vec_id")
    cells = j.select("source", F.posexplode("embedding").alias("pos", "v"))
    centroid = (
        cells.groupBy("source", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("source")
        .agg(F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("centroid_norm"))
    )
    norms = j.select(
        "source",
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nrm"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.avg("nrm").alias("mean_norm"),
    )
    return norms.join(centroid, "source").select(
        "source",
        "n_vecs",
        F.round(F.col("mean_norm") + 1e-9, 6).alias("mean_norm"),
        F.round(F.col("centroid_norm") + 1e-9, 6).alias("centroid_norm"),
        F.round(F.col("centroid_norm") / F.col("mean_norm") + 1e-9, 6).alias(
            "isotropy_ratio"
        ),
    )


_register(
    "x107_embedding_isotropy",
    _x107,
    "WITH j AS (SELECT d.source, CAST(e.embedding AS DOUBLE[]) AS v"
    "  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),"
    " cells AS (SELECT source, t.pos, v[t.pos] AS val FROM j,"
    "   UNNEST(range(1, len(v) + 1)) AS t(pos)),"
    " cent AS (SELECT source, sqrt(sum(m * m)) AS centroid_norm FROM ("
    "   SELECT source, pos, avg(val) AS m FROM cells GROUP BY 1, 2)"
    "  GROUP BY 1),"
    " nrm AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vecs,"
    "   avg(sqrt(list_dot_product(v, v))) AS mean_norm FROM j GROUP BY 1)"
    " SELECT nrm.source, n_vecs,"
    "  round(mean_norm + 1e-9, 6) AS mean_norm,"
    "  round(centroid_norm + 1e-9, 6) AS centroid_norm,"
    "  round(centroid_norm / mean_norm + 1e-9, 6) AS isotropy_ratio"
    " FROM nrm JOIN cent ON cent.source = nrm.source",
)


def _x108(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-significant-digit audit over the two positive money
    columns — the classic fabricated/synthetic-numbers forensic: natural
    multiplicative data follows P(d) = log10(1 + 1/d); uniform or
    hand-typed data does not. Digit extraction goes through SCALED
    INTEGERS (round(v*100) -> first char of the integer's decimal
    string), not floor(log10): integer->string is bit-identical in every
    engine while log10 of an exact power of ten is a last-ulp lottery.
    One scan per column, 9-cell output grain."""

    def digits(df: DataFrame, col: str, name: str) -> DataFrame:
        d = df.filter(F.col(col) > 0).select(
            F.substring(
                F.round(F.col(col) * 100, 0).cast("long").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        g = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
        tot = g.agg(F.sum("n").alias("__t"))
        return (
            g.crossJoin(F.broadcast(tot))
            .select(
                F.lit(name).alias("column_name"),
                "digit",
                "n",
                F.round(F.col("n") / F.col("__t"), 6).alias("share"),
                F.round(F.log10(1 + 1 / F.col("digit")), 6).alias("benford_share"),
                F.round(
                    F.abs(F.col("n") / F.col("__t") - F.log10(1 + 1 / F.col("digit"))),
                    6,
                ).alias("abs_dev"),
            )
        )

    ev = read_sf_table(spark, sf, "events")
    li = read_sf_table(spark, sf, "lineitem")
    return digits(ev, "value", "events.value").unionByName(
        digits(li, "l_extendedprice", "lineitem.l_extendedprice")
    )


_X108_ONE = (
    " (SELECT '{name}' AS column_name, digit, CAST(count(*) AS BIGINT) AS n,"
    "  round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS share,"
    "  round(log10(1 + 1.0 / digit), 6) AS benford_share,"
    "  round(abs(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE)"
    "   - log10(1 + 1.0 / digit)), 6) AS abs_dev"
    " FROM (SELECT CAST(substr(CAST(CAST(round({col} * 100, 0) AS BIGINT)"
    "    AS VARCHAR), 1, 1) AS INT) AS digit"
    "  FROM {tbl} WHERE {col} > 0) GROUP BY digit)"
)

_register(
    "x108_benford_audit",
    _x108,
    _X108_ONE.format(name="events.value", col='"value"', tbl="events")
    + " UNION ALL "
    + _X108_ONE.format(
        name="lineitem.l_extendedprice", col="l_extendedprice", tbl="lineitem"
    ),
)


def _x109(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation matrix over the four lineitem numerics from
    EXACT integer moments: every column is scaled to integer units
    (cents / percent), the five sums per pair accumulate as
    decimal(38,0) (associative, order-independent — a raw double sum
    differs between engines in its last bits because partitions add in
    different orders), and the only floating arithmetic is the final
    r = (nSxy - SxSy) / sqrt((nSxx - Sx^2)(nSyy - Sy^2)) over identical
    integers. One aggregation pass computes all pairs (profiling's
    standard single-scan trick)."""
    li = read_sf_table(spark, sf, "lineitem")
    cols = {
        "quantity": F.col("l_quantity"),
        "price_c": F.round(F.col("l_extendedprice") * 100, 0),
        "disc_pct": F.round(F.col("l_discount") * 100, 0),
        "tax_pct": F.round(F.col("l_tax") * 100, 0),
    }
    ints = li.select(
        *[c.cast("decimal(38,0)").alias(k) for k, c in cols.items()]
    )
    names = list(cols)
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("__n")]
    for k in names:
        aggs.append(F.sum(F.col(k)).alias(f"s_{k}"))
        aggs.append(F.sum(F.col(k) * F.col(k)).alias(f"ss_{k}"))
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    m = ints.agg(*aggs)
    outs = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            num = (F.col("__n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")).cast("double")
            va = (F.col("__n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast("double")
            vb = (F.col("__n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast("double")
            outs.append(
                F.struct(
                    F.lit(f"{a}~{b}").alias("pair"),
                    F.round(num / F.sqrt(va * vb), 6).alias("pearson_r"),
                )
            )
    return (
        m.select(F.explode(F.array(*outs)).alias("o"))
        .select(F.col("o.pair").alias("pair"), F.col("o.pearson_r").alias("pearson_r"))
    )


def _x109_sql() -> str:
    names = ["quantity", "price_c", "disc_pct", "tax_pct"]
    base = (
        "SELECT CAST(l_quantity AS HUGEINT) AS quantity,"
        " CAST(round(l_extendedprice * 100, 0) AS HUGEINT) AS price_c,"
        " CAST(round(l_discount * 100, 0) AS HUGEINT) AS disc_pct,"
        " CAST(round(l_tax * 100, 0) AS HUGEINT) AS tax_pct FROM lineitem"
    )
    sums = ["CAST(count(*) AS HUGEINT) AS n"]
    for k in names:
        sums.append(f"sum({k}) AS s_{k}")
        sums.append(f"sum({k} * {k}) AS ss_{k}")
    pairs = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            sums.append(f"sum({a} * {b}) AS sp_{a}_{b}")
            pairs.append(
                f"SELECT '{a}~{b}' AS pair,"
                f" round(CAST(n * sp_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
                f" / sqrt(CAST(n * ss_{a} - s_{a} * s_{a} AS DOUBLE)"
                f" * CAST(n * ss_{b} - s_{b} * s_{b} AS DOUBLE)), 6) AS pearson_r"
                " FROM m"
            )
    return (
        f"WITH b AS ({base}), m AS (SELECT {', '.join(sums)} FROM b) "
        + " UNION ALL ".join(pairs)
    )


_register("x109_correlation_matrix", _x109, _x109_sql())


def _a39(spark: SparkSession, sf: str) -> DataFrame:
    """Workload-fairness Gini over per-user scheduled time: the pairwise
    mean-absolute-difference form G = sum_ij |x_i - x_j| / (2 n^2 mu)
    over USER-grain sums (bounded population), so no sorting and no
    cumulative window — a 0 means perfectly even cluster usage, ->1
    means one user owns the queue; the number a capacity/fairness
    scheduler review starts from."""
    q = workload_queries(spark, sf)
    per = q.groupBy("user").agg(F.sum("scheduled_time").alias("x"))
    a = per.select(F.col("x").alias("xa"))
    b = per.select(F.col("x").alias("xb"))
    return (
        a.crossJoin(F.broadcast(b))
        .agg(
            F.countDistinct(F.lit(1)).alias("__one"),
            F.sum(F.abs(F.col("xa") - F.col("xb"))).alias("__sad"),
            F.sum(F.col("xa")).alias("__sx"),
            F.count(F.lit(1)).alias("__n2"),
        )
        .select(
            F.sqrt(F.col("__n2")).cast("long").alias("n_users"),
            F.round(
                F.col("__sad") / (2 * F.sqrt(F.col("__n2")) * F.col("__sx") / F.sqrt(F.col("__n2"))),
                6,
            ).alias("gini"),
        )
    )


_register(
    "a39_workload_gini",
    _a39,
    _ALL_CTES
    + ", per AS (SELECT user_name, sum(scheduled_time) AS x FROM queries"
    "   GROUP BY 1)"
    " SELECT CAST((SELECT count(*) FROM per) AS BIGINT) AS n_users,"
    "  round((SELECT sum(abs(a.x - b.x)) FROM per a, per b)"
    "   / (2.0 * (SELECT count(*) FROM per) * (SELECT sum(x) FROM per)), 6)"
    "   AS gini",
)


def _x110(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps-law vocabulary-growth exponent per source: V(n) ~ K * n^beta
    estimated from four id-range prefixes (25/50/75/100% of the doc_id
    span). beta near 1 = every doc brings new vocabulary (high novelty /
    noisy tokens); beta near 0 = closed vocabulary (templates) — the
    growth-curve refinement of x58's coverage snapshot and x82's
    first-seen accounting. Prefixes are ID-RANGE cuts (no global rank
    window); each gram contributes through its min-doc_id first
    appearance, so the whole curve is ONE vocabulary-grain aggregate +
    conditional sums; the 4-point log-log least squares is closed-form
    column arithmetic on the wide row (identical expression tree in both
    engines — no order-dependent float summation)."""
    docs = read_sf_table(spark, sf, "documents")
    mx = docs.groupBy("source").agg(F.max("doc_id").alias("__mx"))
    toks = docs.select(
        "source", "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    first = toks.groupBy("source", "w").agg(F.min("doc_id").alias("__fd"))
    fj = first.join(F.broadcast(mx), "source")
    dj = docs.select("source", "doc_id").join(F.broadcast(mx), "source")

    def _cut(i: int):
        return F.floor(F.col("__mx") * i / 4)

    v = fj.groupBy("source").agg(
        *[
            F.sum((F.col("__fd") <= _cut(i)).cast("long")).alias(f"v{i}")
            for i in (1, 2, 3, 4)
        ]
    )
    n = dj.groupBy("source").agg(
        *[
            F.sum((F.col("doc_id") <= _cut(i)).cast("long")).alias(f"n{i}")
            for i in (1, 2, 3, 4)
        ]
    )
    # the log-log fit needs all four prefix points positive: a source
    # whose smallest prefix holds no docs or no vocabulary (possible
    # when its doc_ids cluster at the top of the id range) has an
    # undefined curve — dropped on BOTH sides (DuckDB ln(0) throws;
    # v/n are nondecreasing in i, so v1/n1 > 0 covers all four)
    wide = v.join(n, "source").filter((F.col("v1") > 0) & (F.col("n1") > 0))
    xs = [F.log(F.col(f"n{i}")) for i in (1, 2, 3, 4)]
    ys = [F.log(F.col(f"v{i}")) for i in (1, 2, 3, 4)]
    sx = xs[0] + xs[1] + xs[2] + xs[3]
    sy = ys[0] + ys[1] + ys[2] + ys[3]
    sxy = sum((x * y for x, y in zip(xs, ys)), F.lit(0.0))
    sxx = sum((x * x for x in xs), F.lit(0.0))
    beta = (4 * sxy - sx * sy) / (4 * sxx - sx * sx)
    return wide.select(
        "source",
        F.col("n4").alias("n_docs"),
        F.col("v4").alias("vocab_full"),
        F.round(beta + 1e-9, 6).alias("heaps_beta"),
    )


def _x110_sql() -> str:
    cuts = {i: f"CAST(floor(mx * {i} / 4.0) AS BIGINT)" for i in (1, 2, 3, 4)}
    vsum = ", ".join(
        f"CAST(sum(CASE WHEN fd <= {c} THEN 1 ELSE 0 END) AS BIGINT) AS v{i}"
        for i, c in cuts.items()
    )
    nsum = ", ".join(
        f"CAST(sum(CASE WHEN doc_id <= {c} THEN 1 ELSE 0 END) AS BIGINT) AS n{i}"
        for i, c in cuts.items()
    )
    xs = [f"ln(n{i})" for i in (1, 2, 3, 4)]
    ys = [f"ln(v{i})" for i in (1, 2, 3, 4)]
    sx = " + ".join(xs)
    sy = " + ".join(ys)
    sxy = " + ".join(f"{x} * {y}" for x, y in zip(xs, ys))
    sxx = " + ".join(f"{x} * {x}" for x in xs)
    return (
        r"WITH mxs AS (SELECT source, max(doc_id) AS mx FROM documents"
        "  GROUP BY 1),"
        " toks AS (SELECT d.source, d.doc_id, t.w FROM documents d,"
        r"   UNNEST(string_split_regex(trim(d.text), '\s+')) AS t(w)"
        "  WHERE t.w <> ''),"
        " first AS (SELECT source, w, min(doc_id) AS fd FROM toks GROUP BY 1, 2),"
        f" v AS (SELECT f.source, {vsum} FROM first f"
        "   JOIN mxs ON mxs.source = f.source GROUP BY 1),"
        f" n AS (SELECT d.source, {nsum} FROM documents d"
        "   JOIN mxs ON mxs.source = d.source GROUP BY 1)"
        " SELECT v.source, n4 AS n_docs, v4 AS vocab_full,"
        f"  round((4 * ({sxy}) - ({sx}) * ({sy}))"
        f"   / (4 * ({sxx}) - ({sx}) * ({sx})) + 1e-9, 6) AS heaps_beta"
        " FROM v JOIN n ON n.source = v.source"
        " WHERE v1 > 0 AND n1 > 0"
    )


_register("x110_heaps_law", _x110, _x110_sql())


def _a40(spark: SparkSession, sf: str) -> DataFrame:
    """Little's-law audit per hour: measured average concurrency
    L = busy_seconds/3600 (exact interval-clip accounting, queries
    exploded over the <= 2 hour buckets they span) against offered load
    lambda*W = sum of starters' elapsed / 3600. ratio -> 1 in steady
    state; sustained deviation flags boundary flux / load imbalance —
    the queueing-theory sanity check a capacity review runs against a36's
    concurrency profile. Explode fan-out is bounded by max elapsed /
    3600 + 1 (a plan constant), never corpus-sized."""
    q = workload_queries(spark, sf).select(
        "query_ts",
        F.col("elapsed_time").alias("el"),
        (F.col("query_ts").cast("double") + F.col("elapsed_time")).alias("__end"),
    )
    spans = q.select(
        "query_ts",
        "el",
        "__end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("query_ts")),
                F.date_trunc("hour", F.col("__end").cast("timestamp")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    clip = spans.select(
        "bucket",
        (
            F.least(F.col("__end"), F.col("bucket").cast("double") + 3600)
            - F.greatest(F.col("query_ts").cast("double"), F.col("bucket").cast("double"))
        ).alias("__busy"),
    )
    busy = clip.groupBy("bucket").agg(F.sum("__busy").alias("busy_s"))
    starters = q.groupBy(F.date_trunc("hour", "query_ts").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("arrivals"),
        F.sum("el").alias("offered_s"),
    )
    return (
        starters.join(busy, "bucket", "left")
        .select(
            "bucket",
            "arrivals",
            F.round("offered_s", 6).alias("offered_s"),
            F.round("busy_s", 6).alias("busy_s"),
            F.round(F.col("busy_s") / F.col("offered_s"), 6).alias("littles_ratio"),
        )
    )


_register(
    "a40_littles_law",
    _a40,
    _ALL_CTES
    + ", iv AS (SELECT query_ts, elapsed_time AS el,"
    "   epoch(query_ts) + elapsed_time AS e FROM queries),"
    " spans AS (SELECT query_ts, el, e,"
    "   date_trunc('hour', query_ts) + to_seconds(3600 * t.k) AS bucket"
    "  FROM iv, UNNEST(range(0, CAST(floor(epoch(date_trunc('hour',"
    "    to_timestamp(e))) - epoch(date_trunc('hour', query_ts))) / 3600"
    "    AS BIGINT) + 1)) AS t(k)),"
    " clip AS (SELECT bucket,"
    "   least(e, epoch(bucket) + 3600) - greatest(epoch(query_ts),"
    "    epoch(bucket)) AS busy FROM spans),"
    " busy AS (SELECT bucket, sum(busy) AS busy_s FROM clip GROUP BY 1),"
    " st AS (SELECT date_trunc('hour', query_ts) AS bucket,"
    "   CAST(count(*) AS BIGINT) AS arrivals, sum(el) AS offered_s"
    "  FROM iv GROUP BY 1)"
    " SELECT st.bucket, arrivals, round(offered_s, 6) AS offered_s,"
    "  round(busy_s, 6) AS busy_s,"
    "  round(busy_s / offered_s, 6) AS littles_ratio"
    " FROM st LEFT JOIN busy ON busy.bucket = st.bucket",
)


def _s16(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming hot-key monitor with COUNT-MIN state: the sketch cells
    (depth x width, CONSTANT regardless of key cardinality — the reason
    to sketch instead of s13-style per-key state when keys are unbounded:
    IPs, digests, session tokens) accumulate as a complete-mode streaming
    aggregation; the drained cells then answer a THRESHOLD heavy-hitter
    question batch-side: est >= T is a provably COMPLETE candidate set
    (CMS only overestimates), exact-count candidates, keep n >= T.
    Threshold semantics — not top-k — because completeness is
    unconditional: x53's certified top-k needs a Zipfian key law (its
    tokens), while near-uniform traffic ties at the k-th count and no
    margin can certify it; thresholds have no such cliff. The expected
    output is hash-free, so the oracle is plain SQL."""
    width, depth, threshold = 8192, 4, 85
    ev = stream_sf_table(spark, sf, "events")
    terms = ev.select(F.col("user_id").cast("string").alias("term"))
    cells = X_sk.countmin_sketch(terms, "term", width=width, depth=depth, mode="xxhash64")
    sketch = drain(cells, output_mode="complete", partitions=8)

    evb = read_sf_table(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("term")
    )
    vocab = evb.distinct()
    est = X_sk.cms_estimate(sketch, vocab, "term", width=width, depth=depth, mode="xxhash64")
    cand = est.filter(F.col("est") >= threshold).select("term")
    exact = (
        evb.join(F.broadcast(cand), on="term", how="left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return exact.filter(F.col("n") >= threshold).select(
        F.col("term").alias("user_id"), "n"
    )


_register(
    "s16_stream_hotkeys",
    _s16,
    "SELECT CAST(user_id AS VARCHAR) AS user_id,"
    " CAST(count(*) AS BIGINT) AS n"
    " FROM events GROUP BY 1 HAVING count(*) >= 85",
)


def _x111(spark: SparkSession, sf: str) -> DataFrame:
    """Text↔embedding consistency audit: for every ground-truth-ish text
    near-dup pair (the shared x02 LSH candidates), the embedding cosine
    of the same two ids — the sanity check that the embedding model
    actually agrees with textual duplication (a near-dup pair with low
    cosine means the encoder missed it, and x33-style embedding dedup
    would UNDER-delete; systematically low cosines flag a stale or
    misnormalized embedding column before anyone trusts ANN dedup).
    Candidate-scoped: two broadcast-free equi-joins on the pair ids,
    never pairs × corpus."""
    pairs = shared_lsh_pairs(spark, sf)
    emb = read_sf_table(spark, sf, "embeddings")
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                X_sim.cosine_expr(F.col("__va"), F.col("__vb")) + 1e-9, 6
            ).alias("emb_cosine"),
        )
    )


_register(
    "x111_dup_embedding_consistency",
    _x111,
    f"WITH {_SHINGLE_SQL}, {_lsh_pairs_sql('pairs')},"
    " e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v"
    "  FROM embeddings)"
    " SELECT id_a, id_b,"
    f"  round({_cos_sql('ea.v', 'eb.v')} + 1e-9, 6) AS emb_cosine"
    " FROM pairs JOIN e ea ON ea.id = id_a JOIN e eb ON eb.id = id_b",
)


def _positioned_words(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, w): one row per whitespace token, pos from 0."""
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "w"),
    )


def _words_md5() -> Column:
    """md5 of a group's words `w` joined by spaces in `pos` order
    (collect_list order is partition-merge-dependent, so sort first)."""
    return F.md5(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s.getField("w"),
            ),
            " ",
        )
    )


def _cdc_segments(docs: DataFrame) -> DataFrame:
    """x112's content-defined chunks at token grain: (doc_id, pos, w) with
    `chunk_id`, where a chunk opens after every word 4-gram whose md5
    prefix is 0 mod 16."""
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    toks = _positioned_words(docs).withColumn(
        "__g4",
        F.concat_ws(
            " ", "w", F.lead("w", 1).over(wdoc), F.lead("w", 2).over(wdoc),
            F.lead("w", 3).over(wdoc),
        ),
    ).withColumn(
        "__brk",
        (
            (F.conv(F.substring(F.md5("__g4"), 1, 4), 16, 10) % 16 == 0)
            & (F.lead("w", 3).over(wdoc).isNotNull())
        ).cast("long"),
    )
    return toks.withColumn(
        "chunk_id",
        F.coalesce(
            F.sum("__brk").over(wdoc.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )


# x112's chunks in SQL: CTE `s(doc_id, pos, wd, chunk_id)`
_CDC_SQL = (
    r"t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w"
    "  FROM documents),"
    " g AS (SELECT doc_id, i.pos, w[i.pos] AS wd,"
    "   CASE WHEN i.pos + 3 <= len(w) THEN"
    "    array_to_string(w[i.pos:i.pos+3], ' ') END AS g4"
    "  FROM t, UNNEST(range(1, len(w) + 1)) AS i(pos)),"
    " b AS (SELECT doc_id, pos, wd,"
    "   CASE WHEN g4 IS NOT NULL AND"
    "    CAST(('0x' || substr(md5(g4), 1, 4)) AS BIGINT) % 16 = 0"
    "    THEN 1 ELSE 0 END AS brk"
    "  FROM g),"
    " s AS (SELECT doc_id, pos, wd,"
    "   coalesce(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos"
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id"
    "  FROM b)"
)


def _x112(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking (storage-dedup style): a chunk boundary
    opens wherever md5(word-4-gram) % 16 == 0, so boundaries move WITH
    the content — insert one word near the head of a doc and only the
    chunk containing the edit changes its digest, where x24's fixed-size
    chunking re-digests everything downstream (the whole point of CDC:
    rsync/LBFS/backup dedup, and incremental re-embedding of edited
    docs). Output is chunk grain: (doc_id, chunk_id, n_tokens,
    chunk_md5). Expected chunk length is the modulus (16 words); the
    segment id is a running boundary count over a doc-keyed window
    (corpus-cardinality key, lint-fine)."""
    seg = _cdc_segments(read_sf_table(spark, sf, "documents"))
    return seg.groupBy("doc_id", "chunk_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        _words_md5().alias("chunk_md5"),
    )


_register(
    "x112_cdc_chunking",
    _x112,
    f"WITH {_CDC_SQL}"
    " SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,"
    "  CAST(count(*) AS BIGINT) AS n_tokens,"
    "  md5(string_agg(wd, ' ' ORDER BY pos)) AS chunk_md5"
    " FROM s GROUP BY 1, 2",
)


def _x113(spark: SparkSession, sf: str) -> DataFrame:
    """Code-switch / language-mixing detector: per doc, the top-2 marker
    language scores and their margin — a doc whose runner-up language
    scores within 0.05 of the winner is mixed-language (or the detector
    is guessing), the docs a monolingual pipeline silently mangles and a
    router should fork. Unpivots the 5 scores to (doc, lang) rows and
    ranks inside a doc-keyed window (corpus-cardinality key); ties break
    by the same en>de>fr>es>zh precedence as x09's argmax. The marker
    battery is CPU-dense per row — rows repartition to core-count tasks
    when the scan arrives as fewer splits (sources.min_row_parallelism;
    structural no-op at production file counts)."""
    docs = min_row_parallelism(read_sf_table(spark, sf, "documents"))
    scores = X_text.language_scores(F.col("text"))
    order = list(scores)
    pairs = F.array(
        *[
            F.struct(
                F.lit(lang).alias("lang"),
                scores[lang].alias("r"),
                F.lit(i).alias("prio"),
            )
            for i, lang in enumerate(order)
        ]
    )
    ex = docs.select("doc_id", F.explode(pairs).alias("s")).select(
        "doc_id",
        F.col("s.lang").alias("lang"),
        F.col("s.r").alias("r"),
        F.col("s.prio").alias("prio"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("r").desc(), F.col("prio"))
    ranked = ex.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= 2)
    top = ranked.groupBy("doc_id").agg(
        F.max(F.when(F.col("__rk") == 1, F.col("lang"))).alias("top_lang"),
        F.max(F.when(F.col("__rk") == 1, F.col("r"))).alias("__r1"),
        F.max(F.when(F.col("__rk") == 2, F.col("lang"))).alias("second_lang"),
        F.max(F.when(F.col("__rk") == 2, F.col("r"))).alias("__r2"),
    )
    return top.select(
        "doc_id",
        "top_lang",
        "second_lang",
        F.round(F.col("__r1") - F.col("__r2") + 1e-9, 6).alias("margin"),
        (F.col("__r1") - F.col("__r2") < 0.05).alias("is_mixed"),
    )


def _x113_sql() -> str:
    structs = ", ".join(
        f"{{'lang': '{lang}', 'r': ({_RATIO_SQL.format(lst=lst)}), 'prio': {i}}}"
        for i, (lang, lst) in enumerate(_X09_LISTS.items())
    )
    return (
        f"WITH ex AS (SELECT doc_id, u.s['lang'] AS lang, CAST(u.s['r'] AS DOUBLE)"
        "   AS r, CAST(u.s['prio'] AS INT) AS prio"
        f"  FROM documents, UNNEST([{structs}]) AS u(s)),"
        " rk AS (SELECT doc_id, lang, r,"
        "   row_number() OVER (PARTITION BY doc_id ORDER BY r DESC, prio) AS k"
        "  FROM ex),"
        " top AS (SELECT doc_id,"
        "   max(CASE WHEN k = 1 THEN lang END) AS top_lang,"
        "   max(CASE WHEN k = 1 THEN r END) AS r1,"
        "   max(CASE WHEN k = 2 THEN lang END) AS second_lang,"
        "   max(CASE WHEN k = 2 THEN r END) AS r2"
        "  FROM rk WHERE k <= 2 GROUP BY 1)"
        " SELECT doc_id, top_lang, second_lang,"
        "  round(r1 - r2 + 1e-9, 6) AS margin, (r1 - r2 < 0.05) AS is_mixed"
        " FROM top"
    )


_register("x113_language_mixing", _x113, _x113_sql())


def _x114(spark: SparkSession, sf: str) -> DataFrame:
    """Corrupted-SECTION detector: 16-token rolling mean of per-token
    -ln p(tok) under the corpus unigram LM, per doc — x26 scores whole
    documents, but a mostly-good doc with one pasted gibberish block
    passes a doc-level filter and still poisons training; the worst
    rolling window finds the block. Per-token logprobs come from one
    vocabulary-grain join (x26's shape); the rolling window is doc-keyed
    (corpus-cardinality partition key). Output: (doc_id, n_tokens,
    n_windows, worst_neg_logprob)."""
    docs = read_sf_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(F.split(F.trim("text"), r"\s+"), lambda t: F.lower(t))
        ).alias("pos", "term"),
    ).filter(F.col("term") != "")
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.select(F.sum("cnt").alias("__total"))
    lp = (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", "pos", (-F.log(F.col("cnt") / F.col("__total"))).alias("__lp")
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-15, 0)
    wm = lp.withColumn("__wm", F.avg("__lp").over(w))
    return wm.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum((F.col("pos") >= 15).cast("long")).alias("n_windows"),
        F.round(
            F.max(F.when(F.col("pos") >= 15, F.col("__wm"))) + 1e-9, 6
        ).alias("worst_neg_logprob"),
    )


_register(
    "x114_gibberish_spans",
    _x114,
    r"WITH toks AS (SELECT doc_id, t.p - 1 AS pos, lower(ws[t.p]) AS term"
    r"  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws"
    "   FROM documents) d,"
    "  UNNEST(range(1, len(ws) + 1)) AS t(p)"
    "  WHERE ws[t.p] <> ''),"
    " vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),"
    " tot AS (SELECT sum(cnt) AS total FROM vocab),"
    " lp AS (SELECT doc_id, pos,"
    "   -ln(cnt / (SELECT total FROM tot)) AS l"
    "  FROM toks JOIN vocab USING (term)),"
    " wm AS (SELECT doc_id, pos,"
    "   avg(l) OVER (PARTITION BY doc_id ORDER BY pos"
    "    ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS m"
    "  FROM lp)"
    " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,"
    "  CAST(sum(CASE WHEN pos >= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_windows,"
    "  round(max(CASE WHEN pos >= 15 THEN m END) + 1e-9, 6)"
    "   AS worst_neg_logprob"
    " FROM wm GROUP BY 1",
)


def _a41(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly periodicity heatmap: (day-of-week x hour-of-day) cells of
    query count, scheduled-time mass and mean input size — a01-a06 show
    trends along one axis; capacity planning needs the WEEKLY cycle (is
    Monday 09:00 the peak, is the weekend batch window real). 168-cell
    output grain, one map-side-combined aggregate."""
    q = workload_queries(spark, sf)
    return (
        q.groupBy(
            F.dayofweek("query_ts").cast("long").alias("dow"),
            F.hour("query_ts").cast("long").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.round(F.sum("scheduled_time") / 86400.0, 6).alias("scheduled_days"),
            F.round(F.avg("input_size") / 1e9, 6).alias("avg_input_gb"),
        )
    )


_register(
    "a41_weekly_heatmap",
    _a41,
    _ALL_CTES
    + "SELECT CAST(dayofweek(query_ts) + 1 AS BIGINT) AS dow,"
    "  CAST(hour(query_ts) AS BIGINT) AS hour,"
    "  CAST(count(*) AS BIGINT) AS n_queries,"
    "  round(sum(scheduled_time) / 86400.0, 6) AS scheduled_days,"
    "  round(avg(input_size) / 1e9, 6) AS avg_input_gb"
    " FROM queries GROUP BY 1, 2",
)


def _x115(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar-quantization error audit per source: reconstruct each
    vector from its x36 int8 codes (x_hat = code/255*(mx-mn)+mn) and
    report max absolute component error, RMSE, and reconstructed-cosine
    floor — the acceptance numbers that justify (or veto) shipping the
    8-bit index before x44-style recall evals. Codes and reconstruction
    use the SAME quantize_expr as the serving path, so this audits the
    deployed code path, not a lookalike; global (mn, mx) codebook is one
    broadcast row, everything else scan-grain zip_with arithmetic."""
    emb = read_sf_table(spark, sf, "embeddings")
    docs = read_sf_table(spark, sf, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    bounds = X_sim.scalar_quantization_bounds(emb)
    j = emb.join(docs, "vec_id").crossJoin(F.broadcast(bounds))
    codes = X_sim.quantize_expr(F.col("embedding"), F.col("mn"), F.col("mx"))
    recon = F.transform(
        codes, lambda c: c.cast("double") / 255.0 * (F.col("mx") - F.col("mn")) + F.col("mn")
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    err = F.zip_with(v, recon, lambda a, b: F.abs(a - b))
    se = F.aggregate(
        F.zip_with(v, recon, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cosr = X_sim.cosine_expr(v, recon)
    per = j.select(
        "source",
        F.array_max(err).alias("__mx_err"),
        (se / F.size("embedding")).alias("__mse"),
        cosr.alias("__cos"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.max("__mx_err") + 1e-9, 6).alias("max_abs_err"),
        F.round(F.sqrt(F.avg("__mse")) + 1e-9, 6).alias("rmse"),
        F.round(F.min("__cos") + 1e-9, 6).alias("min_recon_cosine"),
    )


_register(
    "x115_quantization_audit",
    _x115,
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
    " b AS (SELECT min(list_min(v)) AS mn, max(list_max(v)) AS mx FROM e),"
    " r AS (SELECT d.source, e.v,"
    "   list_transform(e.v, x -> round((x - b.mn) / (b.mx - b.mn) * 255.0"
    "     + 1e-9) / 255.0 * (b.mx - b.mn) + b.mn) AS rv"
    "  FROM e JOIN documents d ON d.doc_id = e.vec_id, b),"
    " per AS (SELECT source,"
    "   list_max(list_transform(list_zip(v, rv),"
    "    p -> abs(p[1] - p[2]))) AS mx_err,"
    "   list_sum(list_transform(list_zip(v, rv),"
    "    p -> (p[1] - p[2]) * (p[1] - p[2]))) / len(v) AS mse,"
    f"   {_cos_sql('v', 'rv')} AS cosr"
    "  FROM r)"
    " SELECT source, CAST(count(*) AS BIGINT) AS n_vecs,"
    "  round(max(mx_err) + 1e-9, 6) AS max_abs_err,"
    "  round(sqrt(avg(mse)) + 1e-9, 6) AS rmse,"
    "  round(min(cosr) + 1e-9, 6) AS min_recon_cosine"
    " FROM per GROUP BY 1",
)


def _p14(spark: SparkSession, sf: str) -> DataFrame:
    """Per-USER re-identification risk: each record's risk is 1/size of
    its (event_type, day) quasi-identifier class — p10 profiles the
    corpus; this names WHO is exposed (max and mean record risk, and how
    many of the user's records sit in classes smaller than 10 — p04's
    suppression bound). Class sizes are one cell-grain aggregate joined
    back at record grain; output is user-bounded. The release decision
    ("generalize day->week for these users") starts from this table."""
    ev = read_sf_table(spark, sf, "events")
    cells = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("__d")
    ).agg(F.count(F.lit(1)).alias("__cs"))
    rec = ev.select(
        "user_id", "event_type", F.date_trunc("day", "ts").alias("__d")
    ).join(cells, ["event_type", "__d"])
    return rec.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.round(F.max(1.0 / F.col("__cs")) + 1e-9, 6).alias("max_risk"),
        F.round(F.avg(1.0 / F.col("__cs")) + 1e-9, 6).alias("mean_risk"),
        F.sum((F.col("__cs") < 10).cast("long")).alias("n_below_k10"),
    )


_register(
    "p14_record_risk",
    _p14,
    "WITH cells AS (SELECT event_type, date_trunc('day', ts) AS d,"
    "   count(*) AS cs FROM events GROUP BY 1, 2),"
    " rec AS (SELECT e.user_id, c.cs FROM events e JOIN cells c"
    "  ON c.event_type = e.event_type AND c.d = date_trunc('day', e.ts))"
    " SELECT user_id, CAST(count(*) AS BIGINT) AS n_records,"
    "  round(max(1.0 / cs) + 1e-9, 6) AS max_risk,"
    "  round(avg(1.0 / cs) + 1e-9, 6) AS mean_risk,"
    "  CAST(sum(CASE WHEN cs < 10 THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS n_below_k10"
    " FROM rec GROUP BY 1",
)


def _x116(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-one-source-out (jackknife) influence on the corpus mean
    quality score: for each source, what the corpus mean becomes WITHOUT
    it — the attribution step after x38's triage ("dropping crawl-X
    moves corpus quality +0.01, dropping forum-Y −0.004"), computed
    exactly from per-source sums against broadcast grand totals (no
    second corpus pass per source, which is the naive N-passes trap).
    Sums are of 6-dp-rounded per-doc scores, so the subtraction
    (S - s_i)/(N - n_i) is engine-stable arithmetic on identical
    doubles."""
    docs = read_sf_table(spark, sf, "documents")
    scored = docs.select(
        "source", F.round(X_text.quality_score("text") + 1e-9, 6).alias("q")
    )
    per = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"), F.sum("q").alias("__s")
    )
    tot = per.agg(
        F.sum("n_docs").alias("__nt"), F.sum("__s").alias("__st")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(F.col("__s") / F.col("n_docs") + 1e-9, 6).alias("source_mean"),
            F.round(
                (F.col("__st") - F.col("__s")) / (F.col("__nt") - F.col("n_docs"))
                + 1e-9,
                6,
            ).alias("mean_without"),
            F.round(
                F.col("__st") / F.col("__nt")
                - (F.col("__st") - F.col("__s")) / (F.col("__nt") - F.col("n_docs"))
                + 1e-9,
                6,
            ).alias("influence"),
        )
    )


def _x116_sql() -> str:
    qual = f"round({_QUALITY_SQL} + 1e-9, 6)"
    return (
        f"WITH sc AS (SELECT source, {qual} AS q FROM documents),"
        " per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
        "   sum(q) AS s FROM sc GROUP BY 1),"
        " tot AS (SELECT sum(n_docs) AS n, sum(s) AS st FROM per)"
        " SELECT source, n_docs,"
        "  round(s / n_docs + 1e-9, 6) AS source_mean,"
        "  round((st - s) / (n - n_docs) + 1e-9, 6) AS mean_without,"
        "  round(st / n - (st - s) / (n - n_docs) + 1e-9, 6) AS influence"
        " FROM per, tot"
    )


_register("x116_source_influence", _x116, _x116_sql())


def _x117(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order EFFECTIVENESS measurement — x69 emits the layout key;
    this measures what it buys: bucket rows by key range (the row-group
    analogue), take per-bucket min/max of each dimension (exactly the
    stats parquet footers carry), and report the mean span fraction per
    (layout, column) — the fraction of the value domain a point query
    must scan. The naive user-sorted layout prunes user_id (~1/16 span)
    but never value (span 1.0); the Morton layout holds BOTH near 1/4 at
    64 buckets — the quantitative case for multi-dim clustering, as
    measured numbers instead of a design claim. All integer min/max
    aggregates at bucket grain."""
    ev = read_sf_table(spark, sf, "events")
    q = ev.select(
        (F.col("user_id") % 16).alias("ub"),
        F.least(F.lit(15), (F.col("value") / 32.0).cast("long")).alias("vb"),
    )
    zkey = X_prof.zorder_key(["ub", "vb"], bits=4)
    layouts = q.select(
        "ub", "vb", (zkey / F.lit(4)).cast("long").alias("__bz")
    )

    def spans(df, bucket_col, layout):
        g = df.groupBy(F.col(bucket_col).alias("__b")).agg(
            F.min("ub").alias("u0"), F.max("ub").alias("u1"),
            F.min("vb").alias("v0"), F.max("vb").alias("v1"),
        )
        return g.agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.round(F.avg((F.col("u1") - F.col("u0") + 1) / 16.0), 6).alias(
                "user_span_frac"
            ),
            F.round(F.avg((F.col("v1") - F.col("v0") + 1) / 16.0), 6).alias(
                "value_span_frac"
            ),
        )

    zorder = spans(layouts, "__bz", "zorder_64buckets")
    naive = spans(q.withColumn("__bu", F.col("ub")), "__bu", "user_sorted_16buckets")
    return zorder.unionByName(naive)


_register(
    "x117_zorder_effectiveness",
    _x117,
    "WITH q AS (SELECT user_id % 16 AS ub,"
    "   least(15, CAST(trunc(\"value\" / 32.0) AS BIGINT)) AS vb FROM events),"
    f" z AS (SELECT ub, vb, CAST(({_X69_ZKEY}) AS BIGINT) // 4 AS b FROM q),"
    " gz AS (SELECT b, min(ub) AS u0, max(ub) AS u1, min(vb) AS v0,"
    "   max(vb) AS v1 FROM z GROUP BY 1),"
    " gn AS (SELECT ub AS b, min(ub) AS u0, max(ub) AS u1, min(vb) AS v0,"
    "   max(vb) AS v1 FROM q GROUP BY 1)"
    " SELECT 'zorder_64buckets' AS layout,"
    "  CAST(count(*) AS BIGINT) AS n_buckets,"
    "  round(avg((u1 - u0 + 1) / 16.0), 6) AS user_span_frac,"
    "  round(avg((v1 - v0 + 1) / 16.0), 6) AS value_span_frac FROM gz"
    " UNION ALL"
    " SELECT 'user_sorted_16buckets', CAST(count(*) AS BIGINT),"
    "  round(avg((u1 - u0 + 1) / 16.0), 6),"
    "  round(avg((v1 - v0 + 1) / 16.0), 6) FROM gn",
)


def _x118(spark: SparkSession, sf: str) -> DataFrame:
    """Shared-chunk containment pairs over x112's content-defined chunks
    — the storage-dedup question "which files share blocks" applied to
    documents: doc pairs sharing >= 2 chunk digests, with the shared
    count. Chunk-grain inverted index; postings are df-bounded
    (2 <= df <= 50 — a chunk in half the corpus is boilerplate x90/x42
    already profile, and an unbounded posting list is the x34 quadratic)
    so pair fan-out is sum-of-df^2 over CAPPED dfs. Catches partial
    plagiarism/mirroring that whole-doc digests miss and span-shingles
    (x47) price at much finer grain."""
    seg = _cdc_segments(read_sf_table(spark, sf, "documents"))
    chunks = seg.groupBy("doc_id", "chunk_id").agg(
        _words_md5().alias("h")
    ).select("doc_id", "h").distinct()
    dfreq = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    keep = chunks.join(
        dfreq.filter((F.col("__df") >= 2) & (F.col("__df") <= 50)), "h"
    )
    a = keep.select(F.col("doc_id").alias("doc_a"), "h")
    b = keep.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_chunks"))
        .filter(F.col("n_shared_chunks") >= 2)
    )


_register(
    "x118_shared_chunks",
    _x118,
    f"WITH {_CDC_SQL},"
    " ch AS (SELECT DISTINCT doc_id,"
    "   md5(string_agg(wd, ' ' ORDER BY pos)) AS h"
    "  FROM s GROUP BY doc_id, chunk_id),"
    " dfq AS (SELECT h FROM (SELECT h, count(*) AS df FROM ch GROUP BY 1)"
    "  WHERE df BETWEEN 2 AND 50)"
    " SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
    "  CAST(count(*) AS BIGINT) AS n_shared_chunks"
    " FROM ch a JOIN dfq USING (h) JOIN ch b USING (h)"
    " WHERE a.doc_id < b.doc_id"
    " GROUP BY 1, 2 HAVING count(*) >= 2",
)


def _x119(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenizer training (textstats.bpe_merges): the first 8 merge
    rules learned from the corpus word-frequency table — tokenizer
    construction as engine aggregates. The oracle replays all 8
    sequential rounds in SQL with the IDENTICAL string-accumulator
    greedy-left merge (list_reduce ↔ F.aggregate), so a single
    divergence anywhere in the sequential training trajectory is a hash
    mismatch — the strongest falsifiability an iterative algorithm can
    get. Scale: iteration state is the (top_words)-row frequency table;
    the corpus is touched once."""
    rows = shared_bpe_merges(spark, sf)
    return spark.createDataFrame(
        rows, "round long, left_sym string, right_sym string,"
        " merged string, pair_count long"
    )


_BPE_CACHE: dict[tuple[str, str], list] = {}


def shared_bpe_merges(spark: SparkSession, sf: str) -> list:
    """The 8-rule BPE merge table (k=8, top_words=500), trained ONCE per
    (session, sf) — x119 returns it as a frame and x120 applies it to the
    per-source word tables; training twice is pure waste at bench time.
    Driver-side memo (the table is 8 tiny rows, the _cached_adapter
    precedent applied to a non-DataFrame silver); both consumers' oracles
    replay the full training trajectory in SQL, so a stale or corrupted
    cache is a hash mismatch, not a silent wrong answer."""
    key = (spark.sparkContext.applicationId, sf)
    rows = _BPE_CACHE.get(key)
    if rows is None:
        docs = read_sf_table(spark, sf, "documents")
        rows = X_text.bpe_merges(docs, "text", rounds=8, top_words=500)
        _BPE_CACHE[key] = rows
    return rows


def _x119_sql(rounds: int = 8, top_words: int = 500) -> str:
    def join_out(tail: str) -> str:
        return (
            "(CASE WHEN split_part(a, chr(31), 1) = '' THEN " + tail
            + " ELSE split_part(a, chr(31), 1) || ' ' || " + tail + " END)"
        )

    reduce_expr = (
        "trim(replace(list_reduce(list_prepend(chr(31), string_split(syms, ' ')),"
        " (a, s) -> CASE"
        " WHEN split_part(a, chr(31), 2) = '' THEN"
        "  split_part(a, chr(31), 1) || chr(31) || s"
        " WHEN split_part(a, chr(31), 2) = bl AND s = br THEN "
        + join_out("(bl || br)")
        + " || chr(31)"
        " ELSE " + join_out("split_part(a, chr(31), 2)") + " || chr(31) || s END"
        "), chr(31), ' '))"
    )
    ctes = [
        r"w0 AS (SELECT t.w AS w, count(*) AS cnt FROM documents,"
        r" UNNEST(string_split_regex(trim(text), '\s+')) AS t(w)"
        " WHERE regexp_matches(t.w, '^[a-z]+$') GROUP BY 1"
        f" ORDER BY cnt DESC, w LIMIT {top_words})",
        "c0 AS (SELECT array_to_string(string_split_regex(w, ''), ' ')"
        " AS syms, cnt FROM w0)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"p{r} AS (SELECT arr[i.i] || ' ' || arr[i.i+1] AS pair,"
            " sum(cnt) AS pc"
            f" FROM (SELECT string_split(syms, ' ') AS arr, cnt FROM c{r-1}) t,"
            " UNNEST(range(1, len(arr))) AS i(i) GROUP BY 1)"
        )
        ctes.append(
            f"b{r} AS (SELECT pair, pc, split_part(pair, ' ', 1) AS bl,"
            f" split_part(pair, ' ', 2) AS br FROM p{r}"
            " ORDER BY pc DESC, pair LIMIT 1)"
        )
        ctes.append(
            f"c{r} AS (SELECT {reduce_expr} AS syms, cnt FROM c{r-1}, b{r})"
        )
    sel = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, bl AS left_sym, br AS right_sym,"
        f" bl || br AS merged, CAST(pc AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ", ".join(ctes) + " " + sel


_register("x119_bpe_training", _x119, _x119_sql())


def _x120(spark: SparkSession, sf: str) -> DataFrame:
    """True BPE fertility per source: train the 8-rule merge table
    globally (x119), ENCODE every source's word table with the identical
    greedy-left application (textstats.bpe_apply — encode mirrors train
    or the numbers lie), and report subwords-per-word-token — the real
    tokenizer-cost figure x80's regex proxy approximates. Lowercase-alpha
    word grain; fertility = sum(cnt * n_subwords) / sum(cnt), exact
    integer sums."""
    docs = read_sf_table(spark, sf, "documents")
    merges = shared_bpe_merges(spark, sf)
    sw = docs.select(
        "source", F.explode(X_text.tokens("text")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]+$")).groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    enc = X_text.bpe_apply(sw, "w", merges)
    return enc.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_word_tokens"),
        F.sum(F.col("cnt") * F.col("n_subwords")).cast("long").alias("n_subword_tokens"),
        F.round(
            F.sum(F.col("cnt") * F.col("n_subwords")) / F.sum("cnt") + 1e-9, 6
        ).alias("bpe_fertility"),
    )


def _x120_sql() -> str:
    # the x119 training chain verbatim (rules b1..b8 + the reduce step),
    # then a per-(source, word) table encoded through the same 8 rules
    train = _x119_sql(rounds=8, top_words=500)
    ctes = train.split(" UNION ALL ")[0]
    # strip the final SELECT of round 1 to keep only the WITH chain
    with_part = ctes[: ctes.rindex(" SELECT ")]

    def join_out(tail: str) -> str:
        return (
            "(CASE WHEN split_part(a, chr(31), 1) = '' THEN " + tail
            + " ELSE split_part(a, chr(31), 1) || ' ' || " + tail + " END)"
        )

    def reduce_expr(bl: str, br: str) -> str:
        return (
            "trim(replace(list_reduce(list_prepend(chr(31),"
            " string_split(syms, ' ')),"
            " (a, s) -> CASE"
            " WHEN split_part(a, chr(31), 2) = '' THEN"
            "  split_part(a, chr(31), 1) || chr(31) || s"
            f" WHEN split_part(a, chr(31), 2) = {bl} AND s = {br} THEN "
            + join_out(f"({bl} || {br})")
            + " || chr(31)"
            " ELSE " + join_out("split_part(a, chr(31), 2)")
            + " || chr(31) || s END"
            "), chr(31), ' '))"
        )

    parts = [
        with_part,
        r", sw AS (SELECT d.source, t.w AS w, count(*) AS cnt FROM documents d,"
        r" UNNEST(string_split_regex(trim(d.text), '\s+')) AS t(w)"
        " WHERE regexp_matches(t.w, '^[a-z]+$') GROUP BY 1, 2),"
        " e0 AS (SELECT source, cnt,"
        " array_to_string(string_split_regex(w, ''), ' ') AS syms FROM sw)",
    ]
    for r in range(1, 9):
        parts.append(
            f", e{r} AS (SELECT source, cnt,"
            f" {reduce_expr(f'b{r}.bl', f'b{r}.br')} AS syms"
            f" FROM e{r-1}, b{r})"
        )
    parts.append(
        " SELECT source, CAST(sum(cnt) AS BIGINT) AS n_word_tokens,"
        " CAST(sum(cnt * len(string_split(syms, ' '))) AS BIGINT)"
        "  AS n_subword_tokens,"
        " round(sum(cnt * len(string_split(syms, ' ')))"
        "  / CAST(sum(cnt) AS DOUBLE) + 1e-9, 6) AS bpe_fertility"
        " FROM e8 GROUP BY 1"
    )
    return "".join(parts)


_register("x120_bpe_fertility", _x120, _x120_sql())


def _x121(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct-vocabulary estimate per source vs exact, with
    relative error — the register-based mergeable-distinct classic beside
    x75's KMV (HLL: fixed 256-register state, cheapest merges; KMV:
    bottom-k values, supports Jaccard). The engine-portable rank layout
    (md5 hex registers + bin()-length rho) lets the oracle replay the
    SKETCH itself, so the driver checks the estimator pipeline
    bit-for-bit, not just its tolerance."""
    docs = read_sf_table(spark, sf, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    regs = X_sk.hll_registers(toks, "source", "w", p=8)
    est = X_sk.hll_estimate(regs, p=8).withColumnRenamed("g", "source")
    exact = toks.groupBy("source").agg(
        F.countDistinct("w").cast("long").alias("n_exact")
    )
    return est.join(exact, "source").select(
        "source",
        "n_exact",
        F.col("est").alias("hll_est"),
        F.round(F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact") + 1e-9, 6).alias(
            "rel_err"
        ),
    )


def _x121_sql() -> str:
    m = 256
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return (
        r"WITH toks AS (SELECT source, t.w AS w FROM documents,"
        r" UNNEST(string_split_regex(trim(text), '\s+')) AS t(w) WHERE t.w <> ''),"
        " hx AS (SELECT source, w, md5(w) AS h FROM (SELECT DISTINCT source, w FROM toks)),"
        " rr AS (SELECT source,"
        "   CAST(('0x' || substr(h, 1, 2)) AS BIGINT) AS reg,"
        "   CAST(('0x' || substr(h, 3, 4)) AS BIGINT) AS s FROM hx),"
        " rg AS (SELECT source, reg,"
        "   max(CASE WHEN s = 0 THEN 17 ELSE 17 - len(bin(s)) END) AS mx"
        "  FROM rr GROUP BY 1, 2),"
        " fr AS (SELECT g.source, r.range AS reg FROM"
        "   (SELECT DISTINCT source FROM rg) g, range(256) r),"
        " jj AS (SELECT f.source, coalesce(rg.mx, 0) AS mx FROM fr f"
        "   LEFT JOIN rg ON rg.source = f.source AND rg.reg = f.reg),"
        " ag AS (SELECT source, sum(pow(2.0, -mx)) AS z,"
        "   CAST(sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v"
        "  FROM jj GROUP BY 1),"
        f" ee AS (SELECT source, CAST({alpha!r} AS DOUBLE) * 65536.0 / z AS raw, v FROM ag),"
        " es AS (SELECT source,"
        f"  round(CASE WHEN raw < 640 AND v > 0 THEN 256.0 * ln(256.0 / v)"
        "   ELSE raw END + 1e-9, 6) AS hll_est FROM ee),"
        " ex AS (SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS n_exact"
        "  FROM toks GROUP BY 1)"
        " SELECT es.source, n_exact, hll_est,"
        "  round(abs(hll_est - n_exact) / n_exact + 1e-9, 6) AS rel_err"
        " FROM es JOIN ex ON ex.source = es.source"
    )


_register("x121_hll_distinct", _x121, _x121_sql())


def _x122(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup threshold sensitivity curve: from ONE exact prefix-filter
    pass at t=0.5 (x98 — lossless, so every pair >= 0.5 is present with
    its exact score), the pair count and distinct-docs-involved at each
    candidate threshold 0.5..0.9 — the evidence for choosing the dedup
    threshold instead of folklore-0.8. Conditional sums over the pair
    set; no re-run per threshold."""
    pairs = shared_prefix_pairs(spark, sf)
    ts = [0.5, 0.6, 0.7, 0.8, 0.9]
    counts = pairs.agg(
        *[
            F.sum((F.col("jaccard") >= t).cast("long")).alias(f"n_{int(t * 10)}")
            for t in ts
        ]
    )
    ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("id"), "jaccard"
    )
    docs_at = ids.groupBy().agg(
        *[
            F.countDistinct(
                F.when(F.col("jaccard") >= t, F.col("id"))
            ).cast("long").alias(f"d_{int(t * 10)}")
            for t in ts
        ]
    )
    wide = counts.crossJoin(docs_at)
    rows = [
        F.struct(
            F.lit(t).alias("threshold"),
            F.col(f"n_{int(t * 10)}").alias("n_pairs"),
            F.col(f"d_{int(t * 10)}").alias("n_docs_involved"),
        )
        for t in ts
    ]
    return wide.select(F.explode(F.array(*rows)).alias("r")).select(
        F.col("r.threshold").alias("threshold"),
        F.col("r.n_pairs").alias("n_pairs"),
        F.col("r.n_docs_involved").alias("n_docs_involved"),
    )


_register(
    "x122_dedup_threshold_curve",
    _x122,
    r"WITH t0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w"
    "   FROM documents),"
    " tok AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS tok"
    "   FROM t0, UNNEST(range(1, greatest(len(w) - 3, 0) + 1)) AS t(i)),"
    " sz AS (SELECT doc_id, count(*) AS m FROM tok GROUP BY 1),"
    " inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i"
    "   FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id"
    "   GROUP BY 1, 2),"
    " pr AS (SELECT id_a, id_b,"
    "   CAST(i AS DOUBLE) / (sa.m + sb.m - i) AS j"
    "  FROM inter JOIN sz sa ON sa.doc_id = id_a"
    "  JOIN sz sb ON sb.doc_id = id_b"
    "  WHERE CAST(i AS DOUBLE) / (sa.m + sb.m - i) >= 0.5)"
    " SELECT CAST(t.t AS DOUBLE) AS threshold,"
    "  CAST((SELECT count(*) FROM pr WHERE round(j, 6) >= t.t) AS BIGINT)"
    "   AS n_pairs,"
    "  CAST((SELECT count(DISTINCT id) FROM (SELECT id_a AS id, j FROM pr"
    "    UNION ALL SELECT id_b, j FROM pr) u WHERE round(j, 6) >= t.t)"
    "   AS BIGINT)"
    "   AS n_docs_involved"
    " FROM UNNEST([0.5, 0.6, 0.7, 0.8, 0.9]) AS t(t)",
)


def _x123(spark: SparkSession, sf: str) -> DataFrame:
    """2-core of the near-dup graph (graph.kcore_nodes): the density
    refinement above triangles — nodes surviving iterated peeling of
    degree < 2 are the solid template-cluster mass (safe bulk-collapse
    targets); chains and banding stars peel away entirely. Fixpoint
    peeling Spark-side (loud failure if unconverged); the oracle unrolls
    12 synchronous peel rounds as chained CTEs, so the whole peeling
    trajectory is hash-checked."""
    pairs = shared_lsh_pairs(spark, sf)
    return X_graph.kcore_nodes(pairs, k=2, max_rounds=12)


def _x123_sql(k: int = 3, rounds: int = 12) -> str:
    ctes = [
        _SHINGLE_SQL,
        _LSH_BANDS_SQL,
        "e0 AS MATERIALIZED (SELECT DISTINCT a.id AS a, b.id AS b"
        "  FROM bands x JOIN bands y USING (band, band_hash),"
        "  LATERAL (SELECT least(x.id, y.id) AS id) a,"
        "  LATERAL (SELECT greatest(x.id, y.id) AS id) b"
        "  WHERE x.id < y.id)",
    ]
    # MATERIALIZED: DuckDB inlines plain CTEs, and each round references
    # its predecessor three times -> 3^rounds expansion without it
    for r in range(1, rounds + 1):
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT id, count(*) AS dg FROM ("
            f" SELECT a AS id FROM e{r-1} UNION ALL SELECT b FROM e{r-1})"
            " GROUP BY 1)"
        )
        ctes.append(f"k{r} AS MATERIALIZED (SELECT id FROM d{r} WHERE dg >= {k})")
        ctes.append(
            f"e{r} AS MATERIALIZED (SELECT e.a, e.b FROM e{r-1} e"
            f" JOIN k{r} ka ON ka.id = e.a JOIN k{r} kb ON kb.id = e.b)"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT id, CAST(dg AS BIGINT) AS degree FROM ("
        f"  SELECT id, count(*) AS dg FROM (SELECT a AS id FROM e{rounds}"
        f"   UNION ALL SELECT b FROM e{rounds}) GROUP BY 1)"
        f" WHERE dg >= {k}"
    )


_register("x123_dup_kcore", _x123, _x123_sql(k=2))


def _jl_signs(d_out: int = 16, d_in: int = 64) -> list[list[float]]:
    """Deterministic ±1/sqrt(d_out) JL rows from md5 — shared constants
    for the Spark expression and the SQL oracle (the x12 hyperplane
    literal-array move)."""
    s = 1.0 / math.sqrt(d_out)
    return [
        [
            s if hashlib.md5(f"jl|{o}|{i}".encode()).digest()[0] & 1 else -s
            for i in range(d_in)
        ]
        for o in range(d_out)
    ]


def _x124(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: random-sign projection
    64 -> 16 dims (deterministic md5 rows, the acceptance companion to
    x33's hyperplane LSH and x102's prefix truncation — JL preserves
    DISTANCES, the guarantee truncation lacks), measured on the
    deterministic pair set (2i, 2i+1): squared-L2 ratio per pair. JL
    theory says ratios concentrate near 1 at ~1/sqrt(16) spread — the
    audit shows the actual spread before anyone swaps the ANN tier onto
    projected vectors. Projection is 16 literal-array dots at scan
    speed."""
    signs = _jl_signs()
    emb = read_sf_table(spark, sf, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def dot(row: list[float]):
        lit = F.array(*[F.lit(c) for c in row])
        return F.aggregate(
            F.zip_with(v, lit, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
        )

    proj = emb.select(
        "vec_id", v.alias("v"), F.array(*[dot(r) for r in signs]).alias("p")
    )
    a = proj.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") + 1).alias("vec_id"),
        F.col("v").alias("va"),
        F.col("p").alias("pa"),
        F.col("vec_id").alias("id_a"),
    )
    j = a.join(proj, "vec_id").select(
        "id_a",
        F.col("vec_id").alias("id_b"),
        F.aggregate(
            F.zip_with("va", "v", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        ).alias("__do"),
        F.aggregate(
            F.zip_with("pa", "p", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        ).alias("__dp"),
    )
    return j.filter(F.col("__do") > 0).select(
        "id_a",
        "id_b",
        F.round(F.col("__dp") / F.col("__do") + 1e-9, 6).alias("dist2_ratio"),
    )


def _x124_sql() -> str:
    signs = _jl_signs()
    arrs = ", ".join(
        "[" + ", ".join(f"{c!r}" for c in row) + "]" for row in signs
    )
    return (
        # v IS NOT NULL only (no norm>0): JL audits DISTANCES, where a
        # zero vector is legitimate; the Spark side needs no filter — a
        # NULL va/vb makes __do NULL, which the __do > 0 filter drops,
        # exactly matching the join-miss here
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        "  FROM embeddings WHERE embedding IS NOT NULL),"
        f" pr AS (SELECT vec_id, v, [list_dot_product(v, r) FOR r IN [{arrs}]]"
        "   AS p FROM e)"
        " SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
        "  round(list_sum(list_transform(list_zip(a.p, b.p),"
        "    q -> (q[1] - q[2]) * (q[1] - q[2])))"
        "   / list_sum(list_transform(list_zip(a.v, b.v),"
        "    q -> (q[1] - q[2]) * (q[1] - q[2]))) + 1e-9, 6) AS dist2_ratio"
        " FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1"
        " WHERE a.vec_id % 2 = 0"
        "  AND list_sum(list_transform(list_zip(a.v, b.v),"
        "   q -> (q[1] - q[2]) * (q[1] - q[2]))) > 0",
    )[0]


_register("x124_jl_distortion", _x124, _x124_sql())


def _x125(spark: SparkSession, sf: str) -> DataFrame:
    """Modularity of the SOURCE partition over the near-dup graph:
    per-source q_contrib = e_ss/m - (d_s/2m)^2 (Newman modularity,
    public literature). Sum near 0 = duplication ignores source
    boundaries (mirrors everywhere — dedup must be global, x60's
    pairs quantified structurally); near its max = duplication is
    within-source (per-source dedup shards cleanly, a real partitioning
    decision). Exact integer edge/degree counts; two broadcast joins of
    the doc->source map onto the shared pair set."""
    pairs = shared_lsh_pairs(spark, sf)
    src = read_sf_table(spark, sf, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("__sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("__sb"))
    e = pairs.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
    m = e.agg(F.count(F.lit(1)).alias("__m"))
    internal = (
        e.filter(F.col("__sa") == F.col("__sb"))
        .groupBy(F.col("__sa").alias("source"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_internal_edges"))
    )
    degs = (
        e.select(F.col("__sa").alias("source"))
        .unionAll(e.select(F.col("__sb").alias("source")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("degree_sum"))
    )
    return (
        degs.join(internal, "source", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "source",
            F.coalesce("n_internal_edges", F.lit(0)).cast("long").alias(
                "n_internal_edges"
            ),
            "degree_sum",
            F.round(
                F.coalesce(F.col("n_internal_edges"), F.lit(0)) / F.col("__m")
                - F.pow(F.col("degree_sum") / (2.0 * F.col("__m")), 2)
                + 1e-9,
                6,
            ).alias("q_contrib"),
        )
    )


_register(
    "x125_source_modularity",
    _x125,
    f"WITH {_SHINGLE_SQL}, {_lsh_pairs_sql('pairs')},"
    " e AS (SELECT p.id_a, p.id_b, da.source AS sa, db.source AS sb"
    "  FROM pairs p JOIN documents da ON da.doc_id = p.id_a"
    "  JOIN documents db ON db.doc_id = p.id_b),"
    " m AS (SELECT count(*) AS m FROM e),"
    " ii AS (SELECT sa AS source, CAST(count(*) AS BIGINT) AS n_internal_edges"
    "  FROM e WHERE sa = sb GROUP BY 1),"
    " dd AS (SELECT source, CAST(count(*) AS BIGINT) AS degree_sum FROM ("
    "  SELECT sa AS source FROM e UNION ALL SELECT sb FROM e) GROUP BY 1)"
    " SELECT dd.source,"
    "  CAST(coalesce(n_internal_edges, 0) AS BIGINT) AS n_internal_edges,"
    "  degree_sum,"
    "  round(coalesce(n_internal_edges, 0) / CAST((SELECT m FROM m) AS DOUBLE)"
    "   - pow(degree_sum / (2.0 * (SELECT m FROM m)), 2) + 1e-9, 6)"
    "   AS q_contrib"
    " FROM dd LEFT JOIN ii ON ii.source = dd.source",
)


def _x126(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end ANN SERVING chain — x51's sibling for the retrieval
    path: JL-project 64->16 (x124's rows) -> 4-bit sign bucket on the
    PROJECTED space (the projected dims are already random projections,
    so their signs are hyperplane bits for free) -> candidate equi-join
    -> exact full-vector cosine rerank top-5 -> recall@5 vs full-dim
    brute force (x44's evaluator). Every stage is individually proven;
    chaining catches the contract drift (column names, dims, rank
    tie-breaks) per-operator oracles cannot — and the recall NUMBER is
    the thing a serving migration actually signs off on."""
    signs = _jl_signs()
    emb = read_indexable_embeddings(spark, sf)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def dot(row):
        lit = F.array(*[F.lit(c) for c in row])
        return F.aggregate(
            F.zip_with(v, lit, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
        )

    bucket = sum(
        (F.when(dot(signs[o]) >= 0, F.lit(1 << o)).otherwise(F.lit(0)) for o in range(4)),
        F.lit(0),
    )
    bk = emb.select("vec_id", v.alias("v"), bucket.alias("__bk"))
    q = bk.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("__bk")
    )
    cand = q.join(
        bk.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), "__bk"),
        "__bk",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        X_sim.cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    ann = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)
    exact = X_sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return X_sim.ann_recall(ann, exact, k=5)


def _x126_sql() -> str:
    signs = _jl_signs()
    bucket = " + ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(f"{c!r}" for c in signs[o])
        + f"]) >= 0 THEN {1 << o} ELSE 0 END)"
        for o in range(4)
    )
    return _bucket_recall_sql(bucket, "qd")


_register("x126_ann_serving_chain", _x126, _x126_sql())


def _x127(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup method disagreement audit — the "which detector do I trust"
    Venn table: exact shingle-Jaccard >= 0.5 TRUTH (x98's lossless
    prefix filter at k=3, the same grain x02 approximates), MinHash-LSH
    candidates (A), SimHash hamming<=1 pairs (B), counted per Venn
    region (in_truth, in_lsh, in_simhash). The regions ARE the decision:
    truth-only rows are each method's false negatives, method-only rows
    their verification load; three proven generators full-outer-joined
    on pair keys, pair-grain throughout. Scoped to doc_id < 300 like
    x32 (16-bit simhash collides heavily on synthetic text).

    The LSH leg restricts the corpus-level shared_lsh_pairs silver
    (identical k/hashes/bands/mode) instead of re-running minhash on the
    scope: band collisions depend only on each doc's own text, so the
    scope's pairs are exactly the full-corpus pairs with id_b < 300
    (id_a < id_b makes one predicate cover both endpoints). The oracle
    recomputes the scoped minhash from scratch, so the equivalence is
    re-proven at every driver run. The TRUTH leg deliberately stays a
    SCOPED computation: the prefix-filter join prunes at the source
    (300 docs in, pairs of 300 out); deriving it from a full-corpus
    truth silver was tried and reverted in round 7 — the wrong trade
    for a scoped question at any scale. The pair-silver reuse above is
    different: those pairs already exist for a dozen other consumers."""
    docs = read_sf_table(spark, sf, "documents").filter(F.col("doc_id") < 300)
    truth = X_dedup.prefix_filter_jaccard_join(
        docs, "doc_id", "text", k=3, threshold=0.5
    ).select("id_a", "id_b", F.lit(1).alias("__t"))
    lsh = (
        shared_lsh_pairs(spark, sf)
        .filter(F.col("id_b") < 300)
        .select("id_a", "id_b", F.lit(1).alias("__a"))
    )
    sim = X_dedup.simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=1, bands=4
    ).select("id_a", "id_b", F.lit(1).alias("__b"))
    venn = truth.join(lsh, ["id_a", "id_b"], "full_outer").join(
        sim, ["id_a", "id_b"], "full_outer"
    )
    return (
        venn.groupBy(
            F.coalesce("__t", F.lit(0)).cast("boolean").alias("in_truth"),
            F.coalesce("__a", F.lit(0)).cast("boolean").alias("in_lsh"),
            F.coalesce("__b", F.lit(0)).cast("boolean").alias("in_simhash"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def _x127_sql() -> str:
    return (
        f"WITH {_SHINGLE_SQL},"
        " shs AS (SELECT id, shingle FROM sh WHERE id < 300),"
        " szs AS (SELECT id, count(*) AS m FROM shs GROUP BY 1),"
        " itr AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i"
        "   FROM shs a JOIN shs b ON a.shingle = b.shingle AND a.id < b.id"
        "   GROUP BY 1, 2),"
        " tr AS (SELECT id_a, id_b FROM itr"
        "  JOIN szs sa ON sa.id = id_a JOIN szs sb ON sb.id = id_b"
        "  WHERE CAST(i AS DOUBLE) / (sa.m + sb.m - i) >= 0.5),"
        f" {_LSH_BANDS_SQL},"
        " lp AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b"
        "  FROM bands a JOIN bands b USING (band, band_hash)"
        "  WHERE a.id < b.id AND a.id < 300 AND b.id < 300),"
        f" s0 AS ({_x04_sql()}), ss AS (SELECT * FROM s0 WHERE id < 300),"
        " sp AS (SELECT a.id AS id_a, b.id AS id_b FROM ss a JOIN ss b"
        "  ON a.id < b.id WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),"
        " venn AS (SELECT coalesce(tr.id_a, lp.id_a, sp.id_a) AS id_a,"
        "   coalesce(tr.id_b, lp.id_b, sp.id_b) AS id_b,"
        "   tr.id_a IS NOT NULL AS in_truth,"
        "   lp.id_a IS NOT NULL AS in_lsh,"
        "   sp.id_a IS NOT NULL AS in_simhash"
        "  FROM tr FULL OUTER JOIN lp ON lp.id_a = tr.id_a AND lp.id_b = tr.id_b"
        "  FULL OUTER JOIN sp ON sp.id_a = coalesce(tr.id_a, lp.id_a)"
        "   AND sp.id_b = coalesce(tr.id_b, lp.id_b))"
        " SELECT in_truth, in_lsh, in_simhash,"
        "  CAST(count(*) AS BIGINT) AS n_pairs"
        " FROM venn GROUP BY 1, 2, 3"
    )


_register("x127_dedup_method_venn", _x127, _x127_sql())


def _x128(spark: SparkSession, sf: str) -> DataFrame:
    """Sampling-convergence curve per source: the x08 quality mean
    estimated from NESTED md5-bucket subsamples (buckets < 4, 16, 64,
    then all 256) with the absolute error against the full mean — the
    audit-sizing evidence ("reading 1/16th of this source estimates its
    quality within X") that turns 'sample some docs' into a number.
    Nesting (each sample contains the previous) comes free from bucket
    thresholds, and the whole curve is ONE conditional aggregate over
    one scan."""
    docs = read_sf_table(spark, sf, "documents")
    scored = docs.select(
        "source",
        F.round(X_text.quality_score("text") + 1e-9, 6).alias("q"),
        X_samp.hash_bucket("doc_id").alias("__b"),
    )
    sizes = [4, 16, 64, 256]
    agg = scored.groupBy("source").agg(
        *[
            F.sum(F.when(F.col("__b") < s, 1).otherwise(0)).cast("long").alias(f"n{s}")
            for s in sizes
        ],
        *[
            F.sum(F.when(F.col("__b") < s, F.col("q"))).alias(f"s{s}")
            for s in sizes
        ],
    )
    rows = [
        F.struct(
            F.lit(s).cast("long").alias("sample_buckets"),
            F.col(f"n{s}").alias("n_docs"),
            F.round(F.col(f"s{s}") / F.col(f"n{s}") + 1e-9, 6).alias("mean_q"),
            F.round(
                F.abs(F.col(f"s{s}") / F.col(f"n{s}") - F.col("s256") / F.col("n256"))
                + 1e-9,
                6,
            ).alias("abs_err"),
        )
        for s in sizes
    ]
    return (
        agg.select("source", F.explode(F.array(*rows)).alias("r"))
        .filter(F.col("r.n_docs") > 0)
        .select(
            "source",
            F.col("r.sample_buckets").alias("sample_buckets"),
            F.col("r.n_docs").alias("n_docs"),
            F.col("r.mean_q").alias("mean_q"),
            F.col("r.abs_err").alias("abs_err"),
        )
    )


def _x128_sql() -> str:
    qual = f"round({_QUALITY_SQL} + 1e-9, 6)"
    bucket = (
        "((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1))"
    )
    sizes = [4, 16, 64, 256]
    conds = ", ".join(
        f"CAST(sum(CASE WHEN b < {s} THEN 1 ELSE 0 END) AS BIGINT) AS n{s},"
        f" sum(CASE WHEN b < {s} THEN q END) AS s{s}"
        for s in sizes
    )
    rows = " UNION ALL ".join(
        f"SELECT source, CAST({s} AS BIGINT) AS sample_buckets,"
        f" n{s} AS n_docs,"
        f" round(s{s} / n{s} + 1e-9, 6) AS mean_q,"
        f" round(abs(s{s} / n{s} - s256 / n256) + 1e-9, 6) AS abs_err"
        f" FROM agg WHERE n{s} > 0"
        for s in sizes
    )
    return (
        f"WITH sc AS (SELECT source, {qual} AS q, {bucket} AS b FROM documents),"
        f" agg AS (SELECT source, {conds} FROM sc GROUP BY 1)"
        f" {rows}"
    )


_register("x128_sampling_convergence", _x128, _x128_sql())


def _s17(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming distinct-users-per-event-type dashboard with
    HYPERLOGLOG state: the 256-register frames (x121's portable layout)
    accumulate as a complete-mode streaming max-aggregation — state =
    groups x 256 rows, CONSTANT in both stream length and key
    cardinality (the third member of the sketch-streaming family:
    histogram cells s14, count-min s16, HLL here — distinct counts are
    the one aggregate exact streaming cannot bound). Readout runs
    hll_estimate batch-side on the drained registers; the oracle replays
    registers + estimator exactly, plus the exact distinct for the
    honesty column."""
    ev = stream_sf_table(spark, sf, "events")
    terms = ev.select(
        F.col("event_type").alias("g"), F.col("user_id").cast("string").alias("w")
    )
    regs = X_sk.hll_registers(terms, "g", "w", p=8)
    drained = drain(regs, output_mode="complete", partitions=8)
    est = X_sk.hll_estimate(drained, p=8).withColumnRenamed("g", "event_type")
    exact = read_sf_table(spark, sf, "events").groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_exact", F.col("est").alias("hll_est")
    )


def _s17_sql() -> str:
    m = 256
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return (
        "WITH hx AS (SELECT event_type AS g, md5(CAST(user_id AS VARCHAR)) AS h"
        "  FROM (SELECT DISTINCT event_type, user_id FROM events)),"
        " rr AS (SELECT g,"
        "   CAST(('0x' || substr(h, 1, 2)) AS BIGINT) AS reg,"
        "   CAST(('0x' || substr(h, 3, 4)) AS BIGINT) AS s FROM hx),"
        " rg AS (SELECT g, reg,"
        "   max(CASE WHEN s = 0 THEN 17 ELSE 17 - len(bin(s)) END) AS mx"
        "  FROM rr GROUP BY 1, 2),"
        " fr AS (SELECT gg.g, r.range AS reg FROM"
        "   (SELECT DISTINCT g FROM rg) gg, range(256) r),"
        " jj AS (SELECT f.g, coalesce(rg.mx, 0) AS mx FROM fr f"
        "   LEFT JOIN rg ON rg.g = f.g AND rg.reg = f.reg),"
        " ag AS (SELECT g, sum(pow(2.0, -mx)) AS z,"
        "   CAST(sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v"
        "  FROM jj GROUP BY 1),"
        f" ee AS (SELECT g, CAST({alpha!r} AS DOUBLE) * 65536.0 / z AS raw, v"
        "  FROM ag),"
        " es AS (SELECT g AS event_type,"
        "  round(CASE WHEN raw < 640 AND v > 0 THEN 256.0 * ln(256.0 / v)"
        "   ELSE raw END + 1e-9, 6) AS hll_est FROM ee),"
        " ex AS (SELECT event_type,"
        "   CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact"
        "  FROM events GROUP BY 1)"
        " SELECT es.event_type, n_exact, hll_est"
        " FROM es JOIN ex ON ex.event_type = es.event_type"
    )


_register("s17_stream_hll_distinct", _s17, _s17_sql())


def _a42(spark: SparkSession, sf: str) -> DataFrame:
    """Workload trend forecast per update type: daily query counts fitted
    with least squares on the integer day index — slope/day and the
    next-day forecast, the capacity-planning number a01's raw series
    implies but never states. Both regression inputs are INTEGERS (day
    ordinal, count), so the moments accumulate exactly as decimal(38,0)
    (x109's order-independence trick) and the only float is the final
    division."""
    q = workload_queries(spark, sf)
    daily = q.groupBy(
        F.coalesce("update", F.lit("SELECT")).alias("update_type"),
        F.datediff(F.date_trunc("day", "query_ts"), F.lit("1970-01-01")).alias("__d"),
    ).agg(F.count(F.lit(1)).alias("__y"))
    base = daily.groupBy("update_type").agg(F.min("__d").alias("__d0"))
    dd = daily.join(base, "update_type").select(
        "update_type",
        (F.col("__d") - F.col("__d0")).cast("decimal(38,0)").alias("x"),
        F.col("__y").cast("decimal(38,0)").alias("y"),
    )
    m = dd.groupBy("update_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return m.select(
        "update_type",
        F.col("n").cast("long").alias("n_days"),
        F.round(slope + 1e-9, 6).alias("slope_per_day"),
        F.round(intercept + slope * F.col("n").cast("double") + 1e-9, 6).alias(
            "next_day_forecast"
        ),
    )


_register(
    "a42_workload_forecast",
    _a42,
    _ALL_CTES
    + ", daily AS (SELECT coalesce(update_type, 'SELECT') AS update_type,"
    "   datediff('day', DATE '1970-01-01', date_trunc('day', query_ts)) AS d,"
    "   count(*) AS y FROM queries GROUP BY 1, 2),"
    " b AS (SELECT update_type, min(d) AS d0 FROM daily GROUP BY 1),"
    " dd AS (SELECT daily.update_type, CAST(daily.d - b.d0 AS HUGEINT) AS x,"
    "   CAST(y AS HUGEINT) AS y FROM daily JOIN b USING (update_type)),"
    " m AS (SELECT update_type, CAST(count(*) AS HUGEINT) AS n,"
    "   sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx"
    "  FROM dd GROUP BY 1)"
    " SELECT update_type, CAST(n AS BIGINT) AS n_days,"
    "  round(CAST(n * sxy - sx * sy AS DOUBLE)"
    "   / CAST(n * sxx - sx * sx AS DOUBLE) + 1e-9, 6) AS slope_per_day,"
    "  round((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)"
    "    / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))"
    "   / CAST(n AS DOUBLE)"
    "   + (CAST(n * sxy - sx * sy AS DOUBLE)"
    "    / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(n AS DOUBLE)"
    "   + 1e-9, 6) AS next_day_forecast"
    " FROM m",
)


def _x129(spark: SparkSession, sf: str) -> DataFrame:
    """WHERE the language switches (x113 says whether): language_id of
    each doc's first vs second character-half, per-source switch rate —
    half-grain localization catches the append-translation and
    stitched-crawl shapes (doc starts English, ends German) that
    whole-doc argmax averages away. Same marker-ratio detector applied
    to substrings; char-midpoint split is engine-exact. Two full marker
    batteries per row — rows repartition to core-count tasks when the
    scan arrives as fewer splits (sources.min_row_parallelism;
    structural no-op at production file counts)."""
    docs = min_row_parallelism(read_sf_table(spark, sf, "documents"))
    half1 = F.substring(F.col("text"), 1, (F.length("text") / 2).cast("int"))
    half2 = F.substring(
        F.col("text"),
        (F.length("text") / 2).cast("int") + 1,
        F.length("text"),
    )
    per = docs.select(
        "source",
        X_text.language_id(half1).alias("__l1"),
        X_text.language_id(half2).alias("__l2"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("__l1") != F.col("__l2")).cast("long")).alias("n_switched"),
        F.round(
            F.sum((F.col("__l1") != F.col("__l2")).cast("long"))
            / F.count(F.lit(1))
            + 1e-9,
            6,
        ).alias("switch_rate"),
    )


def _x129_sql() -> str:
    def langid(expr: str) -> str:
        ratios = {
            lang: _RATIO_SQL.format(lst=lst).replace("text", expr)
            for lang, lst in _X09_LISTS.items()
        }
        return (
            "CASE"
            f" WHEN ({ratios['en']}) >= ({ratios['de']}) AND ({ratios['en']}) >= ({ratios['fr']})"
            f"  AND ({ratios['en']}) >= ({ratios['es']}) AND ({ratios['en']}) >= ({ratios['zh']}) THEN 'en'"
            f" WHEN ({ratios['de']}) >= ({ratios['fr']}) AND ({ratios['de']}) >= ({ratios['es']})"
            f"  AND ({ratios['de']}) >= ({ratios['zh']}) THEN 'de'"
            f" WHEN ({ratios['fr']}) >= ({ratios['es']}) AND ({ratios['fr']}) >= ({ratios['zh']}) THEN 'fr'"
            f" WHEN ({ratios['es']}) >= ({ratios['zh']}) THEN 'es'"
            " ELSE 'zh' END"
        )

    return (
        "WITH h AS (SELECT source,"
        "  substr(text, 1, len(text) // 2) AS h1,"
        "  substr(text, len(text) // 2 + 1, len(text)) AS h2"
        " FROM documents),"
        f" l AS (SELECT source, {langid('h1')} AS l1, {langid('h2')} AS l2 FROM h)"
        " SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
        "  CAST(sum(CASE WHEN l1 <> l2 THEN 1 ELSE 0 END) AS BIGINT)"
        "   AS n_switched,"
        "  round(sum(CASE WHEN l1 <> l2 THEN 1 ELSE 0 END)"
        "   / CAST(count(*) AS DOUBLE) + 1e-9, 6) AS switch_rate"
        " FROM l GROUP BY 1",
    )[0]


_register("x129_lang_switch_position", _x129, _x129_sql())


def _x130(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup impact report: corpus composition BEFORE vs AFTER near-dedup
    (x15's min-id survivors) per source — docs kept, token mass kept, and
    the mean-quality shift. Dedup is usually justified by counts alone;
    this is the composition evidence (a source losing 40% of tokens but
    gaining quality was template spam; one losing quality lost its good
    duplicates to ANOTHER source's canonical — cross-source min-id
    election made visible). One pass over docs + the survivor anti-join,
    conditional aggregates."""
    docs = read_sf_table(spark, sf, "documents")
    pairs = shared_lsh_pairs(spark, sf)
    kept = X_dedup.drop_near_duplicates(docs, "doc_id", pairs).select("doc_id")
    base = docs.select(
        "source",
        "doc_id",
        X_text.token_count("text").cast("long").alias("__t"),
        F.round(X_text.quality_score("text") + 1e-9, 6).alias("__q"),
    ).join(kept.withColumn("__k", F.lit(1)), "doc_id", "left")
    return base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.coalesce("__k", F.lit(0))).cast("long").alias("n_kept"),
        F.sum("__t").cast("long").alias("tokens"),
        F.sum(F.when(F.col("__k") == 1, F.col("__t")).otherwise(0)).cast("long").alias(
            "tokens_kept"
        ),
        F.round(F.avg("__q") + 1e-9, 6).alias("mean_q_before"),
        F.round(F.avg(F.when(F.col("__k") == 1, F.col("__q"))) + 1e-9, 6).alias(
            "mean_q_after"
        ),
    )


_register(
    "x130_dedup_impact",
    _x130,
    _X14_CC_SQL
    + ", kept AS (SELECT doc_id FROM documents WHERE doc_id NOT IN"
    "   (SELECT id FROM cc WHERE id <> cluster_id)),"
    " b AS (SELECT d.source, d.doc_id,"
    "   CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS t,"
    f"   round({_QUALITY_SQL} + 1e-9, 6) AS q,"
    "   CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept"
    "  FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id)"
    " SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
    "  CAST(sum(kept) AS BIGINT) AS n_kept,"
    "  CAST(sum(t) AS BIGINT) AS tokens,"
    "  CAST(sum(CASE WHEN kept = 1 THEN t ELSE 0 END) AS BIGINT)"
    "   AS tokens_kept,"
    "  round(avg(q) + 1e-9, 6) AS mean_q_before,"
    "  round(avg(CASE WHEN kept = 1 THEN q END) + 1e-9, 6) AS mean_q_after"
    " FROM b GROUP BY 1",
)


def _x131(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom filter false-positive-rate audit: build an md5-mode bitmap
    over even-doc texts (m=4096, k=3 — sized small so the FPR is
    non-degenerate at sf0.01), probe TRUE non-members (odd docs whose
    text anti-joins the member set), and report empirical FPR against
    the theoretical (1 - e^{-kn/m})^k — the acceptance measurement
    behind x52's prefilter sizing (a bloom with FPR 30% wastes its exact
    pass; theory needs validating because real value distributions are
    not the uniform hash ideal). A probe is positive iff ALL its k bit
    positions are set — the oracle replays the exact md5 positions, so
    the measured FPR is hash-checked, not approximated."""
    m_bits, k = 4096, 3
    docs = read_sf_table(spark, sf, "documents")
    members = docs.filter(F.col("doc_id") % 2 == 0).select("text").distinct()
    probes = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .join(members.withColumnRenamed("text", "text"), "text", "left_anti")
    )
    mpos = members.select(
        F.explode(X_dedup.bloom_positions("text", m_bits, k, mode="md5")).alias("pos")
    ).distinct()
    ppos = probes.select(
        "doc_id",
        F.explode(X_dedup.bloom_positions("text", m_bits, k, mode="md5")).alias("pos"),
    ).distinct()
    hits = ppos.join(F.broadcast(mpos), "pos").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__hit")
    )
    need = ppos.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__need"))
    pos_probe = (
        need.join(hits, "doc_id", "left")
        .filter(F.coalesce("__hit", F.lit(0)) == F.col("__need"))
        .select("doc_id")
    )
    n_mem = members.count()
    stats = probes.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes")
    ).crossJoin(
        pos_probe.agg(F.count(F.lit(1)).cast("long").alias("n_false_pos"))
    )

    theory = (1.0 - math.exp(-k * n_mem / m_bits)) ** k
    return stats.select(
        F.lit(n_mem).cast("long").alias("n_members"),
        "n_probes",
        "n_false_pos",
        F.round(F.col("n_false_pos") / F.col("n_probes") + 1e-9, 6).alias("fpr"),
        F.round(F.lit(theory) + 1e-9, 6).alias("fpr_theory"),
    )


def _x131_sql() -> str:
    m_bits, k = 4096, 3
    pos = ", ".join(
        f"CAST(('0x' || substr(md5('{i}|' || text), 1, 15)) AS BIGINT) % {m_bits}"
        for i in range(k)
    )
    return (
        f"WITH mem AS (SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0),"
        " prb AS (SELECT d.doc_id, d.text FROM documents d"
        "  LEFT JOIN mem ON mem.text = d.text"
        "  WHERE d.doc_id % 2 = 1 AND mem.text IS NULL),"
        f" mp AS (SELECT DISTINCT p FROM mem, UNNEST([{pos}]) AS u(p)),"
        f" pp AS (SELECT DISTINCT doc_id, p FROM prb, UNNEST([{pos}]) AS u(p)),"
        " need AS (SELECT doc_id, count(*) AS nd FROM pp GROUP BY 1),"
        " hit AS (SELECT pp.doc_id, count(*) AS nh FROM pp JOIN mp USING (p)"
        "  GROUP BY 1),"
        " posit AS (SELECT need.doc_id FROM need LEFT JOIN hit USING (doc_id)"
        "  WHERE coalesce(nh, 0) = nd),"
        " nm AS (SELECT count(*) AS n FROM mem)"
        " SELECT CAST((SELECT n FROM nm) AS BIGINT) AS n_members,"
        "  CAST((SELECT count(*) FROM prb) AS BIGINT) AS n_probes,"
        "  CAST((SELECT count(*) FROM posit) AS BIGINT) AS n_false_pos,"
        "  round((SELECT count(*) FROM posit)"
        "   / CAST((SELECT count(*) FROM prb) AS DOUBLE) + 1e-9, 6) AS fpr,"
        f"  round(pow(1.0 - exp(-{k}.0 * (SELECT n FROM nm) / {m_bits}.0),"
        f"   {k}) + 1e-9, 6) AS fpr_theory"
    )


_register("x131_bloom_fpr_audit", _x131, _x131_sql())


def _x132(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min ERROR profile — the estimator-audit trio's third leg
    (x93 MinHash, x131 Bloom): per-token overestimate (est - true, >= 0
    by the CMS identity) log2-bucketed, with the Markov theory bound
    eps*N = (e/width)*N for context. Shingle-grain terms at width 256, depth 2 so
    collisions still occur at sf0.01 yet spread across buckets; md5 mode so every cell replays in the oracle. One
    sketch + one vocabulary-grain probe + exact counts."""
    width, depth = 256, 2
    docs = read_sf_table(spark, sf, "documents")
    # 3-gram shingles: ~12k distinct values at sf0.01 (the unigram vocab
    # is only 31 words — zero collisions, a degenerate audit)
    toks = X_dedup.shingles(docs, "doc_id", "text", k=3, distinct=False).select(
        F.col("shingle").alias("term")
    )
    sk = X_sk.countmin_sketch(toks, "term", width=width, depth=depth, mode="md5")
    vocab = toks.distinct()
    est = X_sk.cms_estimate(sk, vocab, "term", width=width, depth=depth, mode="md5")
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("__n"))
    err = est.join(exact, "term").select(
        (F.col("est") - F.col("__n")).alias("__e")
    )
    tot = toks.count()

    bound = (math.e / width) * tot
    buck = F.when(F.col("__e") == 0, F.lit(0)).otherwise(
        F.pow(F.lit(2.0), F.floor(F.log2("__e")) + 1).cast("long")
    )
    return err.groupBy(buck.alias("err_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(F.lit(bound) + 1e-9, 6).alias("markov_bound"),
    )


def _x132_sql() -> str:
    digit = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    val = " + ".join(f"{digit.format(i=i + 1)} * {16 ** (3 - i)}" for i in range(4))
    return (
        r"WITH t0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w"
        "   FROM documents),"
        " toks AS (SELECT array_to_string(w[i:i+2], ' ') AS term"
        "  FROM t0, UNNEST(range(1, greatest(len(w)-2, 0)+1)) AS t(i)),"
        " cells AS (SELECT d, pos, count(*) AS n FROM"
        f" (SELECT d, ({val}) % 256 AS pos FROM"
        "  (SELECT d, md5(CAST(d AS VARCHAR) || '#' || term) AS h"
        "   FROM toks, UNNEST([0, 1]) AS t(d))) GROUP BY 1, 2),"
        " vocab AS (SELECT DISTINCT term FROM toks),"
        " probe AS (SELECT term, d,"
        f"  ({val}) % 256 AS pos FROM"
        "  (SELECT term, d, md5(CAST(d AS VARCHAR) || '#' || term) AS h"
        "   FROM vocab, UNNEST([0, 1]) AS t(d))),"
        " est AS (SELECT term, min(coalesce(cells.n, 0)) AS est FROM probe"
        "  LEFT JOIN cells USING (d, pos) GROUP BY 1),"
        " exact AS (SELECT term, count(*) AS n FROM toks GROUP BY 1),"
        " err AS (SELECT est.est - exact.n AS e FROM est JOIN exact USING (term)),"
        " tot AS (SELECT count(*) AS n FROM toks)"
        " SELECT CAST(CASE WHEN e = 0 THEN 0"
        "   ELSE pow(2.0, floor(log2(e)) + 1) END AS BIGINT) AS err_bucket,"
        "  CAST(count(*) AS BIGINT) AS n_terms,"
        f"  round({math.e!r} / 256.0 * (SELECT n FROM tot) + 1e-9, 6)"
        "   AS markov_bound"
        " FROM err GROUP BY 1"
    )


_register("x132_cms_error_profile", _x132, _x132_sql())


def _synth_media(docs: DataFrame, payload: Callable[..., bytes]) -> DataFrame:
    """Media rows (doc_id, payload) built executor-side, one per row of
    `docs`, whose first column is doc_id: `payload` gets the row's values
    as ints and returns the encoded bytes."""

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                [(int(row[0]), payload(*map(int, row))) for row in pdf.itertuples(index=False)],
                columns=["doc_id", "payload"],
            )

    return docs.mapInPandas(
        synth,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def _decoded(media: DataFrame) -> DataFrame:
    """multimodal.decode_media's rows, mean intensity rounded to 6 places."""
    return X_mm.decode_media(media).select(
        "doc_id",
        "width",
        "height",
        "n_channels",
        F.round("mean_intensity", 6).alias("mean_intensity"),
    )


def _x133(spark: SparkSession, sf: str) -> DataFrame:
    """Audio metadata pipeline: deterministic WAV payloads synthesized
    per doc (rate 8 kHz, channels = 1 + doc_id%2, 16-bit, n_chars
    samples) flow through the REAL RIFF parser (multimodal.audio_meta) —
    the oracle computes the expected metadata from the construction
    parameters alone, so any parser offset/endianness/padding bug is a
    hash mismatch (the x11 synthesize-then-run move, now for audio).
    Payloads are built and parsed executor-side (declared Arrow
    surfaces); only the metadata rows move."""
    docs = read_sf_table(spark, sf, "documents").select("doc_id", "n_chars")

    def wav(doc_id: int, n_chars: int) -> bytes:
        ch, rate, bits = 1 + doc_id % 2, 8000, 16
        fmt = (
            (1).to_bytes(2, "little") + ch.to_bytes(2, "little")
            + rate.to_bytes(4, "little")
            + (rate * ch * bits // 8).to_bytes(4, "little")
            + (ch * bits // 8).to_bytes(2, "little")
            + bits.to_bytes(2, "little")
        )
        data = b"\x00" * (n_chars * ch * bits // 8)
        chunks = (
            b"fmt " + len(fmt).to_bytes(4, "little") + fmt
            + b"data" + len(data).to_bytes(4, "little") + data
        )
        return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks

    media = _synth_media(docs, wav)
    out = X_mm.audio_meta(media)
    return out.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "bits_per_sample",
        F.round("duration_s", 6).alias("duration_s"),
    )


_register(
    "x133_audio_meta_pipeline",
    _x133,
    "SELECT doc_id, CAST(8000 AS INT) AS sample_rate,"
    " CAST(1 + doc_id % 2 AS INT) AS n_channels,"
    " CAST(16 AS INT) AS bits_per_sample,"
    " round(n_chars / 8000.0, 6) AS duration_s"
    " FROM documents",
)


def _x134(spark: SparkSession, sf: str) -> DataFrame:
    """Video metadata pipeline — x133's MP4 twin: minimal ISO-BMFF box
    trees synthesized per doc (timescale 600, duration = n_chars ticks,
    display dims from doc_id; v1 layout every third doc so BOTH mvhd/
    tkhd variants flow through the parser), parsed by the REAL box walk
    (multimodal.video_meta); oracle from construction params."""
    docs = read_sf_table(spark, sf, "documents").select("doc_id", "n_chars")

    def box(typ, payload):
        return (8 + len(payload)).to_bytes(4, "big") + typ + payload

    def mp4(doc_id: int, dur: int) -> bytes:
        w, h = 160 + (doc_id % 8) * 16, 120 + (doc_id % 8) * 16
        v1 = doc_id % 3 == 0
        if v1:
            mvhd = (
                bytes([1, 0, 0, 0]) + b"\x00" * 16
                + (600).to_bytes(4, "big") + dur.to_bytes(8, "big")
                + b"\x00" * 80
            )
            tkhd = (
                bytes([1, 0, 0, 0]) + b"\x00" * 84
                + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
            )
        else:
            mvhd = (
                bytes([0, 0, 0, 0]) + b"\x00" * 8
                + (600).to_bytes(4, "big") + dur.to_bytes(4, "big")
                + b"\x00" * 76
            )
            tkhd = (
                bytes([0, 0, 0, 0]) + b"\x00" * 72
                + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
            )
        moov = box(b"moov", box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", tkhd)))
        return box(b"ftyp", b"isom\x00\x00\x02\x00isom") + moov

    media = _synth_media(docs, mp4)
    out = X_mm.video_meta(media)
    return out.select(
        "doc_id",
        "container",
        F.round("duration_s", 6).alias("duration_s"),
        "width",
        "height",
        "n_tracks",
    )


_register(
    "x134_video_meta_pipeline",
    _x134,
    "SELECT doc_id, 'mp4' AS container,"
    " round(n_chars / 600.0, 6) AS duration_s,"
    " CAST(160 + (doc_id % 8) * 16 AS INT) AS width,"
    " CAST(120 + (doc_id % 8) * 16 AS INT) AS height,"
    " CAST(1 AS INT) AS n_tracks"
    " FROM documents",
)


def _x135(spark: SparkSession, sf: str) -> DataFrame:
    """Audio quality-gate pipeline: square-wave WAVs synthesized per doc
    (amplitude 1000 + (doc_id%25)*1500, CLAMPED at int16 full scale so
    docs with doc_id%25 >= 22 genuinely clip) flow through the REAL PCM
    feature kernel (multimodal.audio_features). A ±A square wave has
    peak = RMS = A and clip_ratio = 1 exactly when clamped — so the
    oracle states the expected features in closed form and any sample
    decode/endianness/ratio bug is a hash mismatch."""
    docs = read_sf_table(spark, sf, "documents").select("doc_id")

    def wav(doc_id: int) -> bytes:
        amp = min(32767, 1000 + (doc_id % 25) * 1500)
        n, rate, bits, ch = 100, 8000, 16, 1
        data = b"".join(
            (amp if i % 2 == 0 else -amp).to_bytes(2, "little", signed=True)
            for i in range(n)
        )
        fmt = (
            (1).to_bytes(2, "little") + ch.to_bytes(2, "little")
            + rate.to_bytes(4, "little")
            + (rate * ch * bits // 8).to_bytes(4, "little")
            + (ch * bits // 8).to_bytes(2, "little")
            + bits.to_bytes(2, "little")
        )
        chunks = (
            b"fmt " + len(fmt).to_bytes(4, "little") + fmt
            + b"data" + len(data).to_bytes(4, "little") + data
        )
        return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks

    media = _synth_media(docs, wav)
    out = X_mm.audio_features(media)
    return out.select(
        "doc_id",
        "n_samples",
        "peak",
        F.round("rms", 6).alias("rms"),
        F.round("clip_ratio", 6).alias("clip_ratio"),
    )


_register(
    "x135_audio_quality_gate",
    _x135,
    "SELECT doc_id, CAST(100 AS BIGINT) AS n_samples,"
    " CAST(least(32767, 1000 + (doc_id % 25) * 1500) AS INT) AS peak,"
    " round(CAST(least(32767, 1000 + (doc_id % 25) * 1500) AS DOUBLE), 6)"
    "  AS rms,"
    " CAST(CASE WHEN 1000 + (doc_id % 25) * 1500 >= 32767"
    "  THEN 1.0 ELSE 0.0 END AS DOUBLE) AS clip_ratio"
    " FROM documents",
)


def _x136(spark: SparkSession, sf: str) -> DataFrame:
    """Image decode pipeline through the REAL PNG codec: per doc, a
    (4 + doc_id%5)-square grayscale PNG with every pixel = doc_id % 256
    is encoded (multimodal._encode_png: real zlib IDAT + CRCs) and
    decoded back by decode_media's real inflate+unfilter path — the
    driver-gate version of the codec's pytest round-trip: width, height,
    channels and mean intensity all have closed forms, so a filter/CRC/
    stride bug anywhere in the codec pair is a hash mismatch."""
    docs = read_sf_table(spark, sf, "documents").select("doc_id")

    def png(doc_id: int) -> bytes:
        side = 4 + doc_id % 5
        return X_mm._encode_png(side, side, 1, bytes([doc_id % 256]) * (side * side))

    media = _synth_media(docs, png)
    return _decoded(media)


_register(
    "x136_png_decode_pipeline",
    _x136,
    "SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS width,"
    " CAST(4 + doc_id % 5 AS INT) AS height, CAST(1 AS INT) AS n_channels,"
    " round(CAST(doc_id % 256 AS DOUBLE) / 255.0, 6) AS mean_intensity"
    " FROM documents",
)


def _x137(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash driver gate: even docs get a horizontally
    DESCENDING 16x16 gray ramp (every left pixel > its right neighbor →
    dHash = all ones = 'ffffffffffffffff'), odd docs a constant image
    (no gradient → all zeros) — the two closed-form dHash fixtures,
    pushed through the REAL decode+downsample+gradient kernel
    (multimodal.dhash_media). Bit-order, sampling and comparison-
    direction bugs all flip known hex digits."""
    docs = read_sf_table(spark, sf, "documents").select("doc_id")

    def png(doc_id: int) -> bytes:
        if doc_id % 2 == 0:
            px = b"".join(bytes(255 - x * 16 for x in range(16)) for _ in range(16))
        else:
            px = bytes([128]) * 256
        return X_mm._encode_png(16, 16, 1, px)

    media = _synth_media(docs, png)
    return X_mm.dhash_media(media).select("doc_id", "container", "dhash")


_register(
    "x137_dhash_pipeline",
    _x137,
    "SELECT doc_id, 'png' AS container,"
    " CASE WHEN doc_id % 2 = 0 THEN 'ffffffffffffffff'"
    "  ELSE '0000000000000000' END AS dhash"
    " FROM documents",
)


def _x138(spark: SparkSession, sf: str) -> DataFrame:
    """GIF codec driver gate (x136's sibling): constant-color 8x8 GIFs
    on the encoder's exact 64-color cube grid ({0,85,170,255} — so LZW
    quantization is lossless and the round-trip has a closed form),
    encoded by the real LZW writer and decoded by the real LZW reader;
    every third doc writes INTERLACED rows so the 4-pass de-interlace
    path is gate-checked too (a pass-order bug scrambles rows but a
    constant image would hide it — the interlace flag still exercises
    the code path; the constant value pins the palette/LZW arithmetic)."""
    docs = read_sf_table(spark, sf, "documents").select("doc_id")

    def gif(doc_id: int) -> bytes:
        v = [0, 85, 170, 255][doc_id % 4]
        return encode_gif(8, 8, bytes([v, v, v]) * 64, interlace=doc_id % 3 == 0)

    media = _synth_media(docs, gif)
    return _decoded(media)


_register(
    "x138_gif_decode_pipeline",
    _x138,
    "SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,"
    " CAST(3 AS INT) AS n_channels,"
    " round(CAST(CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 85"
    "  WHEN 2 THEN 170 ELSE 255 END AS DOUBLE) / 255.0, 6) AS mean_intensity"
    " FROM documents",
)


def _x139(spark: SparkSession, sf: str) -> DataFrame:
    """Resize pipeline gate: constant gray PNGs at per-doc source sizes
    run decode → real NN resample to 6x6 → real PNG re-encode
    (multimodal.resize_media) → decode again — output dims and intensity
    are closed-form (constant images are NN-resample fixpoints), so the
    whole three-kernel chain (decode, resample, encode, decode) is
    hash-gated end to end."""
    docs = read_sf_table(spark, sf, "documents").select("doc_id")

    def png(doc_id: int) -> bytes:
        side = 8 + doc_id % 9
        return X_mm._encode_png(side, side, 1, bytes([doc_id % 256]) * (side * side))

    media = _synth_media(docs, png).withColumn(
        "meta",
        F.struct(
            F.lit("image/png").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ),
    )
    return _decoded(X_mm.resize_media(media, 6, 6))


_register(
    "x139_resize_pipeline",
    _x139,
    "SELECT doc_id, CAST(6 AS INT) AS width, CAST(6 AS INT) AS height,"
    " CAST(1 AS INT) AS n_channels,"
    " round(CAST(doc_id % 256 AS DOUBLE) / 255.0, 6) AS mean_intensity"
    " FROM documents",
)


def _x140(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user behavioral entropy RATE: H(next event type | current) =
    sum over current types p(cur) * H(next | cur), from exact transition
    counts over each user's (ts, event_id)-ordered stream — the
    scripted-client detector (a bot cycling a fixed sequence scores near
    0 bits; organic users sit much higher), the per-user refinement of
    x71's global transition matrix. Lag windows keyed by user_id
    (corpus-cardinality); entropy sums run at (user, cur, next) cell
    grain. NULL-ts events are excluded like x71's — no event-time
    position, no transitions."""
    ev = read_sf_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.withColumn("__nxt", F.lead("event_type").over(w))
        .filter(F.col("__nxt").isNotNull())
        .groupBy("user_id", F.col("event_type").alias("cur"), F.col("__nxt").alias("nxt"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    cur_tot = tr.groupBy("user_id", "cur").agg(F.sum("__n").alias("__nc"))
    usr_tot = tr.groupBy("user_id").agg(F.sum("__n").alias("__nu"))
    ent = (
        tr.join(cur_tot, ["user_id", "cur"])
        .join(usr_tot, "user_id")
        .select(
            "user_id",
            "__nu",
            (
                (F.col("__n") / F.col("__nu"))
                * -F.log2(F.col("__n") / F.col("__nc"))
            ).alias("__h"),
        )
    )
    return ent.groupBy("user_id").agg(
        F.max("__nu").cast("long").alias("n_transitions"),
        F.round(F.sum("__h") + 1e-9, 6).alias("entropy_rate_bits"),
    )


_register(
    "x140_behavior_entropy",
    _x140,
    "WITH o AS (SELECT user_id, event_type AS cur,"
    "   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    "    AS nxt FROM events WHERE ts IS NOT NULL),"
    " tr AS (SELECT user_id, cur, nxt, count(*) AS n FROM o"
    "  WHERE nxt IS NOT NULL GROUP BY 1, 2, 3),"
    " ct AS (SELECT user_id, cur, sum(n) AS nc FROM tr GROUP BY 1, 2),"
    " ut AS (SELECT user_id, sum(n) AS nu FROM tr GROUP BY 1)"
    " SELECT tr.user_id, CAST(max(ut.nu) AS BIGINT) AS n_transitions,"
    "  round(sum((tr.n / CAST(ut.nu AS DOUBLE))"
    "   * -log2(tr.n / CAST(ct.nc AS DOUBLE))) + 1e-9, 6)"
    "   AS entropy_rate_bits"
    " FROM tr JOIN ct ON ct.user_id = tr.user_id AND ct.cur = tr.cur"
    " JOIN ut ON ut.user_id = tr.user_id"
    " GROUP BY 1",
)


# _positioned_words in SQL: CTE `t(doc_id, pos, w)`
_POS_WORDS_SQL = (
    "t AS (SELECT doc_id, t.p - 1 AS pos, ws[t.p] AS w"
    r"  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws"
    "   FROM documents) d, UNNEST(range(1, len(ws) + 1)) AS t(p))"
)


def _x141(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic data augmentation: token dropout with md5-coin
    probability 1/8 per (doc, position) — the contrastive-pair /
    denoising-objective generator, made REPRODUCIBLE the same way the
    engine's sampling is (hash coins instead of RNG state, salt swap =
    fresh augmentation epoch). Output: kept-token count and the md5 of
    the augmented text, so the oracle replays every coin and the
    reassembled string byte-for-byte. Pure Column expressions: filter
    over a posexploded token frame + ordered re-aggregation at doc
    grain."""
    toks = _positioned_words(read_sf_table(spark, sf, "documents"))
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.lit("aug"), F.col("doc_id"), F.col("pos"))
                ),
                1,
                2,
            ),
            16,
            10,
        ).cast("int")
        % 8
    )
    kept = toks.filter(coin != 0)
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        _words_md5().alias("aug_md5"),
    )


_register(
    "x141_token_dropout_augment",
    _x141,
    f"WITH {_POS_WORDS_SQL},"
    " k AS (SELECT doc_id, pos, w FROM t WHERE"
    "  CAST(('0x' || substr(md5('aug|' || CAST(doc_id AS VARCHAR) || '|'"
    "   || CAST(pos AS VARCHAR)), 1, 2)) AS BIGINT) % 8 <> 0)"
    " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,"
    "  md5(string_agg(w, ' ' ORDER BY pos)) AS aug_md5"
    " FROM k GROUP BY 1",
)


def _x142(spark: SparkSession, sf: str) -> DataFrame:
    """T5-style span corruption (x141's structured sibling): md5 coins
    mark span STARTS (p=1/16), each span covers 3 tokens, overlapping
    spans merge, and every masked RUN collapses to one <extra_id_k>
    sentinel numbered left to right — the denoising-objective input
    layout, reproducible by construction. Span membership is a
    doc-keyed window max over the trailing 3 start-coins; run starts
    (masked and predecessor unmasked) number the sentinels via a
    doc-keyed running sum. Output: token/sentinel counts + the corrupted
    text's md5, byte-replayed by the oracle."""
    toks = _positioned_words(read_sf_table(spark, sf, "documents"))
    start = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit("span"), F.col("doc_id"), F.col("pos"))),
                1,
                2,
            ),
            16,
            10,
        ).cast("int")
        % 16
        == 0
    ).cast("int")
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = toks.withColumn("__s", start).withColumn(
        "__m",
        F.max("__s").over(w.rowsBetween(-2, 0)),
    )
    runs = marked.withColumn(
        "__runstart",
        ((F.col("__m") == 1) & (F.coalesce(F.lag("__m").over(w), F.lit(0)) == 0)).cast(
            "int"
        ),
    ).withColumn("__sid", F.sum("__runstart").over(w))
    # emit: unmasked tokens as-is; masked run-start rows as the sentinel;
    # other masked rows drop
    out_tok = runs.filter((F.col("__m") == 0) | (F.col("__runstart") == 1)).select(
        "doc_id",
        "pos",
        F.when(
            F.col("__m") == 1,
            F.concat(F.lit("<extra_id_"), (F.col("__sid") - 1).cast("string"), F.lit(">")),
        ).otherwise(F.col("w")).alias("w"),
        F.col("__m"),
    )
    return out_tok.groupBy("doc_id").agg(
        F.sum((F.col("__m") == 0).cast("long")).alias("n_kept_tokens"),
        F.sum(F.col("__m").cast("long")).alias("n_sentinels"),
        _words_md5().alias("corrupted_md5"),
    )


_register(
    "x142_span_corruption",
    _x142,
    f"WITH {_POS_WORDS_SQL},"
    " s AS (SELECT doc_id, pos, w,"
    "  CASE WHEN CAST(('0x' || substr(md5('span|' || CAST(doc_id AS VARCHAR)"
    "   || '|' || CAST(pos AS VARCHAR)), 1, 2)) AS BIGINT) % 16 = 0"
    "   THEN 1 ELSE 0 END AS st FROM t),"
    " m AS (SELECT doc_id, pos, w,"
    "  max(st) OVER (PARTITION BY doc_id ORDER BY pos"
    "   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mk FROM s),"
    " r AS (SELECT doc_id, pos, w, mk,"
    "  CASE WHEN mk = 1 AND coalesce(lag(mk) OVER ("
    "   PARTITION BY doc_id ORDER BY pos), 0) = 0 THEN 1 ELSE 0 END AS rs"
    "  FROM m),"
    " n AS (SELECT doc_id, pos, w, mk, rs,"
    "  sum(rs) OVER (PARTITION BY doc_id ORDER BY pos"
    "   ROWS UNBOUNDED PRECEDING) AS sid FROM r),"
    " o AS (SELECT doc_id, pos, mk,"
    "  CASE WHEN mk = 1 THEN '<extra_id_' || CAST(sid - 1 AS VARCHAR) || '>'"
    "   ELSE w END AS w"
    "  FROM n WHERE mk = 0 OR rs = 1)"
    " SELECT doc_id,"
    "  CAST(sum(CASE WHEN mk = 0 THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS n_kept_tokens,"
    "  CAST(sum(mk) AS BIGINT) AS n_sentinels,"
    "  md5(string_agg(w, ' ' ORDER BY pos)) AS corrupted_md5"
    " FROM o GROUP BY 1",
)


def _x143(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source KL divergence D(source || corpus) over unigram
    distributions — the information-theoretic distinctiveness scalar
    beside x67's per-term log-odds and x94's conditional entropy:
    sum over the source's terms of p_s ln(p_s / p_c). Exact integer
    counts at (source, term) and term grain; one vocabulary-grain join;
    the corpus side can never be zero where the source side is positive
    (every source term is a corpus term), so the sum is always finite."""
    docs = read_sf_table(spark, sf, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    st = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("__ns"))
    ct = toks.groupBy("w").agg(F.count(F.lit(1)).alias("__nc"))
    stot = st.groupBy("source").agg(F.sum("__ns").alias("__ts"))
    ctot = ct.agg(F.sum("__nc").alias("__tc"))
    j = (
        st.join(ct, "w")
        .join(stot, "source")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            "__ts",
            (
                (F.col("__ns") / F.col("__ts"))
                * F.log(
                    (F.col("__ns") / F.col("__ts"))
                    / (F.col("__nc") / F.col("__tc"))
                )
            ).alias("__kl"),
        )
    )
    return j.groupBy("source").agg(
        F.max("__ts").cast("long").alias("n_tokens"),
        F.round(F.sum("__kl") + 1e-9, 6).alias("kl_nats"),
    )


_register(
    "x143_source_kl_divergence",
    _x143,
    r"WITH toks AS (SELECT source, t.w AS w FROM documents,"
    r" UNNEST(string_split_regex(trim(text), '\s+')) AS t(w) WHERE t.w <> ''),"
    " st AS (SELECT source, w, count(*) AS ns FROM toks GROUP BY 1, 2),"
    " ct AS (SELECT w, count(*) AS nc FROM toks GROUP BY 1),"
    " stot AS (SELECT source, sum(ns) AS ts FROM st GROUP BY 1),"
    " ctot AS (SELECT sum(nc) AS tc FROM ct)"
    " SELECT st.source, CAST(max(stot.ts) AS BIGINT) AS n_tokens,"
    "  round(sum((st.ns / CAST(stot.ts AS DOUBLE))"
    "   * ln((st.ns / CAST(stot.ts AS DOUBLE))"
    "    / (ct.nc / CAST((SELECT tc FROM ctot) AS DOUBLE)))) + 1e-9, 6)"
    "   AS kl_nats"
    " FROM st JOIN ct ON ct.w = st.w JOIN stot ON stot.source = st.source"
    " GROUP BY 1",
)


def _x144(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity of the near-dup graph: the Pearson
    correlation of endpoint degrees over edges (Newman) — positive means
    template clusters link to template clusters (bulk-collapse safe),
    negative means hub-and-spoke banding artifacts dominate (collapse
    over-deletes). Degrees are integers, so the five correlation moments
    accumulate exactly as decimal(38,0) (the x109 order-independence
    trick) over the symmetrized edge list; float only in the final
    ratio."""
    pairs = shared_lsh_pairs(spark, sf)
    e = pairs.select("id_a", "id_b")
    deg = (
        e.select(F.col("id_a").alias("id"))
        .unionAll(e.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    sym = e.unionAll(e.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")))
    jd = (
        sym.join(deg.select(F.col("id").alias("id_a"), F.col("dg").alias("__x")), "id_a")
        .join(deg.select(F.col("id").alias("id_b"), F.col("dg").alias("__y")), "id_b")
        .select(
            F.col("__x").cast("decimal(38,0)").alias("x"),
            F.col("__y").cast("decimal(38,0)").alias("y"),
        )
    )
    m = jd.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.round(num / F.sqrt(vx * vy) + 1e-9, 6).alias("assortativity"),
    )


_register(
    "x144_dup_assortativity",
    _x144,
    f"WITH {_SHINGLE_SQL}, {_lsh_pairs_sql('pairs')},"
    " deg AS (SELECT id, count(*) AS dg FROM (SELECT id_a AS id FROM pairs"
    "  UNION ALL SELECT id_b FROM pairs) GROUP BY 1),"
    " sym AS (SELECT id_a, id_b FROM pairs"
    "  UNION ALL SELECT id_b, id_a FROM pairs),"
    " jd AS (SELECT CAST(da.dg AS HUGEINT) AS x, CAST(db.dg AS HUGEINT) AS y"
    "  FROM sym JOIN deg da ON da.id = sym.id_a"
    "  JOIN deg db ON db.id = sym.id_b),"
    " m AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,"
    "  sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM jd)"
    " SELECT CAST(n // 2 AS BIGINT) AS n_edges,"
    "  round(CAST(n * sxy - sx * sy AS DOUBLE)"
    "   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
    "    * CAST(n * syy - sy * sy AS DOUBLE)) + 1e-9, 6) AS assortativity"
    " FROM m",
)


def _x145(spark: SparkSession, sf: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the near-dup
    graph: 3 * triangles / wedges, with wedges = sum over nodes of
    C(deg, 2) — the closure scalar completing the structural set
    (components, PageRank, triangles, k-core, modularity,
    assortativity): near 1 = mutual-duplicate cliques, near 0 = banding
    stars. Triangle total reuses the degree-ordered orientation
    (graph.triangle_counts at node grain sums to 3x the triangle count);
    wedges are exact integer arithmetic on the degree frame."""
    pairs = shared_lsh_pairs(spark, sf)
    tri = shared_dup_triangles(spark, sf)
    tri_total = tri.agg(
        (F.coalesce(F.sum("n_triangles"), F.lit(0)) / 3).cast("long").alias("__t")
    )
    e = pairs.select("id_a", "id_b")
    deg = (
        e.select(F.col("id_a").alias("id"))
        .unionAll(e.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    wedges = deg.agg(
        F.sum(F.col("dg") * (F.col("dg") - 1) / 2).cast("long").alias("__w")
    )
    return tri_total.crossJoin(F.broadcast(wedges)).select(
        F.col("__t").alias("n_triangles"),
        F.col("__w").alias("n_wedges"),
        F.round(3.0 * F.col("__t") / F.col("__w") + 1e-9, 6).alias("transitivity"),
    )


_register(
    "x145_dup_transitivity",
    _x145,
    f"WITH {_SHINGLE_SQL}, {_lsh_pairs_sql('pairs')},"
    " tri AS (SELECT p1.id_a AS x, p1.id_b AS y, p2.id_b AS z"
    "  FROM pairs p1 JOIN pairs p2 ON p2.id_a = p1.id_b"
    "  JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),"
    " deg AS (SELECT id, count(*) AS dg FROM (SELECT id_a AS id FROM pairs"
    "  UNION ALL SELECT id_b FROM pairs) GROUP BY 1)"
    " SELECT CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles,"
    "  CAST((SELECT sum(dg * (dg - 1) // 2) FROM deg) AS BIGINT) AS n_wedges,"
    "  round(3.0 * (SELECT count(*) FROM tri)"
    "   / (SELECT sum(dg * (dg - 1) // 2) FROM deg) + 1e-9, 6)"
    "   AS transitivity",
)


def _x146(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end PRIVACY release chain — the third composition capstone
    (curation x51, serving x126): generalize (user -> cohort of 10,
    ts -> day), k-anonymity suppression (cells under k=10 dropped),
    deterministic-Laplace noise, stability threshold (release only
    noisy > tau = p13's 7.802) — the full pipeline a real data release
    runs, chained as ONE plan so contract drift between the privacy
    operators (key shapes, suppression-before-noise order, tau
    semantics) is hash-caught. Oracle replays every stage."""
    tau = 1.0 + 2.0 * math.log(3.0 / (2.0 * 0.05))
    ev = read_sf_table(spark, sf, "events")
    gen = ev.select(
        F.floor(F.col("user_id") / 10).cast("long").alias("cohort"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
    )
    cells = gen.groupBy("cohort", "day").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    kept = cells.filter(F.col("__n") >= 10)
    key = F.concat_ws("|", F.col("cohort"), F.col("day"))
    noisy = kept.withColumn(
        "noisy_n",
        F.round(
            F.col("__n") + laplace_noise(key, scale=1.0, salt="release") + 1e-9, 6
        ),
    )
    return noisy.filter(F.col("noisy_n") > F.lit(tau)).select(
        "cohort", "day", "noisy_n"
    )


def _x146_sql() -> str:
    tau = 1.0 + 2.0 * math.log(3.0 / (2.0 * 0.05))
    hexpos = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    v = " + ".join(f"{hexpos.format(i=i + 1)} * {16 ** (5 - i)}" for i in range(6))
    return (
        "WITH g AS (SELECT CAST(user_id // 10 AS BIGINT) AS cohort,"
        "   CAST(date_trunc('day', ts) AS DATE) AS day FROM events),"
        " c AS (SELECT cohort, day, CAST(count(*) AS BIGINT) AS n FROM g"
        "  GROUP BY 1, 2 HAVING count(*) >= 10),"
        " k AS (SELECT cohort, day, n,"
        "  md5('release|' || CAST(cohort AS VARCHAR) || '|'"
        "   || CAST(day AS VARCHAR)) AS h FROM c),"
        f" u AS (SELECT cohort, day, n, (({v}) + 0.5) / {float(16 ** 6)!r} - 0.5"
        "   AS u FROM k),"
        " r AS (SELECT cohort, day,"
        "  round(n + (-1.0 * sign(u) * ln(1.0 - 2.0 * abs(u))) + 1e-9, 6)"
        "   AS noisy_n FROM u)"
        f" SELECT cohort, day, noisy_n FROM r WHERE noisy_n > {tau!r}"
    )


_register("x146_privacy_release_chain", _x146, _x146_sql())


# --------------------------------------------------------------------------
# Round-9 unfreeze: five queries registered per the r8 verdict. Each
# passed the exact oracle gate at sf0.001 AND sf0.01 plus the lint's core
# bans before registration.


# Calibrated to the synthetic corpus: the driver embeddings are
# near-random (max within-cluster cosine 0.45/0.51 at sf0.001/sf0.1), so
# the paper's 0.9 never fires and the gate would be trivially green —
# pairs, CC and survivor-drop all unexercised. At 0.4 the gate hashes a
# real dedup (5 pairs at sf0.001/sf0.01, 86 at sf0.1) through the full
# chain. Production on real embeddings uses the paper's high thresholds.
_XS1_SEMDEDUP_THRESHOLD = 0.4


def _xs1(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup survivors (Abbas et al. 2023, arXiv:2303.09540): exact
    cosine pairs scoped WITHIN each embedding cluster (the `label` column
    plays the k-means cluster id), connected components over the
    >=threshold edges (threshold = _XS1_SEMDEDUP_THRESHOLD, calibrated
    above — the paper's 0.9 never fires on this synthetic corpus), keep
    the min-id exemplar per component. Cluster scoping is the
    published trick that makes semantic dedup tractable at scale: the
    quadratic pair join runs per-cluster (bounded fan-out equi-join on
    label), never corpus-wide."""
    emb = read_sf_table(spark, sf, "embeddings")
    kept = X_dedup.semantic_dedup(
        emb, "vec_id", "embedding", "label",
        threshold=_XS1_SEMDEDUP_THRESHOLD, impl="blas",
    )
    return kept.select("vec_id")


def _xs1_sql() -> str:
    t = _XS1_SEMDEDUP_THRESHOLD
    return (
        # v IS NOT NULL mirrors the BLAS kernel's dropna (a NULL vector
        # is not pairable); a zero-norm vector stays on both sides — its
        # cosine is NULL here / NaN in the kernel, failing >= threshold
        # either way. The final survivor SELECT stays UNFILTERED: rows
        # that can't pair can't lose.
        "WITH RECURSIVE e AS (SELECT vec_id, label,"
        "  CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
        "  WHERE embedding IS NOT NULL),"
        " prs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b"
        "  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id"
        f"  WHERE {_cos_sql('a.v', 'b.v')} >= {t!r}),"
        f" {_cc_sql('prs', 'e2')}"
        " SELECT vec_id FROM embeddings"
        " WHERE vec_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)"
    )


_register("xs1_semantic_dedup", _xs1, _xs1_sql())


def _xs2(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    hashed-unigram (md5 -> 4096 buckets) bag-of-words, per-doc log
    importance = sum over tokens of log(target-prob / source-prob) with
    add-1.0 smoothing. Target slice = doc_id % 10 == 0 (deterministic).
    The feature->ratio table is 4096 rows -> broadcast joined; per-doc
    cost is one groupBy over tokens."""
    docs = read_sf_table(spark, sf, "documents")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    return X_samp.dsir_log_weights(docs, target, "doc_id", "text")


def _xs2_sql() -> str:
    d, a = 4096, 1.0
    tok = (
        r"SELECT doc_id, t.w AS w FROM {src},"
        r" UNNEST(string_split_regex(trim(text), '\s+')) AS t(w)"
        r" WHERE t.w <> ''"
    )
    return (
        "WITH stok AS (" + tok.format(src="documents") + "),"
        " ttok AS (" + tok.format(
            src="(SELECT * FROM documents WHERE doc_id % 10 = 0)") + "),"
        " sfeat AS (SELECT doc_id,"
        "   CAST(('0x' || substr(md5(w), 1, 3)) AS BIGINT) AS feat,"
        "   CAST(count(*) AS BIGINT) AS c FROM stok GROUP BY 1, 2),"
        " tfeat AS (SELECT CAST(('0x' || substr(md5(w), 1, 3)) AS BIGINT) AS feat,"
        "   CAST(count(*) AS BIGINT) AS c FROM ttok GROUP BY 1),"
        " stot AS (SELECT feat, CAST(sum(c) AS BIGINT) AS cs FROM sfeat GROUP BY 1),"
        " tots AS (SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM sfeat) AS S,"
        "   (SELECT CAST(sum(c) AS DOUBLE) FROM tfeat) AS T),"
        " ratio AS (SELECT coalesce(stot.feat, tfeat.feat) AS feat,"
        f"   (ln(coalesce(tfeat.c, 0) + {a!r}) - ln(tots.T + {a!r} * {d}))"
        f" - (ln(coalesce(stot.cs, 0) + {a!r}) - ln(tots.S + {a!r} * {d}))"
        "    AS log_ratio"
        "  FROM stot FULL OUTER JOIN tfeat ON stot.feat = tfeat.feat"
        "  CROSS JOIN tots)"
        " SELECT sfeat.doc_id,"
        "  round(sum(sfeat.c * ratio.log_ratio), 6) AS log_w,"
        "  CAST(sum(sfeat.c) AS BIGINT) AS n_tokens"
        " FROM sfeat JOIN ratio ON sfeat.feat = ratio.feat"
        " GROUP BY 1"
    )


_register("xs2_dsir_weights", _xs2, _xs2_sql())


_XS3_DSIR_MIX_K = 25


def _xs3(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source top-K most target-like documents by DSIR weight — the
    mix-planning shape: a curated target defines the direction, and each
    source contributes its K best-aligned docs. `source` is an enum-ish
    key, so a plain rank window partitioned by it alone is the x39-class
    single-task funnel at 100 TB (the registered plan lint rejects it —
    it caught exactly this in the staged formulation); the rank runs
    through sampling._hierarchical_row_number instead, sharded by
    floor(-log_w*4) (monotone w.r.t. log_w DESC between shards), with
    local_prune=K bounding the offset join to K rows per (source, shard).
    Ties rank on the ROUNDED weight with doc_id as tiebreak so the
    ordering is engine-portable."""
    docs = read_sf_table(spark, sf, "documents")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    w = X_samp.dsir_log_weights(docs, target, "doc_id", "text")
    ranked = X_samp._hierarchical_row_number(
        docs.select("doc_id", "source").join(w, "doc_id"),
        ["source"],
        [F.col("log_w").desc(), F.col("doc_id")],
        F.floor(-F.col("log_w") * 4).cast("long"),
        "__rn",
        local_prune=F.lit(_XS3_DSIR_MIX_K),
    )
    return ranked.filter(F.col("__rn") <= _XS3_DSIR_MIX_K).select(
        "doc_id", "source", "log_w"
    )


def _xs3_sql() -> str:
    return (
        "WITH w AS (" + _xs2_sql() + ")"
        " SELECT doc_id, source, log_w FROM ("
        "  SELECT d.doc_id, d.source, w.log_w,"
        "   row_number() OVER (PARTITION BY d.source"
        "    ORDER BY w.log_w DESC, d.doc_id) AS rn"
        "  FROM documents d JOIN w ON d.doc_id = w.doc_id)"
        f" WHERE rn <= {_XS3_DSIR_MIX_K}"
    )


_register("xs3_dsir_mix", _xs3, _xs3_sql())


def _xs4(spark: SparkSession, sf: str) -> DataFrame:
    """MJPEG-in-AVI REAL frame-pixel-decode driver gate (round-7 verdict
    item 4 — the only real media kernel without an x133-style pipeline
    query). Per doc: 2 + doc_id%3 flat grayscale frames at per-doc dims
    (8*(1+doc_id%3) x 8*(1+doc_id%2)), frame i's intensity
    (doc_id*37 + i*59) % 256, encoded by the REAL baseline-JPEG encoder
    and wrapped in the structurally real RIFF-AVI (encode_avi_mjpeg);
    mjpeg_frame_stats walks the container with stride 2 and decodes the
    sampled frames through the real JPEG decoder. Flat fields quantize
    EXACTLY through this codec pair (DC-only blocks; round-trip verified
    for all 256 values), so width/height/channels/mean all have closed
    forms and any RIFF-walk, stride, DCT/quant or unfilter bug is a hash
    mismatch. Payloads are built and decoded executor-side (Arrow
    mapInPandas both sides); only frame-stat rows move."""
    # JPEG encode+decode is pure CPU per row; the doc_id feed
    # repartitions to core-count tasks when the scan arrives as fewer
    # splits (structural no-op at production file counts)
    docs = min_row_parallelism(
        read_sf_table(spark, sf, "documents").select("doc_id")
    )

    def avi(doc_id: int) -> bytes:
        w, h = 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2)
        frames = [
            encode_jpeg(w, h, 1, bytes([(doc_id * 37 + i * 59) % 256]) * (w * h))
            for i in range(2 + doc_id % 3)
        ]
        return X_mm.encode_avi_mjpeg(frames, fps=10, width=w, height=h)

    media = _synth_media(docs, avi)
    out = X_mm.mjpeg_frame_stats(media, every_n_frames=2)
    return out.select(
        "doc_id",
        "frame_idx",
        "width",
        "height",
        "channels",
        F.round("mean_intensity", 6).alias("mean_intensity"),
    )


def _xs4_sql() -> str:
    return (
        "SELECT doc_id, CAST(t.idx AS INT) AS frame_idx,"
        " CAST(8 * (1 + doc_id % 3) AS INT) AS width,"
        " CAST(8 * (1 + doc_id % 2) AS INT) AS height,"
        " CAST(1 AS INT) AS channels,"
        " round(CAST((doc_id * 37 + t.idx * 59) % 256 AS DOUBLE) / 255.0, 6)"
        "  AS mean_intensity"
        " FROM documents, UNNEST([0, 2]) AS t(idx)"
        " WHERE t.idx < 2 + doc_id % 3"
    )


_register("xs4_mjpeg_frame_pipeline", _xs4, _xs4_sql())


_XS5_MAX_BUCKET = 2


def _xs5(spark: SparkSession, sf: str) -> DataFrame:
    """Guard-ON LSH candidate pairs (round-7 verdict item 8): the
    mega-bucket star guard (dedup.lsh_candidate_pairs max_bucket_size) is
    default-off for x02 oracle parity, so no other driver row exercises
    guard-on semantics — yet the prune is deterministic, so an oracle can
    replay it exactly: buckets with more than `max_bucket_size` members
    emit a STAR (bucket-min id -> every other member, n-1 edges) instead
    of the all-pairs enumeration. The cap here (2) is sized to the tiny
    test corpora so oversized buckets actually exist at sf0.001/sf0.01
    (max observed bucket = 4/3) and the star path is gate-covered; at
    100 TB the same code runs with cap ~10_000. The md5/k=3/h16/b4
    parameters match x02 exactly, so guard-on-vs-off is the ONLY
    difference between this oracle and x02's."""
    docs = read_sf_table(spark, sf, "documents")
    return X_dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=16, bands=4, mode="md5",
        max_bucket_size=_XS5_MAX_BUCKET,
    )


def _xs5_sql() -> str:
    # the x02 minhash->band pipeline fragments, then the guard replayed in
    # SQL: per-bucket counts split small buckets (all-pairs) from oversized
    # ones (star from the bucket-min id)
    cap = _XS5_MAX_BUCKET
    return (
        f"WITH {_SHINGLE_SQL}, {_LSH_BANDS_SQL},"
        " bk AS (SELECT band, band_hash, count(*) AS n, min(id) AS min_id"
        "  FROM bands GROUP BY 1, 2)"
        " SELECT DISTINCT id_a, id_b FROM ("
        "  SELECT a.id AS id_a, b.id AS id_b"
        "  FROM bands a JOIN bands b USING (band, band_hash)"
        f"  JOIN bk USING (band, band_hash) WHERE bk.n <= {cap} AND a.id < b.id"
        "  UNION ALL"
        "  SELECT bk.min_id AS id_a, b.id AS id_b"
        "  FROM bands b JOIN bk USING (band, band_hash)"
        f"  WHERE bk.n > {cap} AND b.id <> bk.min_id)"
    )


_register("xs5_guarded_lsh_pairs", _xs5, _xs5_sql())


# --------------------------------------------------------------------------
# Round-11 registration: nine queries registered per the r10 verdict.
# Each passed the exact oracle gate at sf0.001 AND sf0.01 plus the lint's
# core bans and the oracle dtype-pairing audit before registration (the
# one refactor: xs12's oracle now composes _xs7_perdoc_sql() instead of
# string-splitting xs7's SQL — r10 ADVICE item 3).


# Calibrated to the synthetic corpus: per-source token totals sit at
# 1.1-1.7k per source at the gate SFs (20 sources, ~27k total tokens), so
# with epoch cap 1.0 a 26k budget splits the sorted source list mid-range
# — 7 capped / 13 uniform at sf0.001, 9/11 at sf0.01 — exercising BOTH
# branches of the closed form (min |L_i - B| >= 18 tokens, and every L_i
# is an exact integer in double, so the strict < threshold can't flip).
# At sf0.1 sources are ~10x bigger and nothing caps: pure uniform split.
_XS6_BUDGET = 26_000.0
_XS6_EPOCH_CAP = 1.0


def _xs6(spark: SparkSession, sf: str) -> DataFrame:
    """UniMax source mixing (Chung et al. 2023, arXiv:2304.09151): spread
    a total token budget as uniformly as possible over sources, capped at
    `epoch_cap` epochs per source — the fairness-motivated alternative to
    temperature sampling, and the allocation step beside x95's rate
    planner. The greedy walk has a closed form (capping is monotone in
    the source-size order — sampling.unimax_mix docstring derives it), so
    the whole op is ONE corpus-grain token aggregate followed by
    arithmetic on #sources rows (broadcast self-join for rank/prefix sum,
    1-row broadcast cross joins for the scalars — no window, no global
    sort)."""
    docs = read_sf_table(spark, sf, "documents")
    # a NULL source is not an allocatable source — filtered on BOTH
    # sides (unimax_mix's rank/prefix broadcast self-join is
    # null-rejecting, while the oracle's window keeps the NULL group)
    per = docs.filter(F.col("source").isNotNull()).groupBy("source").agg(
        F.sum(X_text.token_count("text").cast("long")).alias("__tok")
    )
    return X_samp.unimax_mix(
        per, "source", "__tok", budget=_XS6_BUDGET, epoch_cap=_XS6_EPOCH_CAP
    )


def _unimax_sql(b: float, e: float, c: str) -> str:
    """sampling.unimax_mix's allocation of budget `b` with epoch cap `e`
    over the CTE `per(source, t)`; `c` names the capped-flag CTE."""
    return (
        " r AS (SELECT source, t,"
        "   CAST(count(*) OVER (ORDER BY t, source) AS BIGINT) AS rnk,"
        "   CAST(sum(t) OVER (ORDER BY t, source) AS BIGINT) AS cum_le,"
        "   CAST(count(*) OVER () AS BIGINT) AS n"
        "  FROM per),"
        f" {c} AS (SELECT *, {e!r} * (t * (n - rnk + 1) + (cum_le - t)) < {b!r}"
        "    AS capped FROM r),"
        " g AS (SELECT CAST(sum(CASE WHEN capped THEN t ELSE 0 END) AS BIGINT)"
        "    AS ct,"
        "   CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT) AS nc"
        f"  FROM {c})"
        " SELECT source, t AS tokens_available, capped,"
        f"  round(CASE WHEN capped THEN {e!r} * t"
        f"   ELSE ({b!r} - {e!r} * ct) / (n - nc) END + 1e-9, 6)"
        "   AS tokens_allocated,"
        f"  round((CASE WHEN capped THEN {e!r} * t"
        f"   ELSE ({b!r} - {e!r} * ct) / (n - nc) END) / t + 1e-9, 6) AS epochs"
        f" FROM {c}, g"
    )


def _xs6_sql() -> str:
    b, e = _XS6_BUDGET, _XS6_EPOCH_CAP
    return (
        "WITH per AS (SELECT source,"
        "   CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS t"
        "  FROM documents WHERE source IS NOT NULL GROUP BY 1),"
        + _unimax_sql(b, e, "c")
    )


_register("xs6_unimax_mix", _xs6, _xs6_sql())


# 20% deterministic held-out slice; lam mirrors x63's Jelinek-Mercer mix.
_XS7_LAM = 0.7


def _xs7(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source held-out perplexity under an interpolated bigram LM fit
    on the TRAIN slice only (textstats.heldout_bigram_nll) — the scoring
    stage of a perplexity quality filter: fit a reference LM, score
    candidate text, drop the high-perplexity tail. Extends x63 (which
    fits and scores on the same corpus) with an honest train/held-out
    split (doc_id % 5 = 0 held out) and add-1 OOV flooring, then rolls
    the doc-grain sums up to source grain — the grain a mixing decision
    reads. Count tables at vocabulary grain, unseen keys LEFT-join to 0,
    scalars broadcast: x63's exact shuffle shape."""
    docs = read_sf_table(spark, sf, "documents")
    nll = X_text.heldout_bigram_nll(
        docs, "doc_id", "text", holdout=F.col("doc_id") % 5 == 0, lam=_XS7_LAM
    )
    src = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("id"), "source"
    )
    return (
        nll.join(src, "id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_scored").cast("long").alias("n_tokens"),
            (F.sum("sum_nll") / F.sum("n_scored")).alias("__avg"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("__avg") + 1e-9, 6).alias("avg_nll"),
            F.round(F.exp(F.col("__avg")) + 1e-9, 6).alias("ppl"),
        )
    )


def _xs7_perdoc_sql() -> str:
    """The shared per-doc NLL CTE chain (fit bigram JM LM on the train
    slice, score the held-out slice, sum to doc grain as `perdoc(id, ns,
    snll)`) that BOTH _xs7_sql (source-grain rollup) and _xs12_sql
    (doc-grain keep decision) compose — factored so a reword of one
    oracle cannot silently corrupt the other (r10 ADVICE item 3)."""
    lam = _XS7_LAM
    return (
        "WITH base AS (SELECT doc_id AS id, source, (doc_id % 5 = 0) AS ho,"
        f"   {_LOWER_TOKS_SQL} AS toks"
        "  FROM documents WHERE text IS NOT NULL),"
        " tr AS (SELECT * FROM base WHERE NOT ho),"
        " hd AS (SELECT * FROM base WHERE ho),"
        " uni AS (SELECT w, count(*) AS c1 FROM ("
        "   SELECT unnest(toks) AS w FROM tr) u WHERE w <> '' GROUP BY 1),"
        " scal AS (SELECT CAST(sum(c1) AS DOUBLE) AS n,"
        "   CAST(count(*) AS DOUBLE) AS v FROM uni),"
        " bi AS (SELECT w_prev, w, count(*) AS c2 FROM ("
        "   SELECT toks[i] AS w_prev, toks[i+1] AS w"
        "   FROM tr, UNNEST(range(1, greatest(len(toks)-1, 0)+1)) AS t(i)"
        "   WHERE len(toks) >= 2"
        "    AND toks[i] <> '' AND toks[i+1] <> '') b GROUP BY 1, 2),"
        " bh AS (SELECT id, toks[i] AS w_prev, toks[i+1] AS w"
        "  FROM hd, UNNEST(range(1, greatest(len(toks)-1, 0)+1)) AS t(i)"
        "  WHERE len(toks) >= 2 AND toks[i] <> '' AND toks[i+1] <> ''),"
        f" sb AS (SELECT id, -ln({lam!r} * (CASE WHEN coalesce(cp.c1, 0) > 0"
        "     THEN CAST(coalesce(b.c2, 0) AS DOUBLE) / cp.c1 ELSE 0.0 END)"
        f"   + {1.0 - lam!r} * (coalesce(u.c1, 0) + 1.0) / (n + v + 1.0)) AS nll"
        "  FROM bh LEFT JOIN bi b USING (w_prev, w)"
        "   LEFT JOIN uni cp ON cp.w = bh.w_prev"
        "   LEFT JOIN uni u ON u.w = bh.w, scal),"
        " fst AS (SELECT id, -ln((coalesce(c1, 0) + 1.0) / (n + v + 1.0)) AS nll"
        "  FROM (SELECT id, toks[1] AS w FROM hd"
        "    WHERE len(toks) >= 1 AND toks[1] <> '') f"
        "   LEFT JOIN uni USING (w), scal),"
        " perdoc AS (SELECT id, count(*) AS ns, sum(nll) AS snll"
        "  FROM (SELECT * FROM sb UNION ALL SELECT * FROM fst) a GROUP BY 1)"
    )


def _xs7_sql() -> str:
    return (
        _xs7_perdoc_sql()
        + " SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
        "  CAST(sum(ns) AS BIGINT) AS n_tokens,"
        "  round(sum(snll) / sum(ns) + 1e-9, 6) AS avg_nll,"
        "  round(exp(sum(snll) / sum(ns)) + 1e-9, 6) AS ppl"
        " FROM perdoc JOIN (SELECT id, source FROM hd) s USING (id)"
        " GROUP BY 1"
    )


_register("xs7_heldout_perplexity", _xs7, _xs7_sql())


_XS8_M = 2


def _xs8(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-aware (cluster-balanced) sampling over x14's duplicate
    clusters: keep at most m=2 md5-deterministic representatives per
    connected component of the minhash-LSH dup graph, singletons pass
    through — the mixing step that stops a viral template family from
    dominating a sampled corpus while still representing it
    (sampling.cluster_balanced_sample). Consumes the shared dedup-CC
    silver, so the pair pipeline is paid once per session across all
    clustering consumers; the pick rank runs hierarchically
    (hash-prefix shards, local_prune=m) so even a viral mega-family
    never funnels through one sorting task."""
    docs = read_sf_table(spark, sf, "documents")
    cc = shared_dedup_clusters(spark, sf)
    return X_samp.cluster_balanced_sample(docs, "doc_id", cc, m=_XS8_M).select(
        "doc_id", "cluster_id", "cluster_size", "pick_rank"
    )


def _xs8_sql() -> str:
    return (
        _X14_CC_SQL
        + ", funi AS (SELECT doc_id AS fid,"
        "   coalesce(cc.cluster_id, doc_id) AS cluster_id"
        "  FROM documents LEFT JOIN cc ON cc.id = documents.doc_id),"
        " rr AS (SELECT fid, cluster_id,"
        "   CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)"
        "    AS cluster_size,"
        "   CAST(row_number() OVER (PARTITION BY cluster_id"
        "    ORDER BY md5(CAST(fid AS VARCHAR)), fid) AS BIGINT) AS pick_rank"
        "  FROM funi)"
        " SELECT fid AS doc_id, cluster_id, cluster_size, pick_rank"
        f" FROM rr WHERE pick_rank <= {_XS8_M}"
    )


_register("xs8_cluster_balanced_sample", _xs8, _xs8_sql())


# T=3 sits in the published multilingual-mixing range (T in [1, 5]);
# 1/T = 1/3 keeps the exponent exactly representable-by-division on both
# engines (the round-6 armor absorbs libm pow ulp either way).
_XS9_TEMPERATURE = 3.0
_XS9_BUDGET = 26_000.0


def _xs9(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based source sampling — the standard alternative UniMax
    (xs6) was published against: sampling weight w_s ∝ tokens_s^(1/T),
    T>1 flattens the source distribution toward uniform without UniMax's
    hard epoch cap (T=1 is proportional, T→∞ is uniform). The third
    mixing strategy beside x95's rate planner and xs6 — together they
    cover the source-mixing design space every published pretraining
    recipe picks from. One corpus-grain token aggregate; the power-law
    normalization folds in via a 1-row broadcast cross join (source-grain
    arithmetic, no window, no sort)."""
    docs = read_sf_table(spark, sf, "documents")
    per = docs.groupBy("source").agg(
        F.sum(X_text.token_count("text").cast("long")).alias("__tok")
    )
    return X_samp.temperature_mix(
        per, "source", "__tok",
        budget=_XS9_BUDGET, temperature=_XS9_TEMPERATURE,
    )


def _temperature_mix_sql(b: float, t: float) -> str:
    """sampling.temperature_mix's weights and allocation of budget `b` at
    temperature `t`, over the CTE `per(source, tok)`."""
    return (
        f" p AS (SELECT source, tok, power(tok, 1.0 / {t!r}) AS pw FROM per),"
        " z AS (SELECT sum(pw) AS zt FROM p)"
        " SELECT source, tok AS tokens_available,"
        "  round(pw / zt + 1e-9, 6) AS weight,"
        f"  round({b!r} * pw / zt + 1e-9, 6) AS tokens_allocated,"
        f"  round({b!r} * pw / zt / tok + 1e-9, 6) AS epochs"
        " FROM p, z"
    )


def _xs9_sql() -> str:
    b, t = _XS9_BUDGET, _XS9_TEMPERATURE
    return (
        "WITH per AS (SELECT source,"
        "   CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)"
        "    AS tok"
        "  FROM documents GROUP BY 1),"
        + _temperature_mix_sql(b, t)
    )


_register("xs9_temperature_mix", _xs9, _xs9_sql())


def _xs10(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher hard-filter rule battery (Rae et al. 2021, Table A1)
    over the documents corpus — the third published quality-filter SHAPE
    beside x08's weighted score and x43's logistic head: per document,
    every rule's measured value, its boolean flag, and the conjunction.
    On this synthetic corpus the discriminating rules are word count
    (docs span 10-99 tokens across the 50 boundary) and the 8-stopword
    requirement; the symbol/bullet/ellipsis/alpha rules hold uniformly
    (single-line, punctuation-free text) but are computed faithfully.
    The '#' and '...' symbol ratios are tested SEPARATELY against 0.1
    each, per the paper's "either" wording (r10 ADVICE fix). Pure
    Column expressions — whole-stage codegen, no explode/join."""
    docs = read_sf_table(spark, sf, "documents")
    return X_text.gopher_rules(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


def _xs10_sql() -> str:
    bullets = " OR ".join(
        f"starts_with(trim(l), '{g}')" for g in ("•", "‣", "▶", "-", "*")
    )
    stops = " + ".join(
        f"CAST(list_contains(lt, '{w}') AS INT)"
        for w in ("the", "be", "to", "of", "and", "that", "have", "with")
    )
    return (
        "WITH base AS (SELECT doc_id, text,"
        "   string_split_regex(trim(text), '\\s+') AS toks,"
        "   string_split(text, chr(10)) AS lines,"
        f"   {_LOWER_TOKS_SQL} AS lt"
        "  FROM documents),"
        " m AS (SELECT doc_id,"
        "   CAST(len(toks) AS BIGINT) AS n_words,"
        "   round(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)"
        "    / len(toks) + 1e-9, 6) AS mean_word_len,"
        "   round(CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)"
        "    / len(toks) + 1e-9, 6) AS hash_ratio,"
        "   round(CAST(len(string_split(text, '...')) - 1 AS DOUBLE)"
        "    / len(toks) + 1e-9, 6) AS ellipsis_ratio,"
        f"   round(CAST(len(list_filter(lines, l -> {bullets})) AS DOUBLE)"
        "    / len(lines) + 1e-9, 6) AS bullet_frac,"
        "   round(CAST(len(list_filter(lines, l -> ends_with(trim(l), '...')"
        "    OR ends_with(trim(l), '…'))) AS DOUBLE)"
        "    / len(lines) + 1e-9, 6) AS ellipsis_frac,"
        "   round(CAST(len(list_filter(toks,"
        "    t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)"
        "    / len(toks) + 1e-9, 6) AS alpha_word_frac,"
        f"   CAST({stops} AS BIGINT) AS n_stopwords"
        "  FROM base)"
        " SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_ratio,"
        "  bullet_frac, ellipsis_frac, alpha_word_frac, n_stopwords,"
        "  (n_words >= 50 AND n_words <= 100000) AS ok_word_count,"
        "  (mean_word_len >= 3.0 AND mean_word_len <= 10.0)"
        "   AS ok_mean_word_len,"
        "  (hash_ratio <= 0.1) AS ok_hash_ratio,"
        "  (ellipsis_ratio <= 0.1) AS ok_ellipsis_ratio,"
        "  (bullet_frac <= 0.9) AS ok_bullets,"
        "  (ellipsis_frac <= 0.3) AS ok_ellipsis,"
        "  (alpha_word_frac >= 0.8) AS ok_alpha_words,"
        "  (n_stopwords >= 2) AS ok_stopwords,"
        "  (n_words >= 50 AND n_words <= 100000"
        "   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0"
        "   AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1"
        "   AND bullet_frac <= 0.9"
        "   AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8"
        "   AND n_stopwords >= 2) AS keep"
        " FROM m"
    )


_register("xs10_gopher_rules", _xs10, _xs10_sql())


# Gopher Table A1 repetition thresholds for the implemented rules.
_XS11_THRESHOLDS = {
    "top2": 0.20, "top3": 0.18, "top4": 0.16, "dup5": 0.15, "dup10": 0.10,
}


def _xs11(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher REPETITION battery (Rae et al. 2021, Table A1) — the
    within-document companion of xs10's rule battery: top-n-gram
    character fraction (n = 2, 3, 4) and positional duplicate-n-gram
    character coverage (family endpoints n = 5, 10), each with the
    paper's threshold flag and the keep conjunction. On this corpus the
    top-n rules discriminate (top2 spans 0.005-0.36 across the 0.20
    threshold); no doc repeats a 5-gram, so the dup rules hold uniformly
    but run the full positional-coverage kernel. Group-bys and
    equi-joins at (doc, gram) / (doc, position) grain — no window, no
    UDF (textstats.gopher_repetition)."""
    # the positional n-gram explode is CPU-dense per row; rows
    # repartition to core-count tasks when the scan arrives as fewer
    # splits (structural no-op at production file counts)
    docs = min_row_parallelism(read_sf_table(spark, sf, "documents"))
    out = X_text.gopher_repetition(docs, "doc_id", "text")
    flags = {
        f"ok_{k}": F.col(f"{k}_frac") <= t for k, t in _XS11_THRESHOLDS.items()
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return out.select(
        F.col("id").alias("doc_id"),
        "top2_frac", "top3_frac", "top4_frac", "dup5_frac", "dup10_frac",
        *[c.alias(n) for n, c in flags.items()],
        keep.alias("keep"),
    )


def _xs11_sql() -> str:
    th = _XS11_THRESHOLDS

    def top_cte(n: int) -> str:
        return (
            f" g{n} AS (SELECT id, array_to_string(toks[i:i+{n - 1}], ' ') AS g"
            f"  FROM base, UNNEST(range(1, greatest(len(toks)-{n - 1}, 0)+1))"
            "   AS t(i)),"
            f" c{n} AS (SELECT id, g, count(*) AS c FROM g{n} GROUP BY 1, 2),"
            f" t{n} AS (SELECT id, c, len(g) - {n - 1} AS glen FROM"
            f"  (SELECT *, row_number() OVER (PARTITION BY id"
            f"    ORDER BY c DESC, g) AS rn FROM c{n}) r WHERE rn = 1),"
        )

    def dup_cte(n: int) -> str:
        return (
            f" gi{n} AS (SELECT id, i, array_to_string(toks[i:i+{n - 1}], ' ')"
            "   AS g"
            f"  FROM base, UNNEST(range(1, greatest(len(toks)-{n - 1}, 0)+1))"
            "   AS t(i)),"
            f" d{n} AS (SELECT id, g FROM gi{n} GROUP BY 1, 2"
            "   HAVING count(*) >= 2),"
            f" cov{n} AS (SELECT DISTINCT id, i + o AS tp"
            f"  FROM gi{n} JOIN d{n} USING (id, g),"
            f"   UNNEST(range(0, {n})) AS u(o)),"
            f" cc{n} AS (SELECT id, sum(tl) AS cc"
            f"  FROM cov{n} JOIN tk USING (id, tp) GROUP BY 1),"
        )

    frac = "round(coalesce(1.0 * {num} / chars, 0.0) + 1e-9, 6)"
    tops = {n: frac.format(num=f"t{n}.c * t{n}.glen") for n in (2, 3, 4)}
    dups = {n: frac.format(num=f"cc{n}.cc") for n in (5, 10)}
    flags = (
        f"(top2_frac <= {th['top2']!r}) AS ok_top2,"
        f" (top3_frac <= {th['top3']!r}) AS ok_top3,"
        f" (top4_frac <= {th['top4']!r}) AS ok_top4,"
        f" (dup5_frac <= {th['dup5']!r}) AS ok_dup5,"
        f" (dup10_frac <= {th['dup10']!r}) AS ok_dup10,"
        f" (top2_frac <= {th['top2']!r} AND top3_frac <= {th['top3']!r}"
        f"  AND top4_frac <= {th['top4']!r} AND dup5_frac <= {th['dup5']!r}"
        f"  AND dup10_frac <= {th['dup10']!r}) AS keep"
    )
    return (
        "WITH base AS (SELECT doc_id AS id,"
        f"   {_LOWER_TOKS_SQL} AS toks"
        "  FROM documents),"
        " tot AS (SELECT id, CAST(list_sum(list_transform(toks, t -> len(t)))"
        "   AS BIGINT) AS chars FROM base),"
        " tk AS (SELECT id, i AS tp, len(toks[i]) AS tl"
        "  FROM base, UNNEST(range(1, len(toks)+1)) AS t(i)),"
        + top_cte(2) + top_cte(3) + top_cte(4) + dup_cte(5) + dup_cte(10)
        + " m AS (SELECT tot.id AS doc_id,"
        f"  {tops[2]} AS top2_frac, {tops[3]} AS top3_frac,"
        f"  {tops[4]} AS top4_frac,"
        f"  {dups[5]} AS dup5_frac, {dups[10]} AS dup10_frac"
        "  FROM tot"
        "  LEFT JOIN t2 ON t2.id = tot.id LEFT JOIN t3 ON t3.id = tot.id"
        "  LEFT JOIN t4 ON t4.id = tot.id LEFT JOIN cc5 ON cc5.id = tot.id"
        "  LEFT JOIN cc10 ON cc10.id = tot.id)"
        f" SELECT doc_id, top2_frac, top3_frac, top4_frac, dup5_frac,"
        f"  dup10_frac, {flags} FROM m"
    )


_register("xs11_gopher_repetition", _xs11, _xs11_sql())


# Calibrated to the synthetic corpus: held-out per-doc perplexities sit
# in [28.9, 34.4] at the gate SFs; 30.21 bifurcates (26% kept at
# sf0.001, 29% at sf0.01) and the closest doc ppl is 0.0178 away — seven
# orders of magnitude above cross-engine exp/ln drift, and pinned by
# test_xs12_threshold_margin_on_corpus so a regenerated fixture fails
# loudly instead of flipping the keep flag sporadically.
_XS12_PPL_THRESHOLD = 30.21


def _xs12(spark: SparkSession, sf: str) -> DataFrame:
    """The perplexity filter's KEEP decision at document grain — the
    filter xs7 diagnoses at source grain: fit the bigram LM on the
    reference slice (doc_id % 5 != 0), score every candidate doc
    (doc_id % 5 = 0), keep those under the ppl threshold. This is the
    published quality-filter loop (CCNet-style: reference LM ->
    candidate perplexity -> threshold) with this engine's exact-oracle
    discipline: the keep flag compares the ROUNDED perplexity so the
    boundary cannot flip across engines, and the threshold's distance
    to the corpus is margin-pinned by test."""
    docs = read_sf_table(spark, sf, "documents")
    nll = X_text.heldout_bigram_nll(
        docs, "doc_id", "text", holdout=F.col("doc_id") % 5 == 0, lam=_XS7_LAM
    )
    ppl = F.round(F.exp(F.col("sum_nll") / F.col("n_scored")) + 1e-9, 6)
    return nll.select(
        F.col("id").alias("doc_id"),
        F.col("n_scored").alias("n_tokens"),
        ppl.alias("ppl"),
        (ppl < _XS12_PPL_THRESHOLD).alias("keep"),
    )


def _xs12_sql() -> str:
    t = _XS12_PPL_THRESHOLD
    return (
        _xs7_perdoc_sql()
        + " SELECT id AS doc_id, CAST(ns AS BIGINT) AS n_tokens,"
        "  round(exp(snll / ns) + 1e-9, 6) AS ppl,"
        f"  (round(exp(snll / ns) + 1e-9, 6) < {t!r}) AS keep"
        " FROM perdoc"
    )


_register("xs12_perplexity_filter", _xs12, _xs12_sql())


def _s18(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher rule battery running UNCHANGED on the ingestion
    stream — the production shape of a quality filter (documents arrive
    continuously; gating them at ingest avoids a second corpus pass).
    gopher_rules is pure stateless Column expressions, so the streaming
    plan is a map over micro-batches: no state store, no watermark,
    exactly-once trivially (same row in = same flags out, any batching).
    Drained via the availableNow memory sink like every s-query's test
    harness; the production sink is the foreachBatch parquet path
    (streaming/ingest.py). Oracle: identical to xs10's — a stateless
    stream drain IS the batch result."""
    docs = stream_sf_table(spark, sf, "documents")
    gated = X_text.gopher_rules(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )
    return drain(gated)


_register("s18_stream_quality_gate", _s18, _xs10_sql())


_XS13_K = 5


def _xs13(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR's RESAMPLING step, end-to-end: the importance weights xs2
    computes are only useful once they select a corpus, and the
    published recipe is importance resampling — draw documents with
    probability tied to their target-likeness. Deterministic
    formulation: Efraimidis-Spirakis A-ES keys ln(u) / w with
    w = exp(log_w / n_tokens) (the per-token-normalized importance the
    dsir_log_weights docstring prescribes) and a 24-bit md5-derived u
    (x99's hash-replaces-RNG trick, salt 'dsir|'), top K=5 per source —
    source-balanced importance resampling, the mixing-aware variant of
    a global draw. The per-source top-K runs hierarchically (x99's
    range-sharded rank, local_prune=K); everything upstream is xs2's
    broadcast-ratio scoring pass."""
    docs = read_sf_table(spark, sf, "documents")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    dw = X_samp.dsir_log_weights(docs, target, "doc_id", "text")
    keyed = dw.join(docs.select("doc_id", "source"), "doc_id").select(
        "source",
        "doc_id",
        "n_tokens",
        "log_w",
        (
            F.log(
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit("dsir|"),
                                    F.col("doc_id").cast("string"),
                                )
                            ),
                            1,
                            6,
                        ),
                        16,
                        10,
                    ).cast("double")
                    + 0.5
                )
                / F.lit(16777216.0)
            )
            / F.exp(F.col("log_w") / F.col("n_tokens"))
        ).alias("__key"),
    )
    ranked = X_samp._hierarchical_row_number(
        keyed,
        ["source"],
        [F.col("__key").desc(), F.col("doc_id")],
        F.floor(-F.col("__key") * 1024).cast("long"),
        "__rk",
        local_prune=F.lit(_XS13_K),
    )
    return ranked.filter(F.col("__rk") <= _XS13_K).select(
        "source",
        "doc_id",
        "n_tokens",
        "log_w",
        F.col("__rk").cast("long").alias("sample_rank"),
    )


def _xs13_sql() -> str:
    u24 = (
        "(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576"
        " + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536"
        " + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096"
        " + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 256"
        " + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 1) + 0.5)"
    )
    return (
        "WITH dw AS (" + _xs2_sql() + "),"
        " b AS (SELECT d.source, dw.doc_id, dw.n_tokens, dw.log_w,"
        "   md5('dsir|' || CAST(dw.doc_id AS VARCHAR)) AS h"
        "  FROM dw JOIN documents d USING (doc_id)),"
        f" k AS (SELECT source, doc_id, n_tokens, log_w, ln({u24}"
        "    / 16777216.0) / exp(log_w / n_tokens) AS key FROM b),"
        " r AS (SELECT source, doc_id, n_tokens, log_w,"
        "   row_number() OVER (PARTITION BY source"
        "    ORDER BY key DESC, doc_id) AS rk FROM k)"
        " SELECT source, doc_id, n_tokens, log_w,"
        "  CAST(rk AS BIGINT) AS sample_rank"
        f" FROM r WHERE rk <= {_XS13_K}"
    )


_register("xs13_dsir_resample", _xs13, _xs13_sql())


# --------------------------------------------------------------------------
# -- round-12 registrations: the xs14+ corpus-curation batch (staged and
# -- gate-verified in round 11 at sf0.001/0.01/0.1; moved here verbatim).
# -- C4 line-level cleaning (Raffel et al. 2020 SS2.2), CCNet cross-document
# -- line dedup (Wenzek et al. 2020 SS3.1), Okapi BM25 selection, Best-Fit-
# -- Decreasing packing (Ding et al. 2024), the curation->mixing capstone,
# -- soft (reweighting) dedup, and the two streaming curation seams.
# --------------------------------------------------------------------------


# Shared 8-token line grain for the xs14/xs15 reconstruction.
_LINE_WIDTH = 8


def _toked(df: DataFrame, *keep: str) -> DataFrame:
    """Pre-project the whitespace tokenization into a real `__toks`
    column (plus the named passthrough columns). r16 hoist rule: a
    higher-order-function lambda re-evaluates any row-dependent
    expression it CLOSES OVER once per array element — transform(
    sequence(...), lambda i: slice(split(text), ...)) re-splits the
    document per line/gram, O(len^2) per doc. Hoisting the split into
    its own Project makes the lambda close over an attribute instead
    (CollapseProject does not inline multi-referenced non-trivial
    aliases), measured 2.5-6x on the chunk/gram explodes (r16)."""
    return df.select(
        *keep, F.split(F.trim(F.col("text")), r"\s+").alias("__toks")
    )


def _chunk_lines(markers: bool) -> Column:
    """doc `__toks` array (pre-projected via _toked — see the hoist rule
    there) -> array of 8-token lines, optionally with the C4 trigger
    markers ('lorem ipsum ' prefix on line 0 of doc_id%37==0 docs, ' {'
    on line 1 of %23 docs, ' javascript' on line 2 of %29 docs) and the
    deterministic terminal '.' on lines with (doc_id + i) % 3 != 0 —
    arithmetic on (doc_id, line index) only, replayed verbatim in SQL."""
    toks = F.col("__toks")
    n_lines = F.ceil(F.size(toks) / F.lit(float(_LINE_WIDTH)))
    did = F.col("doc_id")

    def line(i: Column) -> Column:
        core = F.array_join(F.slice(toks, i * _LINE_WIDTH + 1, _LINE_WIDTH), " ")
        if markers:
            core = F.when(
                (did % 37 == 0) & (i == 0), F.concat(F.lit("lorem ipsum "), core)
            ).otherwise(core)
            core = F.when(
                (did % 23 == 0) & (i == 1), F.concat(core, F.lit(" {"))
            ).otherwise(core)
            core = F.when(
                (did % 29 == 0) & (i == 2), F.concat(core, F.lit(" javascript"))
            ).otherwise(core)
            core = F.when(
                ((did + i) % 3) != 0, F.concat(core, F.lit("."))
            ).otherwise(core)
        return core

    return F.transform(F.sequence(F.lit(0), (n_lines - 1).cast("long")), line)


def _chunk_lines_sql(markers: bool) -> str:
    inj = (
        "(CASE WHEN doc_id % 37 = 0 AND i = 0 THEN 'lorem ipsum ' ELSE '' END)"
        " || {core}"
        " || (CASE WHEN doc_id % 23 = 0 AND i = 1 THEN ' {{' ELSE '' END)"
        " || (CASE WHEN doc_id % 29 = 0 AND i = 2 THEN ' javascript' ELSE '' END)"
        " || (CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END)"
        if markers
        else "{core}"
    )
    w = _LINE_WIDTH
    expr = inj.format(core=f"array_to_string(toks[{w}*i+1:{w}*i+{w}], ' ')")
    return (
        "WITH t AS (SELECT doc_id,"
        "   string_split_regex(trim(text), '\\s+') AS toks FROM documents),"
        " ln AS (SELECT doc_id,"
        f"   list_transform(range(0, CAST(ceil(len(toks)/{float(w)!r})"
        f"    AS BIGINT)), i -> {expr}) AS lines"
        "  FROM t)"
    )


def _xs14(spark: SparkSession, sf: str) -> DataFrame:
    """The C4 line-level cleaning battery (Raffel et al. 2020, §2.2) over
    the reconstructed multi-line corpus — the line-grain companion of
    xs10's doc-grain Gopher battery: C4 cleans INSIDE a page (terminal-
    punctuation line keep, >= 3-word line, 'javascript' line drop)
    before judging the page (>= 5 kept lines, no 'lorem ipsum', no curly
    brace). Line reconstruction + marker injection are deterministic
    doc_id/line-index arithmetic (_chunk_lines docstring), replayed
    verbatim in the oracle; the battery itself is
    textstats.c4_line_stats — pure Column expressions, no explode, no
    join, whole-stage codegen at scan speed."""
    docs = read_sf_table(spark, sf, "documents")
    synth = _toked(docs, "doc_id").select(
        "doc_id", F.array_join(_chunk_lines(markers=True), "\n").alias("text")
    )
    return X_text.c4_line_stats(synth, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


def _xs14_sql() -> str:
    term = " OR ".join(
        f"ends_with(trim(l), '{p}')" for p in (".", "!", "?")
    ) + " OR ends_with(trim(l), '\"')"
    return (
        _chunk_lines_sql(markers=True)
        + ", d2 AS (SELECT doc_id, array_to_string(lines, chr(10)) AS text2"
        "   FROM ln),"
        " m AS (SELECT doc_id, string_split(text2, chr(10)) AS ls, text2"
        "   FROM d2),"
        " k AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,"
        f"   CAST(len(list_filter(ls, l -> ({term})"
        "     AND len(string_split_regex(trim(l), '\\s+')) >= 3"
        "     AND NOT contains(lower(l), 'javascript'))) AS BIGINT)"
        "    AS n_kept_lines,"
        "   contains(lower(text2), 'lorem ipsum') AS has_lorem_ipsum,"
        "   contains(text2, '{') AS has_curly_brace"
        "  FROM m)"
        " SELECT doc_id, n_lines, n_kept_lines,"
        "  round(CAST(n_kept_lines AS DOUBLE) / n_lines + 1e-9, 6)"
        "   AS kept_frac,"
        "  has_lorem_ipsum, has_curly_brace,"
        "  (n_kept_lines >= 5) AS ok_min_lines,"
        "  (n_kept_lines >= 5 AND NOT has_lorem_ipsum AND NOT has_curly_brace)"
        "   AS keep"
        " FROM k"
    )


def _xs15(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style cross-document duplicated-LINE removal (Wenzek et al.
    2020, §3.1) over the reconstructed 8-token-line corpus — NO marker
    injection here: the raw corpus's template families align at 8-token
    boundaries, so 153 genuinely duplicated lines (328 occurrences at
    sf0.01) exist without any synthesis beyond the chunking. Keeps the
    globally first occurrence of each duplicated line, passes unique
    lines through, and emits a byte-exact md5 witness of each cleaned
    document (dedup.duplicated_line_removal docstring has the 100 TB
    shuffle-shape audit: one line-digest-grain shuffle + a digest-grain
    canonical table, no window)."""
    docs = read_sf_table(spark, sf, "documents")
    synth = _toked(docs, "doc_id").select(
        "doc_id", F.array_join(_chunk_lines(markers=False), "\n").alias("text")
    )
    return X_dedup.duplicated_line_removal(synth, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


def _xs15_sql() -> str:
    return (
        _chunk_lines_sql(markers=False)
        + ", l AS (SELECT doc_id, i, lines[i+1] AS line"
        "   FROM ln, UNNEST(range(0, len(lines))) AS u(i)),"
        " h AS (SELECT doc_id, i, line, md5(line) AS dig FROM l),"
        " g1 AS (SELECT dig, count(*) AS df, min(doc_id) AS m_doc FROM h"
        "   GROUP BY 1),"
        " g2 AS (SELECT dig, min(i) AS m_idx FROM h JOIN g1 USING (dig)"
        "   WHERE h.doc_id = g1.m_doc GROUP BY 1),"
        " k AS (SELECT doc_id, i, line,"
        "   (df = 1 OR (doc_id = m_doc AND i = m_idx)) AS keep"
        "  FROM h JOIN g1 USING (dig) JOIN g2 USING (dig))"
        " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,"
        "  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,"
        "  round(sum(CASE WHEN keep THEN 1.0 ELSE 0.0 END) / count(*)"
        "   + 1e-9, 6) AS kept_frac,"
        "  md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)"
        "   ORDER BY i), '')) AS cleaned_digest"
        " FROM k GROUP BY 1"
    )


# Query-term set for the BM25 gate: three high-frequency corpus words
# with very different document frequencies, so idf and tf both move the
# ranking; k1/b are the textbook Okapi defaults.
_XS16_TERMS = ("spark", "join", "filter")
_XS16_K1 = 1.2
_XS16_B = 0.75


def _xs16(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 document scores for a fixed query — retrieval-based
    data selection (score the corpus against a target description, keep
    the top of the ranking): the lexical twin of the embedding-cosine
    selectors (x06 etc.) and the retrieval-grade upgrade of the tf-idf
    statistics (x110). textstats.bm25_scores: the exploded token stream
    is filtered to the query vocabulary BEFORE the (id, term) groupBy,
    df is query-term-grain broadcast, N/avgdl one broadcast row."""
    docs = read_sf_table(spark, sf, "documents")
    return X_text.bm25_scores(
        docs, "doc_id", "text", _XS16_TERMS, k1=_XS16_K1, b=_XS16_B
    ).withColumnRenamed("id", "doc_id")


def _xs16_sql() -> str:
    k1, b = _XS16_K1, _XS16_B
    # mirror bm25_scores' case normalization (terms here are already
    # lowercase, so this is byte-neutral for the registered oracle)
    terms = ", ".join(f"'{t.lower()}'" for t in dict.fromkeys(_XS16_TERMS))
    return (
        "WITH t AS (SELECT doc_id,"
        "   list_transform(string_split_regex(trim(text), '\\s+'),"
        "    w -> lower(w)) AS toks FROM documents),"
        " dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),"
        " s AS (SELECT CAST(count(*) AS DOUBLE) AS n,"
        "   avg(dl) AS avgdl FROM dl),"
        " tf AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf"
        "  FROM (SELECT doc_id, unnest(toks) AS w FROM t) u"
        f"  WHERE w IN ({terms}) GROUP BY 1, 2),"
        " dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf"
        "   GROUP BY 1),"
        " sc AS (SELECT doc_id,"
        "   ln(1.0 + (n - df + 0.5) / (df + 0.5))"
        f"   * tf * {k1 + 1.0!r}"
        f"   / (tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl / avgdl)) AS sco"
        "  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), s)"
        " SELECT doc_id, round(sum(sco) + 1e-9, 6) AS bm25"
        " FROM sc GROUP BY 1"
    )

# Calibrated to the synthetic corpus: budget 200 over 8-token docs of
# 10-99 tokens makes best-fit genuinely diverge from first-fit (8 of 40
# (source, shard) groups at sf0.001, 4 of 40 at sf0.01 assign at least
# one doc differently), so the gate hashes the BEST-fit decision rule,
# not just any greedy packing; max 5 bins per group keeps the oracle's
# recursive walk shallow.
_XS17_BUDGET = 200
_XS17_SHARD = 256


def _xs17(spark: SparkSession, sf: str) -> DataFrame:
    """Best-Fit-Decreasing sequence packing over the documents corpus
    (Ding et al. 2024, "Fewer Truncations Improve Language Modeling"):
    items in (size DESC, id ASC) order, each into the open bin with the
    smallest remaining capacity that fits, ties to the lowest bin index
    — the packing-QUALITY upgrade of x39's greedy running-total bins
    (fewer bins, less padding, no truncation). Sequential by nature, so
    the kernel packs within (source, doc_id-range shard) groups — the
    published group-bounded practice and x39's exact shard split — via
    one Arrow applyInPandas with a bisect-sorted open-bin list
    (textstats.best_fit_decreasing_pack docstring has the 100 TB
    posture). The oracle replays every decision with a recursive CTE."""
    docs = read_sf_table(spark, sf, "documents")
    # NULL text has no token count and cannot be packed, and a NULL
    # source no pack group (the oracle's recursive replay joins on
    # source, which is null-rejecting) — both filtered on BOTH sides;
    # a NULL sz would otherwise reach the Arrow kernel as NaN and
    # crash int()
    sized = docs.filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    ).select(
        "source", "doc_id", X_text.token_count("text").cast("long").alias("sz")
    )
    out = X_text.best_fit_decreasing_pack(
        sized, "source", "doc_id", "sz",
        budget=_XS17_BUDGET, shard_size=_XS17_SHARD,
    )
    return out.select(
        F.col("part").alias("source"),
        "shard",
        F.col("id").alias("doc_id"),
        F.col("size").alias("n_tokens"),
        "bin",
    )


def _xs17_sql() -> str:
    b, sh = _XS17_BUDGET, _XS17_SHARD
    return (
        "WITH RECURSIVE sized AS ("
        f"  SELECT source, doc_id, CAST(doc_id // {sh} AS BIGINT) AS shard,"
        "    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS sz"
        "  FROM documents"
        "  WHERE text IS NOT NULL AND source IS NOT NULL),"
        " items AS ("
        "  SELECT source, shard, doc_id, sz,"
        "    row_number() OVER (PARTITION BY source, shard"
        "     ORDER BY sz DESC, doc_id) AS rk"
        "  FROM sized),"
        " grp AS (SELECT source, shard, CAST(max(rk) AS BIGINT) AS m"
        "   FROM items GROUP BY 1, 2),"
        " walk AS ("
        "  SELECT source, shard, CAST(0 AS BIGINT) AS step,"
        "    CAST([] AS BIGINT[]) AS bins, CAST([] AS BIGINT[]) AS asg"
        "  FROM grp"
        "  UNION ALL"
        "  SELECT w.source, w.shard, w.step + 1,"
        f"    CASE WHEN fitrem IS NULL THEN list_append(w.bins, {b} - i.sz)"
        "      ELSE list_transform(range(1, len(w.bins) + 1),"
        "        j -> CASE WHEN j = list_position(w.bins, fitrem)"
        "             THEN w.bins[j] - i.sz ELSE w.bins[j] END) END,"
        "    list_append(w.asg, CASE WHEN fitrem IS NULL"
        "      THEN CAST(len(w.bins) AS BIGINT)"
        "      ELSE CAST(list_position(w.bins, fitrem) - 1 AS BIGINT) END)"
        "  FROM walk w"
        "  JOIN items i ON i.source = w.source AND i.shard = w.shard"
        "   AND i.rk = w.step + 1"
        "  CROSS JOIN LATERAL (SELECT list_min(list_filter(w.bins,"
        "    r -> r >= i.sz)) AS fitrem) f"
        " ),"
        " fin AS (SELECT w.source, w.shard, w.asg FROM walk w JOIN grp g"
        "   ON g.source = w.source AND g.shard = w.shard AND w.step = g.m)"
        " SELECT i.source, i.shard, i.doc_id, i.sz AS n_tokens,"
        "  CAST(f.asg[i.rk] AS BIGINT) AS bin"
        " FROM items i JOIN fin f"
        "  ON f.source = i.source AND f.shard = i.shard"
    )


# Calibrated to the synthetic corpus: after the dedup + C4 gates the
# surviving per-source token totals sit at ~500-1400 (gate SFs); with
# epoch cap 1.0 a 14k budget caps 4 of 20 sources at BOTH gate SFs
# (min |L_i - B| = 71 tokens at sf0.001, 693 at sf0.01 — exact-integer
# L_i in double, so the strict < threshold cannot flip); at sf0.1
# nothing caps (sources ~10x bigger): pure uniform split.
_XS18_BUDGET = 14_000.0
_XS18_EPOCH_CAP = 1.0


def _xs18(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end CURATION -> MIXING chain over the round-11 operators —
    the composition-capstone pattern (x51 curation, x126 serving, x146
    privacy): minhash-CC dedup survivors (keep the min-id exemplar per
    x14 duplicate cluster, via the shared CC silver) intersected with
    the C4 page keep (xs14's line battery over the reconstructed
    multi-line corpus), rolled up to per-source token totals of the
    ORIGINAL text, then UniMax epoch-capped allocations (xs6's closed
    form) over the surviving corpus — the actual decision sequence a
    pretraining data pipeline runs, chained as ONE plan so contract
    drift between the dedup, quality and mixing operators (id/keep
    column shapes, survivor semantics, allocation arithmetic) is a hash
    mismatch, not a silent skew. Oracle replays every stage."""
    docs = read_sf_table(spark, sf, "documents")
    cc = shared_dedup_clusters(spark, sf)
    losers = cc.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    synth = _toked(docs, "doc_id").select(
        "doc_id", F.array_join(_chunk_lines(markers=True), "\n").alias("text")
    )
    quality = (
        X_text.c4_line_stats(synth, "doc_id", "text")
        .filter(F.col("keep"))
        .select(F.col("id").alias("doc_id"))
    )
    surv = (
        docs.join(losers, "doc_id", "left_anti")
        .join(quality, "doc_id")
        .groupBy("source")
        .agg(F.sum(X_text.token_count("text").cast("long")).alias("__tok"))
    )
    return X_samp.unimax_mix(
        surv, "source", "__tok", budget=_XS18_BUDGET, epoch_cap=_XS18_EPOCH_CAP
    )


def _xs18_sql() -> str:
    b, e = _XS18_BUDGET, _XS18_EPOCH_CAP
    return (
        _X14_CC_SQL
        + ", c4 AS (" + _xs14_sql() + "),"
        " per AS (SELECT d.source,"
        "   CAST(sum(len(string_split_regex(trim(d.text), '\\s+'))) AS BIGINT)"
        "    AS t"
        "  FROM documents d JOIN c4 ON c4.doc_id = d.doc_id AND c4.keep"
        "  WHERE d.doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)"
        "  GROUP BY 1),"
        + _unimax_sql(b, e, "cx")
    )


def _xs19(spark: SparkSession, sf: str) -> DataFrame:
    """Removal-free ("soft") deduplication: instead of DROPPING a
    duplicate family's non-canonical members (x15) or keeping the best
    one (x59), give every member sampling weight 1 / |cluster| so each
    duplicate FAMILY contributes exactly one unit of expected training
    mass — the down-weight-don't-delete trade published for pretraining
    corpora (soft dedup: reweighting preserves coverage of duplicated
    content while removing its frequency advantage). Singletons weigh
    1.0; weights within a family are uniform over the x14 minhash-CC
    clusters (the shared CC silver — the same component definition every
    other dedup consumer uses, so the three strategies compose). Output:
    (doc_id, cluster_id, cluster_size, weight)."""
    docs = read_sf_table(spark, sf, "documents")
    cc = shared_dedup_clusters(spark, sf)
    mem = docs.select("doc_id").join(
        cc.select(F.col("id").alias("doc_id"), "cluster_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    size = mem.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return mem.join(size, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size") + 1e-9, 6).alias("weight"),
    )


def _xs19_sql() -> str:
    return (
        _X14_CC_SQL
        + ", mem AS (SELECT doc_id,"
        "   coalesce(cc.cluster_id, doc_id) AS cluster_id"
        "  FROM documents LEFT JOIN cc ON cc.id = documents.doc_id),"
        " sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size"
        "  FROM mem GROUP BY 1)"
        " SELECT doc_id, cluster_id, cluster_size,"
        "  round(1.0 / cluster_size + 1e-9, 6) AS weight"
        " FROM mem JOIN sz USING (cluster_id)"
    )


def _s19(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated-line removal at INGEST time — the streaming production
    shape of xs15 (CCNet dedups new shards against the existing corpus):
    each arriving document's lines (the deterministic 8-token chunking)
    left-join the STATIC corpus line-digest table, and a line whose
    digest the corpus already holds is flagged dropped on arrival. A
    stream-static join is stateless (no state store, no watermark; the
    static side re-plans per micro-batch, picking up corpus updates for
    free — s10's shape, here at line grain with the digest as the join
    key). Split: even doc_ids play the existing corpus, odd doc_ids play
    the arriving stream (83 of 1,859 arriving lines hit the corpus at
    sf0.01 — the decision genuinely bifurcates). Oracle: the identical
    batch join."""
    corpus = (
        read_sf_table(spark, sf, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .transform(_toked)
        .select(F.explode(_chunk_lines(markers=False)).alias("__line"))
        .select(F.md5("__line").alias("dig"))
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    incoming = (
        stream_sf_table(spark, sf, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .transform(lambda d: _toked(d, "doc_id"))
        .select(
            "doc_id",
            F.posexplode(_chunk_lines(markers=False)).alias("idx", "__line"),
        )
        .select(
            "doc_id",
            F.col("idx").cast("long").alias("line_idx"),
            F.md5("__line").alias("dig"),
        )
    )
    flagged = incoming.join(corpus, "dig", "left").select(
        "doc_id",
        "line_idx",
        "dig",
        F.coalesce(F.col("__hit"), F.lit(False)).alias("dropped"),
    )
    return drain(flagged)


def _s19_sql() -> str:
    return (
        _chunk_lines_sql(markers=False)
        + ", l AS (SELECT doc_id, CAST(i AS BIGINT) AS line_idx,"
        "   md5(lines[i+1]) AS dig"
        "  FROM ln, UNNEST(range(0, len(lines))) AS u(i)),"
        " corpus AS (SELECT DISTINCT dig FROM l WHERE doc_id % 2 = 0)"
        " SELECT doc_id, line_idx, dig,"
        "  (dig IN (SELECT dig FROM corpus)) AS dropped"
        " FROM l WHERE doc_id % 2 = 1"
    )


def _s20(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming CURATION STATS — the composition s19 feeds: arriving
    documents' lines anti-join the static corpus digests (novel lines
    only), then a STATEFUL per-source aggregation keeps the running
    novel-line count and token mass — the mixing denominator (xs6/xs9
    read exactly this per-source token total) maintained continuously
    at ingest. Structurally this is the one streaming state machine no
    other s-query exercises: a stream-static join FEEDING a stateful
    aggregation (s19 stops at the stateless join; s10 aggregates the
    raw stream) — the join's micro-batch output becomes the agg's
    input, so update correctness across that seam is what the oracle
    hashes. Complete-mode memory drain in the gate (10 source rows);
    the production sink is foreachBatch upsert. Oracle: the identical
    batch join + group-by."""
    corpus = (
        read_sf_table(spark, sf, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .transform(_toked)
        .select(F.explode(_chunk_lines(markers=False)).alias("__line"))
        .select(F.md5("__line").alias("dig"))
        .distinct()
    )
    novel = (
        stream_sf_table(spark, sf, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .transform(lambda d: _toked(d, "source"))
        .select(
            "source",
            F.explode(_chunk_lines(markers=False)).alias("__line"),
        )
        .withColumn("dig", F.md5("__line"))
        .join(corpus, "dig", "left_anti")
    )
    agg = novel.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept_lines"),
        F.sum(F.size(F.split(F.col("__line"), " ")).cast("long"))
        .cast("long")
        .alias("kept_tokens"),
    )
    return drain(agg, output_mode="complete", partitions=8)


def _s20_sql() -> str:
    return (
        _chunk_lines_sql(markers=False).replace(
            "WITH t AS (SELECT doc_id,",
            "WITH t AS (SELECT doc_id, source,",
        ).replace(
            " ln AS (SELECT doc_id,",
            " ln AS (SELECT doc_id, source,",
        )
        + ", l AS (SELECT doc_id, source, lines[i+1] AS line"
        "   FROM ln, UNNEST(range(0, len(lines))) AS u(i)),"
        " corpus AS (SELECT DISTINCT md5(line) AS dig FROM l"
        "   WHERE doc_id % 2 = 0)"
        " SELECT source, CAST(count(*) AS BIGINT) AS n_kept_lines,"
        "  CAST(sum(len(string_split(line, ' '))) AS BIGINT) AS kept_tokens"
        " FROM l WHERE doc_id % 2 = 1"
        "  AND md5(line) NOT IN (SELECT dig FROM corpus)"
        " GROUP BY 1"
    )


_register("xs14_c4_line_filters", _xs14, _xs14_sql())
_register("xs15_ccnet_line_dedup", _xs15, _xs15_sql())
_register("xs16_bm25_scores", _xs16, _xs16_sql())
_register("xs17_bfd_packing", _xs17, _xs17_sql())
_register("xs18_curation_mix_chain", _xs18, _xs18_sql())
_register("xs19_dup_weighted_sampling", _xs19, _xs19_sql())
_register("s19_stream_line_dedup", _s19, _s19_sql())
_register("s20_stream_curated_source_stats", _s20, _s20_sql())


# --------------------------------------------------------------------------
# -- round-13 registrations: the xs20+ batch (staged and gate-verified in
# -- round 12 at sf0.001/0.01/0.1; moved here verbatim, oracle strings
# -- byte-identical to the staged versions — asserted at move time).
# -- ExactSubstr span dedup (Lee et al. 2022: maximal-span inventory +
# -- removal transform), classifier-ensemble quality voting, the
# -- FineWeb-style funnel monitor, reference-model delta selection (RHO),
# -- GPT-3-style benchmark decontamination, delta-guided domain weights
# -- (DoReMi-shaped), and the batch's composition capstone.
# --------------------------------------------------------------------------

# xs20/xs23 span grain: trigram anchors, 10-token span threshold.
_XS20_K = 3
_XS20_MIN_LEN = 10

# xs24 slices: target %10==0, base train %5!=0, candidates the held-out
# %5==0 docs NOT in the target slice (disjoint from both fit slices).
_XS24_LAM = 0.7


def _span_sql_head() -> str:
    """Shared CTE chain for xs20/xs23: corpus-duplicated trigram
    positions merged into maximal per-doc spans `sp(doc_id, st, en)`
    (0-based token positions, end inclusive) over `t(doc_id, toks)`."""
    k = _XS20_K
    return (
        "WITH t AS (SELECT doc_id,"
        "   string_split_regex(trim(text), '\\s+') AS toks FROM documents),"
        " g AS (SELECT doc_id, i AS pos,"
        f"   array_to_string(toks[i+1:i+{k}], ' ') AS gram"
        f"  FROM t, UNNEST(range(0, greatest(len(toks)-{k - 1}, 0))) AS u(i)),"
        " c AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),"
        " d AS (SELECT doc_id, pos FROM g JOIN c USING (gram)),"
        " sgf AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos)"
        f"   OVER (PARTITION BY doc_id ORDER BY pos) <= {k} THEN 0 ELSE 1 END"
        "    AS brk FROM d),"
        " s2 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id"
        "   ORDER BY pos) AS seg FROM sgf),"
        " sp AS (SELECT doc_id, seg, min(pos) AS st,"
        f"   max(pos)+{k - 1} AS en FROM s2 GROUP BY 1, 2)"
    )


def xs20_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal duplicated-span inventory (Lee et al. 2022 ExactSubstr,
    span grain): maximal runs of tokens covered by corpus-duplicated
    trigrams, length >= 10, one row per (doc, span) with a byte-exact
    md5 span digest. dedup.maximal_duplicate_spans has the gram-anchor
    semantics and the 100 TB shuffle-shape audit (one gram-grain
    shuffle + doc-partitioned gaps-and-islands window)."""
    docs = read_sf_table(spark, sf, "documents")
    return X_dedup.maximal_duplicate_spans(
        docs, "doc_id", "text", k=_XS20_K, min_len=_XS20_MIN_LEN
    ).withColumnRenamed("id", "doc_id")


def xs20_sql() -> str:
    L = _XS20_MIN_LEN
    return (
        _span_sql_head()
        + " SELECT sp.doc_id, CAST(st AS BIGINT) AS span_start,"
        "  CAST(en AS BIGINT) AS span_end,"
        "  CAST(en - st + 1 AS BIGINT) AS span_len,"
        "  md5(array_to_string(toks[st+1:en+1], ' ')) AS span_digest"
        " FROM sp JOIN t ON t.doc_id = sp.doc_id"
        f" WHERE en - st + 1 >= {L}"
    )


def xs23_exactsubstr_removal(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr span removal (Lee et al. 2022): drop every token
    covered by a >= 10-token maximal duplicated span, md5 witness of
    each cleaned document — the length-thresholded sequence dedup
    between x47 (strip any duplicated trigram) and xs15 (line grain,
    keep-first). dedup.exactsubstr_removal docstring has the
    every-occurrence semantics note and the scale audit."""
    docs = read_sf_table(spark, sf, "documents")
    # NULL text has no tokens to remove — filtered on BOTH sides (the
    # oracle's tok CTE would otherwise drop the doc while the kernel
    # passes it through with NULL stats)
    return X_dedup.exactsubstr_removal(
        docs.filter(F.col("text").isNotNull()),
        "doc_id", "text", k=_XS20_K, min_len=_XS20_MIN_LEN,
    ).withColumnRenamed("id", "doc_id")


def xs23_sql() -> str:
    L = _XS20_MIN_LEN
    return (
        _span_sql_head()
        + ", cov AS (SELECT DISTINCT sp.doc_id, v.tp"
        f"  FROM sp, UNNEST(range(st, en + 1)) AS v(tp) WHERE en - st + 1 >= {L}),"
        " tok AS (SELECT t.doc_id, i, toks[i+1] AS tok"
        "  FROM t, UNNEST(range(0, len(toks))) AS u(i)"
        "  WHERE toks IS NOT NULL),"
        " fl AS (SELECT tok.doc_id, i, tok.tok,"
        "   (cov.tp IS NOT NULL) AS rm"
        "  FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.tp = tok.i)"
        " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,"
        "  CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,"
        "  md5(coalesce(string_agg(CASE WHEN NOT rm THEN tok END, ' '"
        "   ORDER BY i), '')) AS cleaned_digest"
        " FROM fl GROUP BY 1"
    )


def xs21_quality_ensemble(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier-ensemble quality filtering over the xs12 candidate
    slice (doc_id %% 5 == 0): three independent published keep signals —
    the Gopher word-count rule (the xs10 battery's rule this corpus
    discriminates on), the C4 page keep (xs14's line battery over the
    reconstructed multi-line doc), and the CCNet perplexity keep (xs12's
    margin-pinned threshold) — majority-voted. Ensembling de-noises any
    single heuristic (the published motivation for classifier ensembles
    over one model score); votes spread over {0,1,2,3} at both gate SFs
    so the majority threshold is a real decision. Signals are per-doc
    pure functions except the LM (fit on the %% 5 != 0 train slice), so
    computing them on the candidate subset equals computing corpus-wide
    and filtering."""
    docs = read_sf_table(spark, sf, "documents")
    cand = docs.filter(F.col("doc_id") % 5 == 0)
    gop = X_text.gopher_rules(cand, "doc_id", "text").select(
        F.col("id").alias("doc_id"), F.col("ok_word_count").alias("wc_ok")
    )
    synth = _toked(cand, "doc_id").select(
        "doc_id", F.array_join(_chunk_lines(markers=True), "\n").alias("text")
    )
    c4 = X_text.c4_line_stats(synth, "doc_id", "text").select(
        F.col("id").alias("doc_id"), F.col("keep").alias("c4_ok")
    )
    nll = X_text.heldout_bigram_nll(
        docs, "doc_id", "text", holdout=F.col("doc_id") % 5 == 0, lam=_XS7_LAM
    )
    ppl = F.round(F.exp(F.col("sum_nll") / F.col("n_scored")) + 1e-9, 6)
    pplk = nll.select(
        F.col("id").alias("doc_id"),
        (ppl < _XS12_PPL_THRESHOLD).alias("ppl_ok"),
    )
    votes = (
        F.col("wc_ok").cast("long")
        + F.col("c4_ok").cast("long")
        + F.col("ppl_ok").cast("long")
    )
    return (
        gop.join(c4, "doc_id")
        .join(pplk, "doc_id")
        .select(
            "doc_id",
            "wc_ok",
            "c4_ok",
            "ppl_ok",
            votes.alias("votes"),
            (votes >= 2).alias("keep"),
        )
    )


def xs21_sql() -> str:

    return (
        "WITH gop AS ("
        + _xs10_sql()
        + "), c4 AS ("
        + _xs14_sql()
        + "), ppl AS ("
        + _xs12_sql()
        + ")"
        " SELECT g.doc_id, g.ok_word_count AS wc_ok, c.keep AS c4_ok,"
        "  p.keep AS ppl_ok,"
        "  CAST((CASE WHEN g.ok_word_count THEN 1 ELSE 0 END"
        "   + CASE WHEN c.keep THEN 1 ELSE 0 END"
        "   + CASE WHEN p.keep THEN 1 ELSE 0 END) AS BIGINT) AS votes,"
        "  ((CASE WHEN g.ok_word_count THEN 1 ELSE 0 END"
        "   + CASE WHEN c.keep THEN 1 ELSE 0 END"
        "   + CASE WHEN p.keep THEN 1 ELSE 0 END) >= 2) AS keep"
        " FROM ppl p JOIN gop g ON g.doc_id = p.doc_id"
        "  JOIN c4 c ON c.doc_id = p.doc_id"
    )


_XS22_STAGES = ("raw", "lang", "quality", "dedup", "c4")


def xs22_fineweb_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """FineWeb-style curation funnel (the published pipeline's
    self-monitoring table): per-source documents and tokens surviving
    each cumulative stage — raw -> language gate (lang = 'en') ->
    quality rule (Gopher word count) -> minhash-CC dedup survivors
    (keep-min over the shared x14 silver) -> C4 page keep. One pass:
    the per-doc flag row explodes into its (stage, passes) pairs and a
    single (stage, source) aggregation produces the funnel — no
    five-way union, one shuffle. Strictly shrinking at every stage on
    this corpus (calibration pinned by test)."""
    docs = read_sf_table(spark, sf, "documents")
    gop = X_text.gopher_rules(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), F.col("ok_word_count").alias("__q")
    )
    synth = _toked(docs, "doc_id").select(
        "doc_id", F.array_join(_chunk_lines(markers=True), "\n").alias("text")
    )
    c4 = X_text.c4_line_stats(synth, "doc_id", "text").select(
        F.col("id").alias("doc_id"), F.col("keep").alias("__c")
    )
    losers = (
        shared_dedup_clusters(spark, sf)
        .filter(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("doc_id"), F.lit(True).alias("__loser"))
    )
    flags = (
        docs.select(
            "doc_id",
            "source",
            (F.col("lang") == "en").alias("__l"),
            X_text.token_count("text").cast("long").alias("__nt"),
        )
        .join(gop, "doc_id")
        .join(c4, "doc_id")
        .join(losers, "doc_id", "left")
        .withColumn("__s", F.col("__loser").isNull())
    )
    l, q, s, c = F.col("__l"), F.col("__q"), F.col("__s"), F.col("__c")
    passes = F.array(
        F.lit(True), l, l & q, l & q & s, l & q & s & c
    )
    names = F.array(*[F.lit(n) for n in _XS22_STAGES])
    return (
        flags.select(
            "source",
            "__nt",
            F.posexplode(passes).alias("stage_idx", "__pass"),
        )
        .filter(F.col("__pass"))
        .groupBy("stage_idx", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__nt").cast("long").alias("n_tokens"),
        )
        .select(
            F.col("stage_idx").cast("long").alias("stage_idx"),
            F.element_at(names, F.col("stage_idx") + 1).alias("stage"),
            "source",
            "n_docs",
            "n_tokens",
        )
    )


def xs22_sql() -> str:

    names = ", ".join(f"'{n}'" for n in _XS22_STAGES)
    return (
        _X14_CC_SQL
        + ", gop AS ("
        + _xs10_sql()
        + "), c4 AS ("
        + _xs14_sql()
        + "),"
        " f AS (SELECT d.doc_id, d.source, (d.lang = 'en') AS l,"
        "   g.ok_word_count AS q,"
        "   (d.doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)) AS s,"
        "   c.keep AS c,"
        "   CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)"
        "    AS nt"
        "  FROM documents d JOIN gop g ON g.doc_id = d.doc_id"
        "   JOIN c4 c ON c.doc_id = d.doc_id),"
        " st AS (SELECT f.*, CAST(u.i AS BIGINT) AS stage_idx,"
        "   CASE WHEN u.i = 0 THEN TRUE WHEN u.i = 1 THEN l"
        "    WHEN u.i = 2 THEN l AND q WHEN u.i = 3 THEN l AND q AND s"
        "    ELSE l AND q AND s AND c END AS pass"
        "  FROM f, UNNEST(range(0, 5)) AS u(i))"
        " SELECT stage_idx,"
        f"  ([{names}])[CAST(stage_idx AS INTEGER) + 1] AS stage, source,"
        "  CAST(count(*) AS BIGINT) AS n_docs,"
        "  CAST(sum(nt) AS BIGINT) AS n_tokens"
        " FROM st WHERE pass GROUP BY 1, 2, 3"
    )


def _xs24_nll_chain_sql(prefix: str, train_pred: str) -> str:
    """One prefixed copy of the _xs7_perdoc_sql CTE chain (fit the JM
    bigram LM on `train_pred` rows of nbase, score the candidate slice,
    sum to doc grain) — two copies with different fit slices compose
    into the delta without CTE-name collisions. The arithmetic is
    verbatim _xs7_perdoc_sql's (the xs7/xs12 gates prove it matches
    heldout_bigram_nll exactly)."""
    lam = _XS24_LAM
    p = prefix
    return (
        f" {p}tr AS (SELECT * FROM nbase WHERE {train_pred}),"
        f" {p}uni AS (SELECT w, count(*) AS c1 FROM ("
        f"   SELECT unnest(toks) AS w FROM {p}tr) u WHERE w <> '' GROUP BY 1),"
        f" {p}scal AS (SELECT CAST(sum(c1) AS DOUBLE) AS n,"
        f"   CAST(count(*) AS DOUBLE) AS v FROM {p}uni),"
        f" {p}bi AS (SELECT w_prev, w, count(*) AS c2 FROM ("
        f"   SELECT toks[i] AS w_prev, toks[i+1] AS w"
        f"   FROM {p}tr, UNNEST(range(1, greatest(len(toks)-1, 0)+1)) AS t(i)"
        f"   WHERE len(toks) >= 2"
        f"    AND toks[i] <> '' AND toks[i+1] <> '') b GROUP BY 1, 2),"
        f" {p}sb AS (SELECT bh.id, -ln({lam!r} * (CASE WHEN coalesce(cp.c1, 0) > 0"
        f"     THEN CAST(coalesce(b.c2, 0) AS DOUBLE) / cp.c1 ELSE 0.0 END)"
        f"   + {1.0 - lam!r} * (coalesce(u.c1, 0) + 1.0) / (n + v + 1.0)) AS nll"
        f"  FROM bh LEFT JOIN {p}bi b USING (w_prev, w)"
        f"   LEFT JOIN {p}uni cp ON cp.w = bh.w_prev"
        f"   LEFT JOIN {p}uni u ON u.w = bh.w, {p}scal),"
        f" {p}fst AS (SELECT fh.id, -ln((coalesce(c1, 0) + 1.0) / (n + v + 1.0))"
        f"    AS nll"
        f"  FROM fh LEFT JOIN {p}uni ON {p}uni.w = fh.w, {p}scal),"
        f" {p}perdoc AS (SELECT id, count(*) AS ns, sum(nll) AS snll"
        f"  FROM (SELECT * FROM {p}sb UNION ALL SELECT * FROM {p}fst) a"
        f"  GROUP BY 1)"
    )


def xs24_rho_delta_select(spark: SparkSession, sf: str) -> DataFrame:
    """Reference-model delta selection (RHO-style excess-loss signal):
    candidates (the %5==0 held-out docs NOT in the target slice) scored
    under a TARGET-slice bigram LM (fit on doc_id %10==0 — xs2's target
    convention) and the general BASE LM (fit on %5!=0); per-token NLL
    delta = base - target, positive = the target model finds the doc
    less surprising = target-like -> selected. The LM-likelihood
    sibling of DSIR's hashed-ngram ratio (xs2) and the selection-grade
    use of xs7's scoring machinery (textstats.reference_delta_scores).
    Boundary pinned: the rounded delta sits >= 0.003 from 0 at both
    gate SFs."""
    docs = read_sf_table(spark, sf, "documents")
    scored = X_text.reference_delta_scores(
        docs,
        "doc_id",
        "text",
        candidates=(F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 10 != 0),
        target_train=F.col("doc_id") % 10 == 0,
        base_train=F.col("doc_id") % 5 != 0,
        lam=_XS24_LAM,
    )
    delta_r = F.round(F.col("delta") + 1e-9, 6)
    return scored.join(
        docs.select(F.col("doc_id").alias("id"), "source"), "id"
    ).select(
        F.col("id").alias("doc_id"),
        "source",
        F.col("n_scored").cast("long").alias("n_tokens"),
        delta_r.alias("delta"),
        (delta_r > 0.0).alias("selected"),
    )


def _held_bigrams_sql(held: str) -> str:
    """CTEs `nbase(id, source, toks)` over the documents, and for its rows
    matching `held`: `hd`, their non-empty bigrams `bh(id, w_prev, w)` and
    first tokens `fh(id, w)`."""
    return (
        "WITH nbase AS (SELECT doc_id AS id, source,"
        f"   {_LOWER_TOKS_SQL} AS toks"
        "  FROM documents WHERE text IS NOT NULL),"
        f" hd AS (SELECT * FROM nbase WHERE {held}),"
        " bh AS (SELECT id, toks[i] AS w_prev, toks[i+1] AS w"
        "  FROM hd, UNNEST(range(1, greatest(len(toks)-1, 0)+1)) AS t(i)"
        "  WHERE len(toks) >= 2 AND toks[i] <> '' AND toks[i+1] <> ''),"
        " fh AS (SELECT id, toks[1] AS w FROM hd"
        "   WHERE len(toks) >= 1 AND toks[1] <> ''),"
    )


def xs24_sql() -> str:
    return (
        _held_bigrams_sql("id % 5 = 0 AND id % 10 <> 0")
        + _xs24_nll_chain_sql("b_", "id % 5 <> 0")
        + ","
        + _xs24_nll_chain_sql("t_", "id % 10 = 0")
        + " SELECT b_perdoc.id AS doc_id, nb.source,"
        "  CAST(b_perdoc.ns AS BIGINT) AS n_tokens,"
        "  round((b_perdoc.snll - t_perdoc.snll) / b_perdoc.ns + 1e-9, 6)"
        "   AS delta,"
        "  (round((b_perdoc.snll - t_perdoc.snll) / b_perdoc.ns + 1e-9, 6)"
        "   > 0.0) AS selected"
        " FROM b_perdoc JOIN t_perdoc ON t_perdoc.id = b_perdoc.id"
        "  JOIN (SELECT DISTINCT id, source FROM nbase) nb"
        "   ON nb.id = b_perdoc.id"
    )


# xs25: 8-gram overlap against the doc_id%10==0 "benchmark" slice (the
# xs2 target-slice convention). k=8 aligns with the corpus's 8-token
# template chunking and stays under the shortest doc (13-grams, the
# GPT-3 constant, exceed many synthetic docs); contamination bifurcates
# at every SF (7/450 at sf0.001, 6/450 at sf0.01, 46/4500 at sf0.1) and
# k=8 differs from k=5 at sf0.001 (7 vs 8 hits), so the gram size is
# genuinely exercised.
_XS25_K = 8


def _xs25_grams() -> "F.Column":
    """The decontamination k-gram Column (`__toks` array -> array of
    space-joined k-grams, slice-in-transform form), shared by xs25 AND
    its streaming twin s21 so the batch and stream contracts cannot
    drift. Expects the tokenization pre-projected via _toked (r16 hoist
    rule — see _toked: the slice lambda closing over a raw split() expr
    re-split the doc PER GRAM, O(len^2); measured 2.9 -> 0.5 s on the
    sf0.1 pool-gram explode alone)."""
    k = _XS25_K
    toks = F.col("__toks")
    m = F.size(toks) - (k - 1)
    return F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(0), m - 1),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))

def xs25_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark DECONTAMINATION by n-gram overlap (the GPT-3 appendix-C
    shape, shipped by every published pretraining pipeline since: drop
    training documents sharing any length-k token gram with the
    evaluation set). The eval slice here is doc_id % 10 == 0 (the
    engine's target-slice convention, cf. xs2/xs24); every other doc is
    the training pool and reports its overlap-gram count and the
    contaminated flag — the complement of x101's leakage-free SPLIT
    (which prevents near-dup straddle; this removes exact eval text).

    100 TB shape: the eval gram set is benchmark-sized (tiny vs the
    corpus), so the overlap test is a BROADCAST semi-join against the
    corpus's gram stream — one scan-speed pass over the pool, no
    corpus-sized shuffle at all (the count rollup shuffles only the
    matching instances, a benchmark-bounded set). Grams use the
    slice-in-transform form (O(len) expression tree; the zip-shift
    chain is O(k*len) codegen and measured 2x-slower first runs at
    k >= 10 — BASELINE round-10)."""
    docs = read_sf_table(spark, sf, "documents")
    grams = _xs25_grams()
    ev = (
        _toked(docs.filter(F.col("doc_id") % 10 == 0))
        .select(F.explode(grams).alias("gram"))
        .distinct()
    )
    pool = docs.filter(F.col("doc_id") % 10 != 0)
    hits = (
        _toked(pool, "doc_id")
        .select("doc_id", F.explode(grams).alias("gram"))
        .join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    return pool.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_overlap_grams"),
        (F.coalesce(F.col("__n"), F.lit(0)) > 0).alias("contaminated"),
    )


def xs25_sql() -> str:
    k = _XS25_K
    return (
        "WITH t AS (SELECT doc_id,"
        "   string_split_regex(trim(text), '\\s+') AS toks FROM documents),"
        " g AS (SELECT doc_id,"
        f"   array_to_string(toks[i+1:i+{k}], ' ') AS gram"
        f"  FROM t, UNNEST(range(0, greatest(len(toks)-{k - 1}, 0))) AS u(i)),"
        " ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),"
        " hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g"
        "   WHERE doc_id % 10 <> 0 AND gram IN (SELECT gram FROM ev)"
        "   GROUP BY 1)"
        " SELECT d.doc_id,"
        "  CAST(coalesce(hit.n, 0) AS BIGINT) AS n_overlap_grams,"
        "  (coalesce(hit.n, 0) > 0) AS contaminated"
        " FROM documents d LEFT JOIN hit ON hit.doc_id = d.doc_id"
        " WHERE d.doc_id % 10 <> 0"
    )


# xs26: delta-guided DOMAIN weights. The candidate slice must hit many
# sources, and source = f(doc_id % 20) on this corpus, so the xs24
# slices (%5/%10) alias into just src5/src15 — xs26 uses %7 (coprime
# with 20: 16 sources get 3-4 candidates each at both gate SFs),
# excluding both fit slices (target %10==0; base %5!=0 AND %7!=0).
# T=0.05 spreads the shares 0.018-0.18 (9.5-21x max/min) — neither
# uniform nor winner-take-all.
_XS26_T = 0.05


def xs26_delta_source_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-guided DOMAIN weighting (the DoReMi/RegMix-shaped step:
    set per-source sampling weights from a quality/target-fit signal
    rather than from token counts): each source's candidates are scored
    with the reference-model delta (xs24's signal — positive =
    target-like), averaged per source, and softmaxed at temperature T
    into sampling weights. Completes the mixing surface: xs6/xs9/x95
    weight by SIZE, xs3/xs13 rank DOCS by importance — this weights
    SOURCES by measured target-fit. Output: (source, n_candidates,
    avg_delta, weight), weights summing to 1 over the sources holding
    candidates. The softmax denominator is one broadcast scalar row
    (the engine's broadcast-NL convention); everything upstream is
    reference_delta_scores' audited two-LM shape."""
    docs = read_sf_table(spark, sf, "documents")
    did = F.col("doc_id")
    scored = X_text.reference_delta_scores(
        docs,
        "doc_id",
        "text",
        candidates=(did % 7 == 0) & (did % 5 != 0),
        target_train=did % 10 == 0,
        base_train=(did % 5 != 0) & (did % 7 != 0),
        lam=_XS24_LAM,
    )
    per = (
        scored.join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.avg("delta").alias("__avg"),
        )
        # materialized (r16 plan audit): consumed twice (softmax
        # normalizer + final select); un-materialized, each reference
        # re-executed the entire two-LM delta chain (84-Exchange plan).
        # Source grain. The checkpoint-free window-normalizer variant
        # was measured SLOWER here (interleaved medians 7.5 vs 7.0 s
        # loaded / 6.9 vs 2.8 s quiet) — the delta chain is expensive
        # enough that pinning its result once wins, unlike the tiny
        # mixer frames where the window form wins.
        .transform(materialize)
    )
    z = per.agg(F.sum(F.exp(F.col("__avg") / _XS26_T)).alias("__z"))
    return per.crossJoin(F.broadcast(z)).select(
        "source",
        "n_candidates",
        F.round(F.col("__avg") + 1e-9, 6).alias("avg_delta"),
        F.round(
            F.exp(F.col("__avg") / _XS26_T) / F.col("__z") + 1e-9, 6
        ).alias("weight"),
    )


def xs26_sql() -> str:
    t = _XS26_T
    return (
        _held_bigrams_sql("id % 7 = 0 AND id % 5 <> 0")
        + _xs24_nll_chain_sql("b_", "id % 5 <> 0 AND id % 7 <> 0")
        + ","
        + _xs24_nll_chain_sql("t_", "id % 10 = 0")
        + ", per AS (SELECT nb.source,"
        "   CAST(count(*) AS BIGINT) AS n_candidates,"
        "   avg((b_perdoc.snll - t_perdoc.snll) / b_perdoc.ns) AS ad"
        "  FROM b_perdoc JOIN t_perdoc ON t_perdoc.id = b_perdoc.id"
        "   JOIN (SELECT DISTINCT id, source FROM nbase) nb"
        "    ON nb.id = b_perdoc.id"
        "  GROUP BY 1),"
        f" z AS (SELECT sum(exp(ad / {t!r})) AS z FROM per)"
        " SELECT source, n_candidates, round(ad + 1e-9, 6) AS avg_delta,"
        f"  round(exp(ad / {t!r}) / z + 1e-9, 6) AS weight"
        " FROM per, z"
    )


# xs27: the batch's composition capstone (xs18's pattern for the NEW
# operators): budget/temperature chosen only for readable output —
# temperature_mix has no thresholds, so no calibration cliff exists.
_XS27_BUDGET = 20_000.0
_XS27_T = 2.0


def xs27_curation_v2_chain(spark: SparkSession, sf: str) -> DataFrame:
    """Composition capstone for THIS batch (the xs18/x51 pattern): the
    decontaminated (xs25's flag), quality-gated (Gopher word-count +
    C4 page keep) training pool rolled up to per-source token totals
    and temperature-mixed (xs9's published strategy) — the curation ->
    mixing decision sequence a benchmark-safe pretraining pipeline
    runs, chained as ONE plan so contract drift between the
    decontamination flag, the quality batteries and the mixer (id/flag
    column shapes, pool semantics, allocation arithmetic) is a hash
    mismatch, not a silent skew. 18 of 20 sources survive with token
    totals spread ~2.5x at both gate SFs, so the power-law weights
    genuinely vary."""
    docs = read_sf_table(spark, sf, "documents")
    clean = xs25_decontaminate(spark, sf).filter(~F.col("contaminated")).select(
        "doc_id"
    )
    wc = (
        X_text.gopher_rules(docs, "doc_id", "text")
        .filter(F.col("ok_word_count"))
        .select(F.col("id").alias("doc_id"))
    )
    synth = _toked(docs, "doc_id").select(
        "doc_id", F.array_join(_chunk_lines(markers=True), "\n").alias("text")
    )
    c4 = (
        X_text.c4_line_stats(synth, "doc_id", "text")
        .filter(F.col("keep"))
        .select(F.col("id").alias("doc_id"))
    )
    per = (
        docs.join(clean, "doc_id")
        .join(wc, "doc_id")
        .join(c4, "doc_id")
        .groupBy("source")
        .agg(F.sum(X_text.token_count("text").cast("long")).alias("__tok"))
    )
    return X_samp.temperature_mix(
        per, "source", "__tok", budget=_XS27_BUDGET, temperature=_XS27_T
    )


def xs27_sql() -> str:

    b, t = _XS27_BUDGET, _XS27_T
    return (
        "WITH decon AS ("
        + xs25_sql()
        + "), gop AS ("
        + _xs10_sql()
        + "), c4 AS ("
        + _xs14_sql()
        + "),"
        " per AS (SELECT d.source,"
        "   CAST(sum(len(string_split_regex(trim(d.text), '\\s+'))) AS BIGINT)"
        "    AS tok"
        "  FROM documents d"
        "   JOIN decon ON decon.doc_id = d.doc_id AND NOT decon.contaminated"
        "   JOIN gop ON gop.doc_id = d.doc_id AND gop.ok_word_count"
        "   JOIN c4 ON c4.doc_id = d.doc_id AND c4.keep"
        "  GROUP BY 1),"
        + _temperature_mix_sql(b, t)
    )


_register("xs20_dup_spans", xs20_dup_spans, xs20_sql())
_register("xs21_quality_ensemble", xs21_quality_ensemble, xs21_sql())
_register("xs22_fineweb_funnel", xs22_fineweb_funnel, xs22_sql())
_register("xs23_exactsubstr_removal", xs23_exactsubstr_removal, xs23_sql())
_register("xs24_rho_delta_select", xs24_rho_delta_select, xs24_sql())
_register("xs25_decontaminate", xs25_decontaminate, xs25_sql())
_register("xs26_delta_source_weights", xs26_delta_source_weights, xs26_sql())
_register("xs27_curation_v2_chain", xs27_curation_v2_chain, xs27_sql())


# --------------------------------------------------------------------------
# -- round-14 registrations: the xs28+ batch (staged and gate-verified in
# -- round 12 at sf0.001/0.01/0.1, calibration-pinned in round 13; moved
# -- here verbatim, oracle strings byte-identical to the staged versions —
# -- asserted at move time). CCNet head/middle/tail perplexity tertiles
# -- (Wenzek et al. 2019), D4 prototypicality ranks (Tirumala et al. 2023),
# -- quality-classifier decile calibration, embedding-cluster label purity,
# -- greedy k-center coresets (Sener & Savarese 2018, exact-replay oracle),
# -- per-source unigram-KL domain drift, MMR rerank (Carbonell & Goldstein
# -- 1998, exact-replay oracle), and the streaming decontamination seam.
# --------------------------------------------------------------------------

_XS28_BUCKETS = ("head", "middle", "tail")


def xs28_ccnet_ppl_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet's published corpus layout (Wenzek et al. 2019 §4.3): the
    held-out slice bucketed into per-LANGUAGE head/middle/tail
    perplexity tertiles under the train-slice bigram LM — the shape the
    perplexity filter (xs12) ships as when the pipeline keeps all three
    tiers instead of hard-dropping. Tertile rank runs per language
    (partitioned window — group grain, never a global sort); rows are
    (lang, tertile): doc count, token mass, ppl range.

    100 TB: the LM count tables are vocabulary-grain (xs7's shape); the
    tertile window partitions by language, so the sort is per-language —
    with skewed languages the inner ORDER BY key is the rounded ppl,
    mergeable by range partitioning within the language. Oracle: the
    shared _xs7_perdoc_sql chain + the identical NTILE(3)."""
    docs = read_sf_table(spark, sf, "documents")
    nll = X_text.heldout_bigram_nll(
        docs, "doc_id", "text", holdout=F.col("doc_id") % 5 == 0, lam=_XS7_LAM
    )
    ppl = F.round(F.exp(F.col("sum_nll") / F.col("n_scored")) + 1e-9, 6)
    scored = nll.select(
        F.col("id").alias("doc_id"),
        F.col("n_scored").alias("__nt"),
        ppl.alias("__ppl"),
    ).join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy("__ppl", "doc_id")
    names = F.array(*[F.lit(n) for n in _XS28_BUCKETS])
    return (
        scored.withColumn("__b", F.ntile(3).over(w))
        .groupBy("lang", "__b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__nt").cast("long").alias("n_tokens"),
            F.min("__ppl").alias("ppl_min"),
            F.max("__ppl").alias("ppl_max"),
        )
        .select(
            "lang",
            F.col("__b").cast("long").alias("bucket_idx"),
            F.element_at(names, F.col("__b")).alias("bucket"),
            "n_docs",
            "n_tokens",
            "ppl_min",
            "ppl_max",
        )
    )


def xs28_sql() -> str:

    names = ", ".join(f"'{n}'" for n in _XS28_BUCKETS)
    return (
        _xs7_perdoc_sql()
        + ", lng AS (SELECT p.id, d.lang, p.ns,"
        "   round(exp(p.snll / p.ns) + 1e-9, 6) AS ppl"
        "  FROM perdoc p JOIN documents d ON d.doc_id = p.id),"
        " bk AS (SELECT lang, id, ns, ppl,"
        "   ntile(3) OVER (PARTITION BY lang ORDER BY ppl, id) AS b FROM lng)"
        " SELECT lang, CAST(b AS BIGINT) AS bucket_idx,"
        f"  ([{names}])[b] AS bucket,"
        "  CAST(count(*) AS BIGINT) AS n_docs,"
        "  CAST(sum(ns) AS BIGINT) AS n_tokens,"
        "  min(ppl) AS ppl_min, max(ppl) AS ppl_max"
        " FROM bk GROUP BY 1, 2, 3"
    )


def _emb_cc_sql_head() -> str:
    """The embedding near-dup connected-components CTE chain (x33's
    deterministic md5-hyperplane banding + exact cosine verify at 0.25 +
    recursive hash-min CC), ending at `cc(id, cluster_id)` — the exact
    splice _x64_sql performs, factored so xs29/xs31 consume the SAME
    cluster definition their Spark sides read from the
    shared_embedding_clusters silver."""

    base = _x33_sql()
    head, tail = base.split(" SELECT id_a, id_b,", 1)
    assert tail.endswith("WHERE cosine > 0.25")
    return (
        "WITH RECURSIVE "
        + head[len("WITH "):]
        + ", prs AS (SELECT id_a, id_b FROM scored WHERE cosine > 0.25),"
        f" {_cc_sql('prs', 'e2')}"
    )


def xs29_d4_prototypes(spark: SparkSession, sf: str) -> DataFrame:
    """D4 prototypicality (Tirumala et al. 2023, public paper: "D4:
    Improving LLM Pretraining via Document De-Duplication and
    Diversification"): within each embedding near-dup cluster, rank
    members by cosine similarity to the CLUSTER CENTROID — rank 1 is the
    most prototypical member, the one D4 prunes first (SemDeDup keeps
    min-id, x64; this emits the signal that lets the keep rule be
    quality- or prototypicality-aware). Consumes the shared embedding-CC
    silver; the centroid is a (clusters x dims)-grain aggregate
    (label_centroids — map-side partial avg, shuffle independent of
    corpus rows), components rounded to 6dp on BOTH sides so the cosine
    is computed from identical doubles.

    Output: (vec_id, cluster_id, cluster_size, cos_centroid, proto_rank);
    rank window partitions by cluster (group grain)."""
    emb = read_sf_table(spark, sf, "embeddings")
    cc = shared_embedding_clusters(spark, sf)
    mem = emb.join(
        cc.select(F.col("id").alias("vec_id"), "cluster_id"), "vec_id"
    )
    cen = X_sim.label_centroids(mem, "cluster_id", "embedding").select(
        F.col("label").alias("cluster_id"),
        F.col("n").alias("cluster_size"),
        F.transform(
            F.col("centroid"), lambda v: F.round(v + F.lit(1e-9), 6)
        ).alias("__cv"),
    )
    cos = F.round(
        X_sim.cosine_expr(F.col("embedding"), F.col("__cv")) + F.lit(1e-9),
        6,
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("cos_centroid"), F.asc("vec_id")
    )
    return (
        mem.join(F.broadcast(cen), "cluster_id")
        .select(
            "vec_id", "cluster_id", "cluster_size", cos.alias("cos_centroid")
        )
        .withColumn("proto_rank", F.row_number().over(w).cast("long"))
    )


def xs29_sql() -> str:
    cos = _cos_sql("mem.ev", "cv")
    # reuses _x33_sql's `e(vec_id, v)` DOUBLE[] CTE (aliased to ev here)
    return (
        _emb_cc_sql_head()
        + ", mem AS (SELECT cc.id AS vec_id, cc.cluster_id, e.v AS ev"
        "  FROM cc JOIN e ON e.vec_id = cc.id),"
        " dim AS (SELECT cluster_id, u.pos AS pos, ev[u.pos] AS vv"
        "  FROM mem, UNNEST(range(1, len(ev) + 1)) AS u(pos)),"
        " m AS (SELECT cluster_id, pos, avg(vv) AS mv FROM dim GROUP BY 1, 2),"
        " cen AS (SELECT cluster_id, list(round(mv + 1e-9, 6) ORDER BY pos)"
        "   AS cv FROM m GROUP BY 1),"
        " sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size"
        "  FROM mem GROUP BY 1),"
        " sc AS (SELECT mem.vec_id, mem.cluster_id, sz.cluster_size,"
        f"   round({cos} + 1e-9, 6) AS cos_centroid"
        "  FROM mem JOIN cen USING (cluster_id) JOIN sz USING (cluster_id))"
        " SELECT vec_id, cluster_id, cluster_size, cos_centroid,"
        "  CAST(row_number() OVER (PARTITION BY cluster_id"
        "   ORDER BY cos_centroid DESC, vec_id) AS BIGINT) AS proto_rank"
        " FROM sc"
    )


_XS30_DECILES = tuple(i / 10.0 for i in range(1, 10))


def xs30_quality_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Calibration of the scan-speed quality classifier against the
    expensive LM signal — the validation table every published
    classifier-filter pipeline reports before trusting the cheap score
    (FineWeb-edu, RedPajama-2, DCLM all publish some form): held-out
    docs bucketed into DECILES of the x43 logistic quality score, each
    decile's held-out perplexity under the train-slice bigram LM beside
    it. A calibrated classifier shows monotone-ish ppl across deciles;
    a flat profile means the cheap score carries no LM signal.

    100 TB shape is x31's: decile BOUNDARIES from approx_percentile (a
    mergeable sketch, accuracy derived from the slice row count so the
    gate stays rank-exact, capped at 1e7 so sketch memory never scales
    with the corpus), broadcast back over the scan — no global sort, no
    unpartitioned window. Oracle: quantile_disc + the shared
    _xs7_perdoc_sql chain."""
    docs = read_sf_table(spark, sf, "documents")
    hold = docs.filter(F.col("doc_id") % 5 == 0)
    lg = hold.select(
        "doc_id",
        F.round(X_text.quality_logit("text") + F.lit(1e-9), 6).alias("__q"),
    )
    accuracy = min(max(1_000_000, 10 * lg.count()), 10_000_000)
    pcts = ", ".join(f"{p}D" for p in _XS30_DECILES)
    bounds = lg.select(
        F.expr(f"approx_percentile(__q, array({pcts}), {accuracy})").alias("qb")
    )
    decile = F.lit(1)
    for i in range(len(_XS30_DECILES)):
        decile = decile + (F.col("__q") > F.col("qb")[i]).cast("int")
    nll = X_text.heldout_bigram_nll(
        docs, "doc_id", "text", holdout=F.col("doc_id") % 5 == 0, lam=_XS7_LAM
    )
    j = (
        lg.join(F.broadcast(bounds))
        .withColumn("__d", decile)
        .join(
            nll.select(F.col("id").alias("doc_id"), "n_scored", "sum_nll"),
            "doc_id",
        )
    )
    avg_nll = F.sum("sum_nll") / F.sum("n_scored")
    return (
        j.groupBy("__d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("__q") + F.lit(1e-9), 6).alias("mean_logit"),
            F.round(avg_nll + F.lit(1e-9), 6).alias("avg_nll"),
            F.round(F.exp(avg_nll) + F.lit(1e-9), 6).alias("ppl"),
        )
        .select(
            F.col("__d").cast("long").alias("decile"),
            "n_docs",
            "mean_logit",
            "avg_nll",
            "ppl",
        )
    )


def xs30_sql() -> str:

    pcts = ", ".join(repr(p) for p in _XS30_DECILES)
    bucket = " + ".join(
        f"CAST(q > qb[{i + 1}] AS INT)" for i in range(len(_XS30_DECILES))
    )
    return (
        _xs7_perdoc_sql()
        + f", lg AS (SELECT doc_id, round(1.0 / (1.0 + exp(-{_X43_Z})) + 1e-9, 6)"
        "   AS q FROM documents WHERE doc_id % 5 = 0),"
        f" bnd AS (SELECT quantile_disc(q, [{pcts}]) AS qb FROM lg),"
        f" bu AS (SELECT doc_id, q, 1 + {bucket} AS dec FROM lg, bnd),"
        " j AS (SELECT dec, q, ns, snll FROM bu"
        "  JOIN perdoc ON perdoc.id = bu.doc_id)"
        " SELECT CAST(dec AS BIGINT) AS decile,"
        "  CAST(count(*) AS BIGINT) AS n_docs,"
        "  round(avg(q) + 1e-9, 6) AS mean_logit,"
        "  round(sum(snll) / sum(ns) + 1e-9, 6) AS avg_nll,"
        "  round(exp(sum(snll) / sum(ns)) + 1e-9, 6) AS ppl"
        " FROM j GROUP BY 1"
    )


def xs31_cluster_purity(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cluster LABEL coherence — the sanity check
    SemDeDup-style pipelines run before trusting semantic dedup: if
    near-dup clusters mix unrelated labels, the encoder (or the
    threshold) is wrong and the dedup would delete non-duplicates. Per
    shared-CC cluster: member count, distinct labels, majority-label
    share, and label entropy in bits (0 = pure). Entropy uses the
    algebraic one-pass form H = log2(S) - sum(c*log2(c))/S on BOTH
    sides, so a single aggregation computes it without a second
    grouping pass (counts shuffle at (cluster, label) grain only)."""
    emb = read_sf_table(spark, sf, "embeddings")
    cc = shared_embedding_clusters(spark, sf)
    mem = emb.select("vec_id", "label").join(
        cc.select(F.col("id").alias("vec_id"), "cluster_id"), "vec_id"
    )
    cnt = mem.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).cast("double").alias("__c")
    )
    s = F.sum("__c")
    return cnt.groupBy("cluster_id").agg(
        s.cast("long").alias("cluster_size"),
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        F.round(F.max("__c") / s + F.lit(1e-9), 6).alias("majority_share"),
        F.round(
            F.log2(s) - F.sum(F.col("__c") * F.log2("__c")) / s + F.lit(1e-9), 6
        ).alias("label_entropy"),
    )


def xs31_sql() -> str:
    return (
        _emb_cc_sql_head()
        + ", mem AS (SELECT cc.id AS vec_id, cc.cluster_id, emb.label"
        "  FROM cc JOIN embeddings emb ON emb.vec_id = cc.id),"
        " cnt AS (SELECT cluster_id, label, CAST(count(*) AS DOUBLE) AS c"
        "  FROM mem GROUP BY 1, 2)"
        " SELECT cluster_id, CAST(sum(c) AS BIGINT) AS cluster_size,"
        "  CAST(count(*) AS BIGINT) AS n_labels,"
        "  round(max(c) / sum(c) + 1e-9, 6) AS majority_share,"
        "  round(log2(sum(c)) - sum(c * log2(c)) / sum(c) + 1e-9, 6)"
        "   AS label_entropy"
        " FROM cnt GROUP BY 1"
    )


_XS32_K = 8


def xs32_kcenter_coreset(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy k-center coreset selection over the corpus embeddings
    (similarity.kcenter_coreset — Sener & Savarese 2018): the max-min
    diversity subset, k=8, seeded at the min id. The reported dist is
    the covering radius at each pick (non-increasing by round — pinned
    by test). The oracle replays the FULL greedy trajectory in
    sequential SQL (the x119 BPE-replay pattern): one divergence at any
    round — wrong argmax, wrong tie-break, wrong running min — is a
    hash mismatch."""
    emb = read_sf_table(spark, sf, "embeddings")
    rows = X_sim.kcenter_coreset(emb, "vec_id", "embedding", k=_XS32_K)
    return spark.createDataFrame(
        rows, "pick_round LONG, vec_id LONG, dist DOUBLE"
    )


def xs32_sql() -> str:
    k = _XS32_K

    # MATERIALIZED pins: each s{r} is one row but inlines the whole
    # m{r-1} chain; without materialization the m-chain re-expands at
    # every reference (exponential plan text + one parquet re-open per
    # inlined scan — fd exhaustion on deep chains).
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        "s1 AS MATERIALIZED (SELECT min(vec_id) AS id FROM e)",
        "v1 AS (SELECT e.v FROM e JOIN s1 ON e.vec_id = s1.id)",
        f"m1 AS (SELECT e.vec_id, round(1.0 - {_cos_sql('e.v', 'v1.v')} + 1e-9, 6)"
        " AS d FROM e, v1)",
    ]
    for r in range(2, k + 1):
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT vec_id AS id, d FROM m{r - 1}"
            " ORDER BY d DESC, vec_id LIMIT 1)"
        )
        if r < k:
            parts.append(
                f"v{r} AS (SELECT e.v FROM e JOIN s{r} ON e.vec_id = s{r}.id)"
            )
            parts.append(
                f"m{r} AS (SELECT m.vec_id,"
                f" least(m.d, round(1.0 - {_cos_sql('e.v', f'v{r}.v')} + 1e-9, 6))"
                f" AS d FROM m{r - 1} m JOIN e ON e.vec_id = m.vec_id, v{r})"
            )
    sel = [
        "SELECT CAST(1 AS BIGINT) AS pick_round,"
        " (SELECT id FROM s1) AS vec_id, 0.0 AS dist"
    ]
    for r in range(2, k + 1):
        sel.append(f"SELECT CAST({r} AS BIGINT), id, d FROM s{r}")
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(sel)


def _source_words(docs: DataFrame) -> DataFrame:
    """(source, w): the non-empty lowercased tokens of every non-null text."""
    return (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.transform(X_text.tokens("text"), lambda t: F.lower(t))).alias(
                "w"
            ),
        )
        .filter(F.col("w") != "")
    )


def _source_kl(corpus: DataFrame, counts: DataFrame) -> DataFrame:
    """Per source, KL(p_source ‖ p_corpus) in nats from the corpus counts
    `corpus(w, c)` and the per-source counts `counts(source, w, cs)`,
    p_source add-1 smoothed over the corpus vocabulary."""
    scal = corpus.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).cast("double").alias("v")
    )
    stot = counts.groupBy("source").agg(F.sum("cs").alias("ns"))
    x = (
        corpus.join(F.broadcast(stot))
        .join(counts, ["source", "w"], "left")
        .join(F.broadcast(scal))
        .withColumn("__cs", F.coalesce(F.col("cs"), F.lit(0.0)))
    )
    p = (F.col("__cs") + F.lit(1.0)) / (F.col("ns") + F.col("v"))
    q = F.col("c") / F.col("n")
    return x.groupBy("source").agg(
        F.min("ns").cast("long").alias("n_tokens"),
        F.min("v").cast("long").alias("corpus_vocab"),
        F.round(F.sum(p * F.log(p / q)) + F.lit(1e-9), 6).alias("kl_nats"),
    )


def xs33_source_unigram_kl(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution —
    the domain-DRIFT monitor mixture pipelines consume (DoReMi/DSIR
    measure domain fit with exactly this family of statistics): for each
    source, KL(p_source ‖ p_corpus) in nats, p_source add-1 smoothed
    over the corpus vocabulary (so sources missing vocabulary words pay
    for the mass they lack), p_corpus the MLE (every vocab word has
    corpus support, so the ratio is finite by construction).

    100 TB shape: everything lives at vocabulary grain — corpus counts,
    per-source counts, and the (vocab x sources) term table built by
    BROADCASTING the tiny per-source-total frame over the vocab scan
    (never the reverse; vocab is the big side). One shuffle per count
    table, all map-side combinable; the KL rollup shuffles source-grain
    partials only."""
    toks = _source_words(read_sf_table(spark, sf, "documents"))
    corpus = toks.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("c"))
    srcc = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("double").alias("cs")
    )
    return _source_kl(corpus, srcc)


def xs33_sql() -> str:
    return (
        "WITH b AS (SELECT source,"
        f"   {_LOWER_TOKS_SQL} AS toks"
        "  FROM documents WHERE text IS NOT NULL),"
        " u AS (SELECT source, w FROM ("
        "   SELECT source, unnest(toks) AS w FROM b) q0 WHERE w <> ''),"
        " corpus AS (SELECT w, CAST(count(*) AS DOUBLE) AS c"
        "  FROM u GROUP BY 1),"
        " scal AS (SELECT CAST(sum(c) AS DOUBLE) AS n,"
        "   CAST(count(*) AS DOUBLE) AS v FROM corpus),"
        " srcc AS (SELECT source, w, CAST(count(*) AS DOUBLE) AS cs"
        "  FROM u GROUP BY 1, 2),"
        " stot AS (SELECT source, sum(cs) AS ns FROM srcc GROUP BY 1),"
        " x AS (SELECT st.source, co.c,"
        "   coalesce(sc.cs, 0.0) AS cs, st.ns, scal.n, scal.v"
        "  FROM corpus co CROSS JOIN stot st"
        "   LEFT JOIN srcc sc ON sc.source = st.source AND sc.w = co.w,"
        "   scal)"
        " SELECT source, CAST(min(ns) AS BIGINT) AS n_tokens,"
        "  CAST(min(v) AS BIGINT) AS corpus_vocab,"
        "  round(sum(((cs + 1.0) / (ns + v))"
        "   * ln(((cs + 1.0) / (ns + v)) / (c / n))) + 1e-9, 6) AS kl_nats"
        " FROM x GROUP BY 1"
    )


_XS34_POOL = 16
_XS34_K = 8
_XS34_LAM = 0.7
_XS34_QUERY = 0


def xs34_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998)
    over an exact top-16 retrieval pool for query vec 0: the
    diversity-aware serving-side rerank (lam=0.7), picking 8. The
    distributed work is the pool: exact top-16 cosine retrieval plus the
    in-engine pairwise-cosine table over the pool (both rounded to 6dp,
    so the driver-side greedy — pool-sized state, MMR's own sequential
    dependency — does IEEE-double arithmetic on engine-identical
    operands and replays exactly in sequential SQL; the pick margins are
    pinned >= 1e-9 by test so no engine can flip a round). Both sides
    use the max-sim-floor-at-0.0 convention (similarity.mmr_rerank's
    documented deviation from literal Carbonell-Goldstein for
    negative-cosine pools): Python seeds maxsim = 0.0, the oracle's
    m{r+1} takes greatest(ms, coalesce(s, 0.0)) from a 0.0 seed.

    Output: (pick_rank, vec_id, relevance, mmr_score)."""
    emb = read_sf_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == _XS34_QUERY)
    top = X_sim.cosine_topk(emb, q, k=_XS34_POOL).select(
        "neighbor_id", F.round(F.col("cosine") + F.lit(1e-9), 6).alias("rel")
    )
    pool = emb.join(
        F.broadcast(top.select(F.col("neighbor_id").alias("vec_id"))), "vec_id"
    )
    a = pool.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = pool.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        F.round(
            X_sim.cosine_expr(F.col("va"), F.col("vb")) + F.lit(1e-9), 6
        ).alias("s"),
    )
    rel = {r["neighbor_id"]: r["rel"] for r in top.collect()}
    psim = {(r["id_a"], r["id_b"]): r["s"] for r in pairs.collect()}
    picks = X_sim.mmr_rerank(rel, psim, k=_XS34_K, lam=_XS34_LAM)
    out = spark.createDataFrame(
        picks, "pick_rank LONG, vec_id LONG, relevance DOUBLE, __raw DOUBLE"
    )
    return out.select(
        "pick_rank",
        "vec_id",
        "relevance",
        F.round(F.col("__raw") + F.lit(1e-9), 6).alias("mmr_score"),
    )


def xs34_sql() -> str:
    lam, k, pool, qid = _XS34_LAM, _XS34_K, _XS34_POOL, _XS34_QUERY
    om = 1.0 - lam  # embedded via repr: 0.7 -> 0.30000000000000004 in IEEE

    # MATERIALIZED pins: cand/ps/g{r} are pool-sized (or one-row) but
    # inline the whole upstream chain per reference; un-materialized,
    # the m-chain's 4 references per level expand exponentially (plan
    # blowup + one parquet re-open per inlined scan — fd exhaustion).
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        f"qv AS (SELECT v FROM e WHERE vec_id = {qid})",
        f"sc AS (SELECT e.vec_id, {_cos_sql('e.v', 'qv.v')} AS c"
        f" FROM e, qv WHERE e.vec_id <> {qid})",
        "rk AS (SELECT vec_id, c,"
        " row_number() OVER (ORDER BY c DESC, vec_id) AS r FROM sc)",
        f"cand AS MATERIALIZED (SELECT vec_id, round(c + 1e-9, 6) AS rel"
        f" FROM rk WHERE r <= {pool})",
        "ps AS MATERIALIZED (SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
        f" round({_cos_sql('ea.v', 'eb.v')} + 1e-9, 6) AS s"
        " FROM cand a JOIN cand b ON a.vec_id < b.vec_id"
        " JOIN e ea ON ea.vec_id = a.vec_id"
        " JOIN e eb ON eb.vec_id = b.vec_id)",
        "m1 AS (SELECT vec_id, rel, 0.0 AS ms FROM cand)",
    ]
    sel = []
    for r in range(1, k + 1):
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT vec_id, rel, ms,"
            f" {lam!r} * rel - {om!r} * ms AS score"
            f" FROM m{r} ORDER BY score DESC, vec_id LIMIT 1)"
        )
        if r < k:
            # the one-row g{r} cross-joins in first so the LEFT JOIN
            # condition sees plain columns (DuckDB rejects subqueries
            # in non-inner join conditions)
            parts.append(
                f"m{r + 1} AS (SELECT m.vec_id, m.rel,"
                " greatest(m.ms, coalesce(p.s, 0.0)) AS ms"
                f" FROM m{r} m CROSS JOIN g{r} g"
                " LEFT JOIN ps p ON (p.id_a = m.vec_id AND p.id_b = g.vec_id)"
                "  OR (p.id_b = m.vec_id AND p.id_a = g.vec_id)"
                " WHERE m.vec_id <> g.vec_id)"
            )
        sel.append(
            f"SELECT CAST({r} AS BIGINT) AS pick_rank, vec_id,"
            f" rel AS relevance, round(score + 1e-9, 6) AS mmr_score"
            f" FROM g{r}"
        )
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(sel)


def s21_stream_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """The STREAMING seam of xs25's benchmark decontamination: pool
    documents arrive continuously; each micro-batch's k-grams hit the
    STATIC broadcast eval-gram set (stream-static equi-join — stateless)
    and a stateful per-doc count accumulates each contaminated doc's
    overlap mass. State grain = contaminated docs only (the set sharing
    grams with a benchmark — benchmark-bounded, NOT corpus-bounded), the
    same economics as the batch twin's broadcast semi-join. Complete-mode
    memory drain in the gate; the production sink is the foreachBatch
    upsert path. Oracle: xs25's own chain, hit rows only — spliced from
    xs25_sql so the two contracts cannot drift."""
    docs = read_sf_table(spark, sf, "documents")
    ev = (
        _toked(docs.filter(F.col("doc_id") % 10 == 0))
        .select(F.explode(_xs25_grams()).alias("gram"))
        .distinct()
    )
    hits = (
        stream_sf_table(spark, sf, "documents")
        .filter(F.col("doc_id") % 10 != 0)
        .transform(lambda d: _toked(d, "doc_id"))
        .select("doc_id", F.explode(_xs25_grams()).alias("gram"))
        .join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap_grams"))
    )
    return drain(hits, output_mode="complete", partitions=8)


def s21_sql() -> str:

    base = xs25_sql()
    head, _ = base.split(" SELECT d.doc_id,", 1)
    return head + " SELECT doc_id, n AS n_overlap_grams FROM hit"

_register("xs28_ccnet_ppl_buckets", xs28_ccnet_ppl_buckets, xs28_sql())
_register("xs29_d4_prototypes", xs29_d4_prototypes, xs29_sql())
_register("xs30_quality_calibration", xs30_quality_calibration, xs30_sql())
_register("xs31_cluster_purity", xs31_cluster_purity, xs31_sql())
_register("xs32_kcenter_coreset", xs32_kcenter_coreset, xs32_sql())
_register("xs33_source_unigram_kl", xs33_source_unigram_kl, xs33_sql())
_register("xs34_mmr_rerank", xs34_mmr_rerank, xs34_sql())
_register("s21_stream_decontaminate", s21_stream_decontaminate, s21_sql())


# --------------------------------------------------------------------------
# -- round-15 registrations: the tier-3 batch (staged and 3-SF gate-verified
# -- in round 13, calibration-pinned in round 14; moved here verbatim,
# -- oracle strings byte-identical to the staged versions — asserted at
# -- move time). Contrastive positive-pair mining from the minhash-CC
# -- duplicate clusters (the SimCSE/E5 near-dup-as-positive convention),
# -- held-out interpolated Kneser-Ney scoring beside Jelinek-Mercer (the
# -- KenLM/CCNet smoothing family) with the per-doc disagreement delta,
# -- and the streaming seam of xs33's per-source unigram-KL drift monitor.
# --------------------------------------------------------------------------


def xs35_contrastive_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive POSITIVE-pair mining from the duplicate clusters —
    the training-data-generation step embedding-model pipelines publish
    (SimCSE/E5-style: near-duplicate documents form positive pairs;
    negatives come free in-batch at training time, so the mining op
    emits only (anchor, positive)). Every member of an x14 minhash-CC
    cluster pairs with the NEXT member in doc_id order, wrapping to the
    first (a deterministic ring: every member appears exactly once as
    anchor and once as positive, no member pairs with itself in
    clusters >= 2 — which CC guarantees, since membership requires an
    edge). Consumes the shared dedup-CC silver; windows partition by
    cluster (group grain)."""
    cc = shared_dedup_clusters(spark, sf)
    w = Window.partitionBy("cluster_id").orderBy("id")
    return cc.select(
        F.col("id").alias("anchor_id"),
        F.coalesce(F.lead("id").over(w), F.first("id").over(w)).alias(
            "positive_id"
        ),
        "cluster_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .cast("long")
        .alias("cluster_size"),
    )


def xs35_sql() -> str:
    return (
        _X14_CC_SQL
        + " SELECT id AS anchor_id,"
        "  coalesce(lead(id) OVER (PARTITION BY cluster_id ORDER BY id),"
        "   first_value(id) OVER (PARTITION BY cluster_id ORDER BY id))"
        "   AS positive_id,"
        " cluster_id,"
        "  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)"
        "   AS cluster_size"
        " FROM cc"
    )


_XS36_D = 0.75


def xs36_kneser_ney_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Held-out per-doc perplexity under interpolated KNESER-NEY beside
    the Jelinek-Mercer score (xs7/xs12's LM), same slices, same token
    stream — the smoothing-family upgrade the published perplexity
    filters actually ship (CCNet's KenLM is modified-KN), emitted as a
    per-doc comparison so the gate hashes which documents the two
    smoothings DISAGREE on (jm_minus_kn_nll > 0 = KN considers the doc
    more natural than JM does). Both scores share one oracle CTE chain
    (the _xs7_perdoc_sql token stream), so a drift in either smoothing
    — or in the shared tokenization — is a hash mismatch."""
    docs = read_sf_table(spark, sf, "documents")
    ho = F.col("doc_id") % 5 == 0
    # the FUSED scorer: one held-bigram stream, one join tree, both
    # smoothings (equality to the standalone scorers pinned by
    # test_fused_lm_scorer_equals_standalones)
    both = X_text.heldout_jm_kn_nll(
        docs, "doc_id", "text", holdout=ho, lam=_XS7_LAM, discount=_XS36_D
    )
    j = both.select(
        F.col("id").alias("doc_id"),
        F.col("n_scored").alias("n_tokens"),
        (F.col("sum_nll_jm") / F.col("n_scored")).alias("__jm"),
        (F.col("sum_nll_kn") / F.col("n_scored")).alias("__kn"),
    )
    return j.select(
        "doc_id",
        "n_tokens",
        F.round(F.exp(F.col("__kn")) + F.lit(1e-9), 6).alias("kn_ppl"),
        F.round(F.exp(F.col("__jm")) + F.lit(1e-9), 6).alias("jm_ppl"),
        F.round(F.col("__jm") - F.col("__kn") + F.lit(1e-9), 6).alias(
            "jm_minus_kn_nll"
        ),
    )


def xs36_sql() -> str:
    d = _XS36_D
    p_cont = "((coalesce(rgt.n1r, 0.0) + 1.0) / (t + v + 1.0))"
    return (
        _xs7_perdoc_sql()
        + ", lft AS (SELECT w_prev, CAST(sum(c2) AS DOUBLE) AS cl,"
        "   CAST(count(*) AS DOUBLE) AS n1l FROM bi GROUP BY 1),"
        " rgt AS (SELECT w, CAST(count(*) AS DOUBLE) AS n1r"
        "  FROM bi GROUP BY 1),"
        " kt AS (SELECT CAST(sum(n1r) AS DOUBLE) AS t FROM rgt),"
        " ksb AS (SELECT id, -ln(CASE WHEN coalesce(lft.cl, 0.0) > 0 THEN"
        f"   greatest(coalesce(b.c2, 0) - {d!r}, 0.0) / lft.cl"
        f"   + ({d!r} * lft.n1l / lft.cl) * {p_cont}"
        f"  ELSE {p_cont} END) AS nll"
        "  FROM bh LEFT JOIN bi b USING (w_prev, w)"
        "   LEFT JOIN lft USING (w_prev)"
        "   LEFT JOIN rgt ON rgt.w = bh.w, kt, scal),"
        " kfst AS (SELECT id,"
        f"  -ln((coalesce(n1r, 0.0) + 1.0) / (t + v + 1.0)) AS nll"
        "  FROM (SELECT id, toks[1] AS w FROM hd"
        "    WHERE len(toks) >= 1 AND toks[1] <> '') f"
        "   LEFT JOIN rgt USING (w), kt, scal),"
        " knper AS (SELECT id, count(*) AS ns, sum(nll) AS snll"
        "  FROM (SELECT * FROM ksb UNION ALL SELECT * FROM kfst) a"
        "  GROUP BY 1)"
        " SELECT p.id AS doc_id, CAST(p.ns AS BIGINT) AS n_tokens,"
        "  round(exp(k.snll / k.ns) + 1e-9, 6) AS kn_ppl,"
        "  round(exp(p.snll / p.ns) + 1e-9, 6) AS jm_ppl,"
        "  round(p.snll / p.ns - k.snll / k.ns + 1e-9, 6) AS jm_minus_kn_nll"
        " FROM perdoc p JOIN knper k ON k.id = p.id"
    )


def s22_stream_source_kl(spark: SparkSession, sf: str) -> DataFrame:
    """The STREAMING seam of xs33's domain-drift monitor: documents
    arrive continuously, a stateful (source, word)-grain count runs at
    ingest (state bounded by vocabulary x sources — never corpus rows),
    and the KL readout computes over the DRAINED state: per-source
    KL(source ‖ corpus) where the corpus distribution is the sum of the
    state itself — so after a full drain the readout equals xs33's batch
    answer exactly, which is what the oracle hashes. This is the one
    streaming shape no other s-query exercises: a stateful aggregation
    whose CONSUMER is a batch computation over the drained state table
    (the production deployment reads the state store per trigger via
    foreachBatch and publishes the KL time-series). Token stream is
    xs33's verbatim (lowercased, empty-dropped)."""
    counts = (
        _source_words(stream_sf_table(spark, sf, "documents"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("cs"))
    )
    # the drained state is a batch table, so it can feed the several
    # join branches below
    st = drain(counts, output_mode="complete", partitions=8)

    return _source_kl(st.groupBy("w").agg(F.sum("cs").alias("c")), st)


_register("xs35_contrastive_pairs", xs35_contrastive_pairs, xs35_sql())
_register("xs36_kneser_ney_filter", xs36_kneser_ney_filter, xs36_sql())
# s22's oracle IS its batch twin's (xs33): after a full drain the
# stateful readout equals the batch KL table exactly.
_register("s22_stream_source_kl", s22_stream_source_kl, xs33_sql())
