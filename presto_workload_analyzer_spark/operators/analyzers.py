"""The 28 registered analyzers + collect_metrics, as DataFrame transforms.

Each function mirrors one `@run`-registered analyzer of the reference
(registry at analyze.py:54-59; inventory in SURVEY.md §2A) but takes the
cached silver DataFrames and returns a SMALL aggregate/projection DataFrame
— the chart data — instead of a Bokeh figure. Chart rendering is a separate
concern (report/emitter.py) operating on the collected rows.

Silver-table contracts (see sources/ and plans/):
  queries:    query_id, query_ts, user, state, update, elapsed_time,
              cpu_time, scheduled_time, blocked_time, input_size,
              output_size, network_size, written_size, input_rows,
              output_rows, network_rows, peak_mem
              (FAILED rows already dropped — reference analyze.py:1233-1234)
  operators:  query_id, node_id, op_type, input_size, output_size,
              network_size, input_rows, output_rows, network_rows, peak_mem,
              input_cpu, output_cpu, finish_cpu, input_wall, output_wall,
              finish_wall, blocked_wall
  plan_nodes: query_id, node_id, node_type, join_type, criteria_count,
              distribution_type, deepest_scan_table, ...

Design notes for 100 TB:
  * analyzers never collect; they return lazy aggregates over the cached
    silver tables. Charts declared with `_over` are projections of a shared
    frame (a per-key aggregate, a join, a row set): the report collects all
    charts over one frame in one pass, and all pies under one
    pie_collapse_by, so the 30 charts cost about 10 Spark actions (vs. the
    reference's 28 eager passes over the corpus, analyze.py:1229-1241);
  * scatter "charts" are row-level projections; at cluster scale the report
    layer caps them (`limit`) before collect — the cap lives in the emitter,
    not here, to keep analyzer semantics identical to the reference;
  * the operators<->plan_nodes joins are per-query-key equi-joins where one
    side is small: AQE/broadcast handles strategy.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F

from presto_workload_analyzer_spark.materialize import materialize

from presto_workload_analyzer_spark.functions.labels import strip_operator_suffix
from presto_workload_analyzer_spark.functions.timeutil import trunc_date, trunc_hour
from presto_workload_analyzer_spark.operators.joins import join_pairs
from presto_workload_analyzer_spark.operators.kernels import (
    pie_collapse,
    selectivity_histogram,
    top_k_keys,
)

SECONDS_PER_DAY = 86400.0
SECONDS_PER_HOUR = 3600.0
BYTES_PER_TB = 1e12  # decimal TB, reference analyze.py:138,1181


def _over(base: Callable[..., DataFrame], kernel: Callable[[DataFrame], DataFrame] | None = None):
    """Declare a chart as a projection of the shared frame `base(*silver)`.

    The decorated function returns the chart's columns over that frame and
    becomes the chart, called with the silver tables `base` takes:
    `kernel(base(*silver).select(*columns))`. The report collects all charts
    over one base in one pass through `chart.base` and `chart.columns`
    (report.emitter), so the columns define the chart on both paths.
    """

    def declare(columns: Callable[[], list[Column | str]]):
        @functools.wraps(columns)
        def chart(*frames: DataFrame) -> DataFrame:
            rows = base(*frames).select(*columns())
            return kernel(rows) if kernel else rows

        chart.base, chart.columns = base, columns
        return chart

    return declare


# --- per-query time series (reference analyze.py:83-214) ---------------------


def _time_sums(queries: DataFrame, trunc: Callable[[str], Column]) -> DataFrame:
    """Per-bucket sums shared by the three time series of one grain, in bucket order."""
    return (
        queries.groupBy(trunc("query_ts").alias("bucket"))
        .agg(
            F.sum("scheduled_time").alias("scheduled"),
            F.sum("input_size").alias("input"),
            F.count(F.lit(1)).alias("n_queries"),
        )
        # one task finishes and sorts the few buckets: a global orderBy
        # would add a sampling job and a shuffle
        .coalesce(1)
        .sortWithinPartitions("bucket")
    )


_per_day = functools.partial(_time_sums, trunc=trunc_date)
_per_hour = functools.partial(_time_sums, trunc=trunc_hour)


@_over(_per_day)
def scheduled_by_date():
    """Sum of scheduled days by calendar day. Reference analyze.py:83-100."""
    return ["bucket", (F.col("scheduled") / SECONDS_PER_DAY).alias("scheduled_days")]


@_over(_per_hour)
def scheduled_by_hour():
    """Sum of scheduled hours by hour. Reference analyze.py:112-130."""
    return ["bucket", (F.col("scheduled") / SECONDS_PER_HOUR).alias("scheduled_hours")]


@_over(_per_day)
def input_by_date():
    """Sum of input TB by day. Reference analyze.py:133-151."""
    return ["bucket", (F.col("input") / BYTES_PER_TB).alias("input_tb")]


@_over(_per_hour)
def input_by_hour():
    """Sum of input TB by hour. Reference analyze.py:154-172."""
    return ["bucket", (F.col("input") / BYTES_PER_TB).alias("input_tb")]


@_over(_per_day)
def queries_by_date():
    """Query count by day. Reference analyze.py:175-193."""
    return ["bucket", "n_queries"]


@_over(_per_hour)
def queries_by_hour():
    """Query count by hour. Reference analyze.py:196-214."""
    return ["bucket", "n_queries"]


# --- per-query scatters (reference analyze.py:217-302, 374-457) --------------


def _queries(queries: DataFrame) -> DataFrame:
    return queries


@_over(_queries)
def peak_mem_by_query():
    """Scatter (query_ts, peak_mem); 10 GB advisory. Reference analyze.py:217-243."""
    return ["query_ts", "peak_mem", "query_id"]


@_over(_queries)
def input_size_by_query():
    """Scatter (query_ts, input_size); 1 TB advisory. Reference analyze.py:246-274."""
    return ["query_ts", "input_size", "query_id"]


@_over(_queries)
def elapsed_time_by_query():
    """Scatter (query_ts, elapsed_time); 300 s advisory. Reference analyze.py:277-302."""
    return ["query_ts", "elapsed_time", "query_id"]


@_over(_queries)
def output_vs_input():
    """Scatter (input_size, output_size), log-log. Reference analyze.py:374-399."""
    return ["input_size", "output_size", "query_id"]


@_over(_queries)
def scheduled_vs_input():
    """Scatter (input_size, scheduled_time). Reference analyze.py:402-428."""
    return ["input_size", "scheduled_time", "query_id"]


@_over(_queries)
def elapsed_vs_input():
    """Scatter (input_size, elapsed_time). Reference analyze.py:431-457."""
    return ["input_size", "elapsed_time", "query_id"]


# --- per-query pies (reference analyze.py:305-371) ---------------------------


def _per_user(queries: DataFrame) -> DataFrame:
    return queries.groupBy(F.col("user").alias("label")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("scheduled_time").alias("scheduled"),
        F.sum("input_size").alias("input"),
    )


def _per_update(queries: DataFrame) -> DataFrame:
    return queries.groupBy(
        F.coalesce(F.col("update"), F.lit("SELECT")).alias("label")
    ).agg(F.sum("scheduled_time").alias("scheduled"))


@_over(_per_user, pie_collapse)
def queries_by_user():
    """Query count by user -> pie. Reference analyze.py:305-318."""
    return ["label", F.col("n").cast("double").alias("val")]


@_over(_per_user, pie_collapse)
def scheduled_by_user():
    """Scheduled days by user -> pie. Reference analyze.py:321-335."""
    return ["label", (F.col("scheduled") / SECONDS_PER_DAY).alias("val")]


@_over(_per_update, pie_collapse)
def scheduled_by_update():
    """Scheduled days by query type; NULL update => 'SELECT' (analyze.py:345)."""
    return ["label", (F.col("scheduled") / SECONDS_PER_DAY).alias("val")]


@_over(_per_user, pie_collapse)
def input_by_user():
    """Input TB by user -> pie. Reference analyze.py:357-371."""
    return ["label", (F.col("input") / BYTES_PER_TB).alias("val")]


# --- operator-level analyzers (reference analyze.py:524-990) -----------------

def _wall():
    # operator wall = addInput + getOutput + finish wall (reference analyze.py:536,632)
    return F.col("input_wall") + F.col("output_wall") + F.col("finish_wall")


def _per_operator(operators: DataFrame) -> DataFrame:
    return operators.groupBy(strip_operator_suffix("op_type").alias("label")).agg(
        F.sum(_wall()).alias("wall")
    )


def _per_op_type(operators: DataFrame) -> DataFrame:
    return operators.groupBy(F.col("op_type").alias("label")).agg(
        F.sum("input_size").alias("input"), F.sum("input_rows").alias("rows")
    )


@_over(_per_operator, pie_collapse)
def operator_wall():
    """Wall time by operator type ('Operator' stripped) -> pie.

    Reference analyze.py:524-543 (its `selectivity` list at 532-534 is dead
    code, not reproduced).
    """
    return ["label", F.col("wall").alias("val")]


@_over(_per_op_type, pie_collapse)
def operator_input():
    """Input bytes by operator type (full name) -> pie. Reference analyze.py:961-975."""
    return ["label", F.col("input").alias("val")]


@_over(_per_op_type, pie_collapse)
def operator_rows():
    """Input rows by operator type -> pie. Reference analyze.py:978-990."""
    return ["label", F.col("rows").cast("double").alias("val")]


def filter_selectivity_1(operators: DataFrame) -> DataFrame:
    """Scatter (input_rows, output_rows) over *Filter* operators.

    Reference analyze.py:716-744. Note 'Filter' also matches
    ScanFilterAndProjectOperator — intentional there, kept here.
    """
    return operators.filter(F.col("op_type").contains("Filter")).select(
        "input_rows", "output_rows", "query_id"
    )


def _scan_ops_with_table(operators: DataFrame, plan_nodes: DataFrame, type_substr: str) -> DataFrame:
    """Operators of matching type joined to their deepest-scan table name.

    Reference resolves the table by a per-query dict probe + DFS to the
    deepest node under the operator's plan node (analyze.py:596-603); the
    flatten stage precomputed `deepest_scan_table` per (query_id, node_id)
    so this is a plain equi-join (SURVEY.md §4.3).
    """
    ops = operators.filter(F.col("op_type").contains(type_substr))
    nodes = plan_nodes.select("query_id", "node_id", "deepest_scan_table")
    return ops.join(nodes, on=["query_id", "node_id"])


def _per_scan_table(operators: DataFrame, plan_nodes: DataFrame) -> DataFrame:
    scans = _scan_ops_with_table(operators, plan_nodes, "Scan")
    return scans.groupBy(F.col("deepest_scan_table").alias("label")).agg(
        F.sum(_wall()).alias("wall"), F.sum("input_size").alias("input")
    )


@_over(_per_scan_table, pie_collapse)
def wall_by_table_scan():
    """Scan wall time by scanned table -> pie. Reference analyze.py:587-619."""
    return ["label", F.col("wall").alias("val")]


@_over(_per_scan_table, pie_collapse)
def input_size_by_table_scan():
    """Scan input bytes by scanned table -> pie. Reference analyze.py:926-958."""
    return ["label", F.col("input").alias("val")]


def wall_by_selectivity_10(operators: DataFrame) -> DataFrame:
    """Scan wall % per selectivity bin, 10 bins. Reference analyze.py:689-695."""
    return _wall_by_selectivity(operators, bins=10, max_selectivity=1.0)


def wall_by_selectivity_100_first_20(operators: DataFrame) -> DataFrame:
    """Scan wall % per selectivity bin, 100 bins capped at 0.2 + 'Above'.

    Reference analyze.py:698-705 — inherits the 1-decimal rounding quirk,
    reproduced faithfully (see kernels.selectivity_histogram).
    """
    return _wall_by_selectivity(operators, bins=100, max_selectivity=0.2)


def _wall_by_selectivity(operators: DataFrame, bins: int, max_selectivity: float) -> DataFrame:
    scans = operators.filter(
        F.col("op_type").contains("Scan") & (F.col("input_rows") > 0)
    ).select(
        (F.col("output_rows") / F.col("input_rows")).alias("selectivity"),
        _wall().alias("wall"),
    )
    return selectivity_histogram(
        scans, "selectivity", "wall", bins=bins, max_selectivity=max_selectivity
    )


def _scanfilter_selectivity(operators: DataFrame, plan_nodes: DataFrame, top_k: int = 5) -> DataFrame:
    """Shared top-K-tables machinery of analyzers 22/23 (analyze.py:747-923).

    *ScanFilter* ops with input_rows > 0, joined to their table; keep only
    ops on the top-K tables by total wall (computed over the same guarded
    set, analyze.py:788-790,808-810); left-semi join restricts without
    duplicating — the top-K frame is tiny and broadcast.
    """
    ops = _scan_ops_with_table(operators, plan_nodes, "ScanFilter").filter(
        F.col("input_rows") > 0
    )
    ops = ops.select(
        (F.col("output_rows") / F.col("input_rows")).alias("selectivity"),
        _wall().alias("wall"),
        F.col("input_rows"),
        F.col("deepest_scan_table").alias("table_name"),
        F.col("query_id"),
    # materialized: the guarded scan-op slice feeds BOTH the top-K wall
    # aggregate and the semi-joined scatter below — un-materialized, the
    # operators x plan_nodes attribution join executes twice per analyzer
    # (r15 plan-audit discipline; slice grain, a projection of the silver)
    ).transform(materialize)
    top = top_k_keys(ops, "table_name", "wall", top_k)
    return ops.join(F.broadcast(top), on="table_name", how="left_semi")


@_over(_scanfilter_selectivity)
def walltime_vs_selectivity():
    """Scatter (selectivity, wall) for ops on the top-5 tables. Reference analyze.py:747-834."""
    return ["selectivity", "wall", "table_name", "query_id"]


@_over(_scanfilter_selectivity)
def inputrows_vs_selectivity():
    """Scatter (selectivity, input_rows) for ops on the top-5 tables. Reference analyze.py:837-923."""
    return ["selectivity", "input_rows", "table_name", "query_id"]


# --- join analyzers (reference analyze.py:1083-1174) -------------------------


@_over(join_pairs)
def joins_sides():
    """Scatter build-side vs probe-side input bytes per physical join.

    x = build (right/side) input_size, y = probe (left) input_size, colored
    by the plan node's distributionType. Reference analyze.py:1083-1136.
    """
    return ["build_input_size", "probe_input_size", "distribution_type", "query_id"]


@_over(join_pairs)
def joins_selectivity():
    """Scatter max(probe, build) input rows vs probe output rows per join.

    Reference analyze.py:1139-1174 (x = max of the sides' input_rows,
    y = probe output_rows).
    """
    return [
        F.greatest("probe_input_rows", "build_input_rows").alias("max_input_rows"),
        F.col("probe_output_rows").alias("output_rows"),
        "query_id",
    ]


# --- task-tree analysis (beyond-reference) -----------------------------------


def task_stage_stats(tasks: DataFrame) -> DataFrame:
    """Per (query, stage) task rollup with straggler ratio.

    Consumes the substages task tree the reference collects but never
    analyzes (extract.py:102-120; noted as report-surface reserve in
    SURVEY.md §1.2). straggler_ratio = max/mean scheduled time across the
    stage's tasks — the classic skewed-split smell; 1.0 is perfectly
    balanced.
    """
    return (
        tasks.groupBy("query_id", "stage_path")
        .agg(
            F.count(F.lit(1)).alias("n_tasks"),
            F.sum("scheduled_time").alias("scheduled_sum"),
            F.sum("cpu_time").alias("cpu_sum"),
            F.sum("blocked_time").alias("blocked_sum"),
            F.when(
                F.mean("scheduled_time") > 0,
                F.max("scheduled_time") / F.mean("scheduled_time"),
            ).alias("straggler_ratio"),
        )
    )


def latency_percentiles(queries: DataFrame) -> DataFrame:
    """Per-user p50/p95/p99 elapsed-time — latency-SLO view of the workload.

    Beyond-reference: the reference plots raw per-query scatters
    (elapsed_time_by_query, analyze.py:277-302) and leaves percentile
    reading to the eye; this rolls them up per user. Exact `percentile`
    (linear interpolation over the sorted group) for oracle-checkable
    results.
    """
    return queries.groupBy("user").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.percentile("elapsed_time", F.lit(0.5)).alias("p50_elapsed"),
        F.percentile("elapsed_time", F.lit(0.95)).alias("p95_elapsed"),
        F.percentile("elapsed_time", F.lit(0.99)).alias("p99_elapsed"),
    )


# --- report header metrics (reference analyze.py:1177-1193) ------------------


def collect_metrics(queries: DataFrame) -> DataFrame:
    """Single-row corpus metrics for the report header.

    Day and user counts are exact, as in the reference (analyze.py:1183-1184).
    The aggregate pre-aggregates by (day, user) first: a naive
    multi-countDistinct agg plans an Expand (one replicated pass over the
    FULL corpus per distinct aggregate); grouping to the (day, user) grain
    is map-side combinable and shrinks the corpus to days*users rows, so
    the Expand runs over a tiny frame. Sums are recombined from the
    pre-aggregate (fp reassociation absorbed by report-side rounding).
    """
    pre = queries.groupBy(
        trunc_date("query_ts").alias("__day"), F.col("user").alias("__user")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("cpu_time").alias("__cpu"),
        F.sum("scheduled_time").alias("__sched"),
        F.sum("input_rows").alias("__rows"),
        F.sum("input_size").alias("__bytes"),
    )
    return pre.agg(
        F.sum("__n").alias("n_queries"),
        (F.sum("__cpu") / SECONDS_PER_DAY).alias("cpu_days"),
        (F.sum("__sched") / SECONDS_PER_DAY).alias("scheduled_days"),
        F.sum("__rows").alias("input_rows"),
        (F.sum("__bytes") / BYTES_PER_TB).alias("input_tb"),
        F.countDistinct("__day").alias("n_days"),
        F.countDistinct("__user").alias("n_users"),
    )
