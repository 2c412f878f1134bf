"""End-to-end pipeline: summary records -> silver tables -> all analyzers.

The reference materializes the whole corpus in RAM and makes 28 eager
passes (analyze.py:1229-1241). Here the corpus is ONE cached DataFrame
per silver table, populated by the first action, and the 30 analyzers are
lazy frames over them: one Spark action each when run alone (run_analyzers,
--filter), about 10 shared passes in the report (report.emitter).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

from presto_workload_analyzer_spark.functions.timeutil import query_timestamp
from presto_workload_analyzer_spark.operators import analyzers as A
from presto_workload_analyzer_spark.plans.flatten import flatten_plan_nodes, flatten_tasks

# Chart kinds decide how the report formats rows: a pie's labels are shortened
# and a palette attached; a ROWS chart (one row per query or operator) is
# capped before collect; a PLAIN chart is a small aggregate collected whole.
PIE, ROWS, PLAIN = "pie", "rows", "plain"

# analyzer name -> (callable, silver inputs it takes, kind)
ANALYZERS: dict[str, tuple[Callable[..., DataFrame], tuple[str, ...], str]] = {
    "scheduled_by_date": (A.scheduled_by_date, ("queries",), PLAIN),
    "scheduled_by_hour": (A.scheduled_by_hour, ("queries",), PLAIN),
    "input_by_date": (A.input_by_date, ("queries",), PLAIN),
    "input_by_hour": (A.input_by_hour, ("queries",), PLAIN),
    "queries_by_date": (A.queries_by_date, ("queries",), PLAIN),
    "queries_by_hour": (A.queries_by_hour, ("queries",), PLAIN),
    "peak_mem_by_query": (A.peak_mem_by_query, ("queries",), ROWS),
    "input_size_by_query": (A.input_size_by_query, ("queries",), ROWS),
    "elapsed_time_by_query": (A.elapsed_time_by_query, ("queries",), ROWS),
    "queries_by_user": (A.queries_by_user, ("queries",), PIE),
    "scheduled_by_user": (A.scheduled_by_user, ("queries",), PIE),
    "scheduled_by_update": (A.scheduled_by_update, ("queries",), PIE),
    "input_by_user": (A.input_by_user, ("queries",), PIE),
    "output_vs_input": (A.output_vs_input, ("queries",), ROWS),
    "scheduled_vs_input": (A.scheduled_vs_input, ("queries",), ROWS),
    "elapsed_vs_input": (A.elapsed_vs_input, ("queries",), ROWS),
    "operator_wall": (A.operator_wall, ("operators",), PIE),
    "wall_by_table_scan": (A.wall_by_table_scan, ("operators", "plan_nodes"), PIE),
    "wall_by_selectivity_10": (A.wall_by_selectivity_10, ("operators",), PLAIN),
    "wall_by_selectivity_100_first_20": (A.wall_by_selectivity_100_first_20, ("operators",), PLAIN),
    "filter_selectivity_1": (A.filter_selectivity_1, ("operators",), ROWS),
    "walltime_vs_selectivity": (A.walltime_vs_selectivity, ("operators", "plan_nodes"), ROWS),
    "inputrows_vs_selectivity": (A.inputrows_vs_selectivity, ("operators", "plan_nodes"), ROWS),
    "input_size_by_table_scan": (A.input_size_by_table_scan, ("operators", "plan_nodes"), PIE),
    "operator_input": (A.operator_input, ("operators",), PIE),
    "operator_rows": (A.operator_rows, ("operators",), PIE),
    "joins_sides": (A.joins_sides, ("operators", "plan_nodes"), ROWS),
    "joins_selectivity": (A.joins_selectivity, ("operators", "plan_nodes"), ROWS),
    # beyond-reference: task-tree straggler analysis (SURVEY.md §1.2 reserve)
    "task_stage_stats": (A.task_stage_stats, ("tasks",), ROWS),
    # beyond-reference: per-user latency SLO percentiles
    "latency_percentiles": (A.latency_percentiles, ("queries",), PLAIN),
}


def build_silver(summary: DataFrame) -> dict[str, DataFrame]:
    """Summary records -> {queries, operators, plan_nodes, tasks}.

    FAILED queries are dropped up front (reference analyze.py:1233-1234);
    all downstream tables derive from the filtered corpus. queries,
    operators and plan_nodes are cached (tasks is not); the caller
    unpersists them, as `cli analyze` does once its report is written.
    """
    queries = (
        summary.filter(F.col("state") != "FAILED")
        .withColumn("query_ts", query_timestamp("query_id"))
        .cache()
    )
    operators = (
        queries.select("query_id", F.explode("operators").alias("op"))
        .select("query_id", "op.*")
        .cache()
    )
    plan_nodes = flatten_plan_nodes(queries).cache()
    tasks = flatten_tasks(queries)
    return {
        "queries": queries,
        "operators": operators,
        "plan_nodes": plan_nodes,
        "tasks": tasks,
    }


def run_analyzers(
    silver: dict[str, DataFrame], only: list[str] | None = None
) -> dict[str, DataFrame]:
    """All analyzer outputs (lazy) keyed by name; `only` mirrors --filter."""
    names = only or list(ANALYZERS)
    out = {}
    for name in names:
        fn, inputs, _ = ANALYZERS[name]
        out[name] = fn(*[silver[i] for i in inputs])
    return out
