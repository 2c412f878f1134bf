"""End-to-end pipeline: summary records -> silver tables -> all analyzers.

The reference materializes the whole corpus in RAM and makes 28 eager
passes (analyze.py:1229-1241). Here the corpus is ONE cached DataFrame
per silver table, populated by the first action, and the 30 analyzers are
lazy frames over them: one Spark action each when run alone (run_analyzers,
--filter), about 10 shared passes in the report (report.emitter).

100 TB posture: `build_silver` accepts any summary DataFrame — at scale
that is a date-partitioned parquet silver layer (write_silver) rather than
an in-memory cache; analyzers are identical either way.
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
    operators and plan_nodes are cached; tasks is not.
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


def collect_metrics(silver: dict[str, DataFrame]) -> DataFrame:
    return A.collect_metrics(silver["queries"])


SILVER_TABLES = ("queries", "operators", "plan_nodes", "tasks")


def _dated(silver: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Every silver table with a query_date partition column.

    queries derives it from query_ts; the child tables derive it from
    their query_id prefix (same 15-char timestamp encoding,
    analyze.py:62-63) so all four share one partition scheme.
    """
    q = silver["queries"].withColumn("query_date", F.to_date("query_ts"))
    out = {"queries": q}
    for name in ("operators", "plan_nodes", "tasks"):
        out[name] = silver[name].withColumn(
            "query_date", F.to_date(query_timestamp("query_id"))
        )
    return out


def write_silver(silver: dict[str, DataFrame], out_dir: str) -> None:
    """Persist ALL silver tables as parquet partitioned by query_date.

    One shared partition scheme means every analyzer — including the
    operator/plan attribution joins — prunes to the report's time range
    at the scan (SURVEY §4.2: the 100 TB lever is reading days, not
    history)."""
    for name, df in _dated(silver).items():
        df.write.mode("overwrite").partitionBy("query_date").parquet(
            f"{out_dir}/{name}"
        )


def append_silver(silver: dict[str, DataFrame], out_dir: str) -> None:
    """Incremental silver maintenance: land ONLY the batch's date partitions.

    Dynamic partition overwrite replaces exactly the query_date partitions
    present in this batch and never touches the rest of history — so the
    daily ingest is idempotent (re-running a day's extract replaces that
    day byte-for-byte instead of duplicating it), and backfilling an old
    day is the same operation as appending a new one. This is the
    Spark-native answer to the reference's re-extract-everything model
    (extract.py rewrites the whole summary JSONL each run)."""
    spark = silver["queries"].sparkSession
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        write_silver(silver, out_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def read_silver(spark, out_dir: str) -> dict[str, DataFrame]:
    """Load the date-partitioned silver layout written by write/append_silver."""
    return {name: spark.read.parquet(f"{out_dir}/{name}") for name in SILVER_TABLES}


def write_silver_bucketed(
    silver: dict[str, DataFrame], prefix: str = "pwa", buckets: int = 32
) -> None:
    """Persist operators + plan_nodes as bucketed catalog tables.

    The table-attribution analyzers (#18, 22-24) and the join-shape pair
    matching (#27, 28) all equi-join operators to plan_nodes on
    (query_id, node_id). At 100 TB those are the two biggest silver tables
    and the join would shuffle both ends on every report run. Bucketing
    both by (query_id, node_id) — exactly the equi-join keys, which is
    what Spark requires to enable the bucketed scan — makes the join
    co-located: Catalyst plans it with zero Exchange on either side, so the
    shuffle is paid once at silver-build time and amortized over every
    analysis. query_id is the high-cardinality component (no skew: one
    query's operators ~ dozens of rows). `buckets` should scale with corpus
    size (~target 128 MB/bucket-file per date partition).
    """
    spark = silver["operators"].sparkSession
    for name in ("operators", "plan_nodes"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{name}")
        (
            silver[name]
            .write.mode("overwrite")
            .bucketBy(buckets, "query_id", "node_id")
            .sortBy("query_id", "node_id")
            .format("parquet")
            .saveAsTable(f"{prefix}_{name}")
        )


def read_silver_bucketed(spark, prefix: str = "pwa") -> dict[str, DataFrame]:
    """Load the bucketed silver tables written by write_silver_bucketed."""
    return {
        "operators": spark.table(f"{prefix}_operators"),
        "plan_nodes": spark.table(f"{prefix}_plan_nodes"),
    }


def compact_dataset(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet dataset into ~target-sized files; returns new file count.

    The small-files problem: a streaming sink (or a high-parallelism write)
    leaves thousands of tiny parquet files, and at 100 TB every downstream
    scan then pays per-file open/footer/scheduling cost that dwarfs the IO.
    Periodic compaction keeps file count ~ bytes / target (floor 1). Uses
    on-disk byte size (compressed) as the sizing signal and writes via a
    temp dir + atomic-ish swap so a crashed compaction never leaves the
    dataset half-overwritten.
    """
    import math
    import os
    import shutil

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = f"{path}__compacting"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    old = f"{path}__old"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    return n_files
