"""Raw Presto QueryInfo documents -> summary records (bronze -> silver).

The reference's extract stage (extract.py:123-213) is a single-process loop
over one-JSON-per-file inputs. Here the same distillation runs as a
`mapInPandas` stage over `spark.read.text(..., wholetext=True)` — one task
per file split, scaling with the cluster — emitting rows of SUMMARY_SCHEMA.

Semantics preserved from the reference:
  * Varada-internal queries skipped
    (session.catalogProperties.varada.internal_query == 'true',
    extract.py:127-129);
  * metric unit-strings parsed to float seconds/bytes with the exact
    suffix-order rules (extract.py:30-63);
  * coalesce cascades: query input_size rawInputDataSize -> inputDataSize
    -> 0 with `or` (falsy-0 fall-through!) semantics (extract.py:150-156);
    operator input_size/input_rows raw->plain (extract.py:72-76); operator
    peak_mem defaults 0 when the key is absent (extract.py:79);
  * records missing mandatory stats keys are dropped with a warning count
    (extract.py:168-169); invalid JSON files are skipped (extract.py:204-205);
  * fragments (plan trees) and the substages task tree are carried verbatim
    as JSON strings for the downstream flatten (extract.py:94-120,131-136).

Deviation: the reference RAISES on operator summaries missing required keys
(extract.py:88-90); at cluster scale one malformed document must not kill
the job, so such operators are dropped (the count is observable by
comparing operators vs raw documents).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from presto_workload_analyzer_spark.functions.pyunits import parse_size_py, parse_time_py

OPERATOR_STRUCT = T.StructType(
    [
        T.StructField("node_id", T.StringType()),
        T.StructField("op_type", T.StringType()),
        T.StructField("input_size", T.DoubleType()),
        T.StructField("output_size", T.DoubleType()),
        T.StructField("network_size", T.DoubleType()),
        T.StructField("input_rows", T.LongType()),
        T.StructField("output_rows", T.LongType()),
        T.StructField("network_rows", T.LongType()),
        T.StructField("peak_mem", T.DoubleType()),
        T.StructField("input_cpu", T.DoubleType()),
        T.StructField("output_cpu", T.DoubleType()),
        T.StructField("finish_cpu", T.DoubleType()),
        T.StructField("input_wall", T.DoubleType()),
        T.StructField("output_wall", T.DoubleType()),
        T.StructField("finish_wall", T.DoubleType()),
        T.StructField("blocked_wall", T.DoubleType()),
    ]
)

SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("query", T.StringType()),
        T.StructField("query_id", T.StringType()),
        T.StructField("user", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("error_code", T.StringType()),  # JSON, nullable
        T.StructField("update", T.StringType()),
        T.StructField("elapsed_time", T.DoubleType()),
        T.StructField("cpu_time", T.DoubleType()),
        T.StructField("scheduled_time", T.DoubleType()),
        T.StructField("blocked_time", T.DoubleType()),
        T.StructField("input_size", T.DoubleType()),
        T.StructField("output_size", T.DoubleType()),
        T.StructField("network_size", T.DoubleType()),
        T.StructField("written_size", T.DoubleType()),
        T.StructField("input_rows", T.LongType()),
        T.StructField("output_rows", T.LongType()),
        T.StructField("network_rows", T.LongType()),
        T.StructField("peak_mem", T.DoubleType()),
        T.StructField("operators", T.ArrayType(OPERATOR_STRUCT)),
        T.StructField("fragments", T.StringType()),  # JSON [{id, root}, ...]
        T.StructField("substages", T.StringType()),  # JSON recursive task tree
        T.StructField("inputs", T.StringType()),  # JSON, verbatim
        T.StructField("output", T.StringType()),  # JSON, nullable
    ]
)

_SUMMARY_COLUMNS = [f.name for f in SUMMARY_SCHEMA.fields]


def _object(value) -> dict:
    """`value` itself if it is a JSON object; TypeError otherwise, which
    skips the document."""
    if not isinstance(value, dict):
        raise TypeError(f"expected a JSON object, got {type(value).__name__}")
    return value


def _operator_summary(op: dict) -> dict | None:
    """One operatorSummaries entry -> operator dict, or None to drop it.
    Reference extract.py:66-91."""
    if not isinstance(op, dict):
        return None
    try:
        raw_size = parse_size_py(op.get("rawInputDataSize") or op.get("inputDataSize"))
        return {
            "node_id": str(op["planNodeId"]),
            "op_type": op["operatorType"],
            "input_size": raw_size or parse_size_py(op["inputDataSize"]),
            "output_size": parse_size_py(op["outputDataSize"]),
            "network_size": parse_size_py(op.get("internalNetworkInputDataSize")),
            "input_rows": int(op.get("rawInputPositions", 0) or op.get("inputPositions", 0)),
            "output_rows": int(op["outputPositions"]),
            "network_rows": op.get("internalNetworkInputPositions"),
            "peak_mem": (
                parse_size_py(op.get("peakTotalMemoryReservation"))
                if "peakTotalMemoryReservation" in op
                else 0.0
            ),
            "input_cpu": parse_time_py(op["addInputCpu"]),
            "output_cpu": parse_time_py(op["getOutputCpu"]),
            "finish_cpu": parse_time_py(op["finishCpu"]),
            "input_wall": parse_time_py(op["addInputWall"]),
            "output_wall": parse_time_py(op["getOutputWall"]),
            "finish_wall": parse_time_py(op["finishWall"]),
            "blocked_wall": parse_time_py(op["blockedWall"]),
        }
    except (KeyError, TypeError, ValueError):
        return None


def _collect_fragments(stage: dict) -> list[dict]:
    """Recursive descent over outputStage -> [{id, root}]. Reference extract.py:94-99."""
    out = []
    plan = _object(stage).get("plan")
    if plan:
        plan = _object(plan)
        out.append({"id": plan.get("id"), "root": plan.get("root")})
    for sub in stage.get("subStages", []):
        out.extend(_collect_fragments(sub))
    return out


def _collect_substages(stage: dict) -> list[dict]:
    """Recursive task tree with per-task time stats. Reference extract.py:102-120."""
    result = []
    for sub in stage.get("subStages", []):
        tasks = []
        for task in _object(sub).get("tasks", []):
            stats = _object(_object(task).get("stats", {}))
            status = _object(task.get("taskStatus", {}))
            tasks.append(
                {
                    "taskStatus": {k: status.get(k) for k in ("taskId", "state", "self")},
                    "stats": {
                        k: parse_time_py(stats.get(k))
                        for k in ("totalScheduledTime", "totalCpuTime", "totalBlockedTime")
                    },
                }
            )
        result.append({"tasks": tasks, "subStages": _collect_substages(sub)})
    return result


def summarize_queryinfo(doc: dict) -> dict | None:
    """One QueryInfo document -> one summary record (or None to skip).

    Reference extract.py:123-169. A root, `session`, catalog property
    map, stage, task or task stats that is not a JSON object (a top-level
    array, a string), or an operatorSummaries that is not an array, is no
    QueryInfo document: skipped. An operatorSummaries entry that is not an
    object drops that operator.
    """
    if not isinstance(doc, dict):
        return None
    session = doc.get("session", {})
    if not isinstance(session, dict):
        return None

    try:
        catalogs = _object(session.get("catalogProperties", {}))
        if _object(catalogs.get("varada", {})).get("internal_query", "") == "true":
            return None
        stage = doc.get("outputStage")
        fragments = _collect_fragments(stage) if stage else None
        substages = _collect_substages(stage) if stage else None
        stats = doc["queryStats"]
        input_size = (
            parse_size_py(stats["rawInputDataSize"])
            or parse_size_py(stats.get("inputDataSize"))
            or 0.0
        )
        summaries = stats.get("operatorSummaries", [])
        if not isinstance(summaries, list):
            return None
        operators = [op for op in map(_operator_summary, summaries) if op is not None]
        return {
            "query": doc["query"],
            "query_id": doc["queryId"],
            "user": session["user"],
            "state": doc["state"],
            "error_code": json.dumps(doc["errorCode"]) if doc.get("errorCode") else None,
            "update": doc.get("updateType"),
            "elapsed_time": parse_time_py(stats["elapsedTime"]),
            "cpu_time": parse_time_py(stats["totalCpuTime"]),
            "scheduled_time": parse_time_py(stats["totalScheduledTime"]),
            "blocked_time": parse_time_py(stats["totalBlockedTime"]),
            "input_size": input_size,
            "output_size": parse_size_py(stats["outputDataSize"]),
            "network_size": parse_size_py(stats.get("internalNetworkInputDataSize")),
            "written_size": parse_size_py(stats.get("rawWrittenDataSize")),
            "input_rows": int(stats["rawInputPositions"]),
            "output_rows": int(stats["outputPositions"]),
            "network_rows": stats.get("internalNetworkInputPositions"),
            "peak_mem": parse_size_py(stats["peakTotalMemoryReservation"]),
            "operators": operators,
            "fragments": json.dumps(fragments) if fragments is not None else None,
            "substages": json.dumps(substages) if substages is not None else None,
            "inputs": json.dumps(doc.get("inputs")) if doc.get("inputs") is not None else None,
            "output": json.dumps(doc.get("output")) if doc.get("output") is not None else None,
        }
    except (KeyError, TypeError, ValueError, RecursionError):
        return None  # RecursionError: nesting too deep for json.dumps


def extract_queryinfo(spark: SparkSession, input_path: str) -> DataFrame:
    """Directory of *.json / *.json.gz QueryInfo files -> summary DF.

    `wholetext` keeps one document per row; gzip decompression is
    transparent. Each task parses its own files — the reference's per-file
    loop (extract.py:190-206) becomes partition parallelism.

    A directory is listed once, on the driver, keeping its *.json* files
    (a collector landing dir holds only .json.gz). A glob `dir/*.json*`
    would expand to one root path per file, and past
    spark.sql.sources.parallelPartitionDiscovery.threshold (32) Spark
    lists those files again in a job of its own. Subdirectories are not
    read, except `key=value` partition directories, which are all read;
    loose files beside partition directories raise ValueError, because
    Spark would silently skip them.
    """
    raw = spark.read.option("pathGlobFilter", "*.json*").text(input_path, wholetext=True)
    if len(raw.columns) > 1 and _has_loose_files(spark, input_path):
        raise ValueError(
            f"{input_path} holds *.json* files beside partition directories "
            f"({', '.join(raw.columns[1:])}); pass one partition directory, "
            "or move the loose files into a partition"
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for txt in pdf["value"]:
                try:
                    doc = json.loads(txt)
                except (ValueError, RecursionError):
                    continue  # non-JSON or too deeply nested, skip (extract.py:204-205)
                rec = summarize_queryinfo(doc)
                if rec is not None:
                    rows.append(rec)
            yield pd.DataFrame(rows, columns=_SUMMARY_COLUMNS)

    return raw.mapInPandas(gen, SUMMARY_SCHEMA)


def _has_loose_files(spark: SparkSession, directory: str) -> bool:
    """Whether `directory` itself holds *.json* files (one listing)."""
    jvm = spark.sparkContext._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(directory, "*.json*")
    fs = pattern.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return any(status.isFile() for status in fs.globStatus(pattern) or [])


def read_summary_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """summary.jsonl(.gz) -> summary DF with the explicit schema.

    Reference analyze.py:1221-1229 / jsonl_process.py:157-165. The schema is
    fixed (no inference) so column pruning and predicate pushdown work from
    the first scan. Lines that fail to parse materialize as all-null rows
    under a fixed schema; query_id is mandatory on every real record
    (extract.py:141), so the null filter drops exactly the corrupt lines
    (the reference would crash on them, analyze.py:1230).
    """
    return (
        spark.read.schema(SUMMARY_SCHEMA)
        .json(path)
        .filter(F.col("query_id").isNotNull())
    )


def write_summary_jsonl(df: DataFrame, path: str) -> None:
    """summary DF -> gzipped JSONL dir sink. Reference extract.py:189-203."""
    df.write.mode("overwrite").option("compression", "gzip").json(path)


def write_summary_jsonl_file(df: DataFrame, path: str) -> None:
    """summary DF -> ONE gzipped JSONL *file*, byte-compatible with the
    reference's `summary.jsonl.gz` (extract.py:189-203), so reference
    tooling (analyze.py / jsonl_process.py) can consume rebuild output
    directly.

    This is the interop sink, not the scale sink: coalesce(1) funnels the
    whole corpus through one task by definition of "one file" — use the
    directory sink (`write_summary_jsonl`) for anything bigger than a
    report-sized corpus. The part file Spark writes inside the staging dir
    is renamed to the requested path and the staging dir removed.
    """
    import glob as _glob
    import os
    import shutil

    staging = path + ".__stage__"
    df.coalesce(1).write.mode("overwrite").option("compression", "gzip").json(staging)
    parts = _glob.glob(os.path.join(staging, "part-*.json.gz"))
    if len(parts) != 1:
        raise RuntimeError(
            f"expected exactly one part file in {staging}, found {parts}"
        )
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    if os.path.isdir(path):
        # a previous run may have left a Spark DIRECTORY sink at this path;
        # shutil.move would silently drop the part file INSIDE it and the
        # promised single gzip file would never exist
        shutil.rmtree(path)
    os.replace(parts[0], path)  # atomic overwrite of an existing file
    shutil.rmtree(staging)
