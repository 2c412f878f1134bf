"""Recursive plan/task trees -> flat silver tables (the custom operator).

Unbounded-depth recursion with type-dependent child edges is the one piece
of the reference that the DataFrame DSL cannot express (SURVEY.md §4.3).
It runs ONCE at silver-build time as a `mapInPandas` stage over the
fragments/substages JSON carried by the summary records; every analyzer
downstream is then pure DataFrame/SQL.

Child-edge dispatch mirrors `iter_nodes` (reference analyze.py:1007-1025):
  exchange -> sources[]; join -> [left, right]; leaf types
  {remotesource, tablescan, metadatadelete, values, tabledelete,
  refreshmaterializedview} -> none; everything else -> [source].

Each emitted row precomputes what the analyzers need so they stay
join-only:
  * node_type (FQCN-normalized, analyze.py:999-1004);
  * join attributes: criteria_count / join_type / distribution_type
    (analyze.py:1057-1060, 1116);
  * scan identity for tablescan nodes via the `parse_table_name`
    version-variant cascade (analyze.py:564-584);
  * deepest_scan_table: the table of the LAST node in DFS order of this
    node's subtree — the reference recomputes this per analyzer via
    `last_element(iter_nodes(node))` (analyze.py:558-561, 600-603); here it
    is one post-order pass at flatten time.

Deviation: the reference raises KeyError when a deepest node has no
resolvable table (analyze.py:607-609); we emit NULL instead — a single
malformed plan must not kill a 100 TB job.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, types as T

_LEAF_TYPES = {
    "remotesource",
    "tablescan",
    "metadatadelete",
    "values",
    "tabledelete",
    "refreshmaterializedview",
}

_FQCN_RE = re.compile(r"\.(\w+)Node$")

PLAN_NODE_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("fragment_id", T.StringType()),
        T.StructField("node_id", T.StringType()),
        T.StructField("parent_node_id", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("node_type", T.StringType()),
        T.StructField("join_type", T.StringType()),
        T.StructField("criteria_count", T.IntegerType()),
        T.StructField("distribution_type", T.StringType()),
        T.StructField("scan_table", T.StringType()),
        T.StructField("deepest_scan_table", T.StringType()),
    ]
)

TASK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("stage_path", T.StringType()),
        T.StructField("task_id", T.StringType()),
        T.StructField("task_state", T.StringType()),
        T.StructField("scheduled_time", T.DoubleType()),
        T.StructField("cpu_time", T.DoubleType()),
        T.StructField("blocked_time", T.DoubleType()),
    ]
)


def node_type_of(node: dict) -> str:
    """'@type' -> normalized node kind. Reference analyze.py:999-1004."""
    raw = node.get("@type", "")
    m = _FQCN_RE.search(raw)
    return (m.group(1) if m else raw).lower()


def _children(node: dict) -> list[dict]:
    kind = node_type_of(node)
    if kind == "exchange":
        return list(node.get("sources", []))
    if kind == "join":
        out = []
        if node.get("left"):
            out.append(node["left"])
        if node.get("right"):
            out.append(node["right"])
        return out
    if kind in _LEAF_TYPES:
        return []
    src = node.get("source")
    return [src] if src else []


def resolve_table_name(scan_node: dict) -> str | None:
    """Dotted (connector, schema, table) identity of a scan node.

    Coalesce cascade over Presto-version variants — reference
    analyze.py:564-584:
      table.connectorHandle.schemaTableName.{schema,table}
      -> handle.{schemaName, tableName|table}
      -> MemoryTableHandle '{@type}:{id}' fallback
      -> JMX dict {schema, table} inside tableName
      connector: table.connectorId -> catalogHandle -> catalogName.
    Returns None (instead of raising) when nothing resolves.
    """
    table = scan_node.get("table")
    if not isinstance(table, dict):
        return None
    handle = table.get("connectorHandle") or {}
    schema_table = handle.get("schemaTableName")
    if schema_table:
        schema_name = schema_table.get("schema")
        table_name = schema_table.get("table")
    else:
        schema_name = handle.get("schemaName")
        table_name = handle.get("tableName") or handle.get("table")
        if table_name is None and handle.get("id"):
            # MemoryTableHandle has no name in PrestoSQL 306+
            table_name = "{}:{}".format(handle.get("@type"), handle["id"])
        if isinstance(table_name, dict):  # JMX carries schema info here
            schema_name = table_name.get("schema")
            table_name = table_name.get("table")
    connector = table.get("connectorId") or table.get("catalogHandle") or table.get("catalogName")
    values = [v for v in (connector, schema_name, table_name) if v is not None]
    return ".".join(str(v) for v in values) if values else None


def iter_plan_rows(query_id: str, fragments_json: str | None) -> Iterator[dict]:
    """Flatten one query's fragment list into plan-node rows."""
    if not fragments_json:
        return
    try:
        fragments = json.loads(fragments_json)
    except (ValueError, RecursionError):
        return
    for frag in fragments or []:
        root = (frag or {}).get("root")
        if not root:
            continue
        frag_id = str((frag or {}).get("id"))
        # post-order: deepest = last element of DFS(node) == recurse into the
        # LAST child repeatedly (reference last_element(iter_nodes(node)))
        def walk(node: dict, parent_id: str | None, depth: int) -> dict | None:
            kind = node_type_of(node)
            children = _children(node)
            deepest_row = None
            rows_deepest = None
            row = {
                "query_id": query_id,
                "fragment_id": frag_id,
                "node_id": str(node.get("id")),
                "parent_node_id": parent_id,
                "depth": depth,
                "node_type": kind,
                "join_type": node.get("type") if kind.endswith("join") else None,
                "criteria_count": (
                    len(node.get("criteria") or []) if kind.endswith("join") else None
                ),
                "distribution_type": node.get("distributionType"),
                "scan_table": resolve_table_name(node) if kind == "tablescan" else None,
            }
            emitted.append(row)
            for child in children:
                rows_deepest = walk(child, row["node_id"], depth + 1)
            # deepest node in DFS order: self if leaf, else deepest of LAST child
            deepest_row = rows_deepest if children else row
            row["deepest_scan_table"] = (
                deepest_row.get("scan_table")
                if deepest_row is not row
                else row["scan_table"]
            )
            return deepest_row

        emitted: list[dict] = []
        try:
            walk(root, None, 0)
        except RecursionError:  # too deep to walk: skip it like one too deep to parse
            continue
        yield from emitted


def flatten_plan_nodes(summary: DataFrame) -> DataFrame:
    """summary(query_id, fragments) -> plan_nodes silver table."""
    src = summary.select("query_id", "fragments")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in PLAN_NODE_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for qid, frags in zip(pdf["query_id"], pdf["fragments"]):
                rows.extend(iter_plan_rows(qid, frags))
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(gen, PLAN_NODE_SCHEMA)


def iter_task_rows(query_id: str, substages_json: str | None) -> Iterator[dict]:
    """Flatten the recursive substages task tree. Reference extract.py:102-120."""
    if not substages_json:
        return
    try:
        stages = json.loads(substages_json)
    except (ValueError, RecursionError):
        return

    def walk(stage_list: list, path: str) -> Iterator[dict]:
        for i, stage in enumerate(stage_list or []):
            stage_path = f"{path}.{i}" if path else str(i)
            for task in (stage or {}).get("tasks", []):
                status = task.get("taskStatus", {})
                stats = task.get("stats", {})
                yield {
                    "query_id": query_id,
                    "stage_path": stage_path,
                    "task_id": status.get("taskId"),
                    "task_state": status.get("state"),
                    "scheduled_time": stats.get("totalScheduledTime"),
                    "cpu_time": stats.get("totalCpuTime"),
                    "blocked_time": stats.get("totalBlockedTime"),
                }
            yield from walk((stage or {}).get("subStages", []), stage_path)

    yield from walk(stages, "")


def flatten_tasks(summary: DataFrame) -> DataFrame:
    """summary(query_id, substages) -> tasks silver table."""
    src = summary.select("query_id", "substages")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in TASK_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for qid, subs in zip(pdf["query_id"], pdf["substages"]):
                rows.extend(iter_task_rows(qid, subs))
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(gen, TASK_SCHEMA)
