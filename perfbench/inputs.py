"""Seeded input generator for the `ingest` workload.

`make_ingest` writes a collector-style landing directory, one gzipped
QueryInfo document per file, built with the QueryInfo builders in
`tests/queryinfo_fixtures.py`. It is a pure function of its seed and size
and returns, beside the files, the totals the program's outputs are
checked against: how many documents survive extract, and the report's
`structure.metrics` row, computed here independently of Spark.

Known gap: plans more than ~1000 levels deep make extract fail today
(`RecursionError` in `json.loads` and the recursive plan walk), so plan
depth here stays under 300 and no junk document is that deep. They join
the junk mix once extract skips such documents instead of failing.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import random
from dataclasses import dataclass, field

from tests.queryinfo_fixtures import hive_table, make_op, make_queryinfo, scan_node

SECONDS_PER_DAY = 86400.0
BYTES_PER_TB = 1e12

_CHAIN_TYPES = ["project", "filter", "aggregation", "sort", "limit", "window"]
_UPDATES = [None, None, None, "INSERT", "CREATE TABLE"]
_START = dt.datetime(2024, 3, 1)
_USERS = 60
_DAYS = 14


@dataclass
class Expected:
    """What a correct run of the program must produce for one input set."""

    valid_docs: int = 0  # records extract keeps (FAILED included)
    n_queries: int = 0  # records analyze keeps (FAILED dropped)
    cpu_s: float = 0.0
    scheduled_s: float = 0.0
    input_rows: int = 0
    input_bytes: float = 0.0
    days: set = field(default_factory=set)
    users: set = field(default_factory=set)

    def add(self, rec_day: str, user: str, state: str, cpu_ms: int, sched_ms: int,
            in_rows: int, in_bytes: int) -> None:
        self.valid_docs += 1
        if state == "FAILED":
            return
        self.n_queries += 1
        self.cpu_s += cpu_ms / 1000.0
        self.scheduled_s += sched_ms / 1000.0
        self.input_rows += in_rows
        self.input_bytes += in_bytes
        self.days.add(rec_day)
        self.users.add(user)

    def metrics(self) -> dict:
        """The report's `structure.metrics` row, as the analyzer defines it."""
        return {
            "n_queries": self.n_queries,
            "cpu_days": self.cpu_s / SECONDS_PER_DAY,
            "scheduled_days": self.scheduled_s / SECONDS_PER_DAY,
            "input_rows": self.input_rows,
            "input_tb": self.input_bytes / BYTES_PER_TB,
            "n_days": len(self.days),
            "n_users": len(self.users),
        }


def _query_id(rng: random.Random, i: int) -> tuple[str, str]:
    t = _START + dt.timedelta(seconds=rng.randrange(_DAYS * 86400))
    return f"{t:%Y%m%d_%H%M%S}_{i:05d}_{rng.randrange(16 ** 5):05x}", f"{t:%Y-%m-%d}"


def _plan(rng: random.Random, n_nodes: int, chain_depth: int, tables: list[dict]) -> tuple[dict, list[tuple[str, str]]]:
    """A plan tree of about `n_nodes` nodes whose longest path is about
    `chain_depth`: a left-deep join tree over scans under a chain of
    single-source nodes. Returns (root, [(node id, node kind)])."""
    nodes: list[tuple[str, str]] = []

    def nid(kind: str) -> str:
        nodes.append((str(len(nodes)), kind))
        return nodes[-1][0]

    n_scans = max(1, (n_nodes - chain_depth) // 3)
    node = scan_node(nid("tablescan"), rng.choice(tables))
    for _ in range(n_scans - 1):
        right = {"@type": "exchange", "id": nid("exchange"),
                 "sources": [scan_node(nid("tablescan"), rng.choice(tables))]}
        criteria = [{"left": "k", "right": "k"}] if rng.random() < 0.9 else []
        node = {
            "@type": "join",
            "id": nid("join" if criteria else "crossjoin"),
            "criteria": criteria,
            "type": rng.choice(["INNER", "LEFT"]) if criteria else "INNER",
            "distributionType": rng.choice(["PARTITIONED", "REPLICATED"]),
            "left": node,
            "right": right,
        }
    for _ in range(chain_depth):
        kind = rng.choice(_CHAIN_TYPES)
        node = {"@type": kind, "id": nid(kind), "source": node}
    return {"@type": "output", "id": nid("output"), "source": node}, nodes


# operator types each plan-node kind runs; a join's probe and build
# operators share its node id, as in a real QueryInfo
_KIND_OPS = {
    "tablescan": [["ScanFilterAndProjectOperator"], ["TableScanOperator"]],
    "join": [["LookupJoinOperator", "HashBuilderOperator"]],
    "crossjoin": [["NestedLoopJoinOperator", "NestedLoopBuildOperator"]],
    "exchange": [["ExchangeOperator"]],
    "aggregation": [["HashAggregationOperator"]],
    "output": [["TaskOutputOperator"]],
}


def _operators(rng: random.Random, nodes: list[tuple[str, str]]) -> list[dict]:
    ops = []
    for node_id, kind in nodes:
        for op_type in rng.choice(_KIND_OPS.get(kind, [["FilterAndProjectOperator"]])):
            rows_in = rng.randrange(1, 10 ** rng.randrange(1, 7))
            ops.append(
                make_op(
                    node_id,
                    op_type,
                    rawInputDataSize=f"{rows_in * 8}B",
                    inputDataSize=f"{rows_in * 8}B",
                    outputDataSize=f"{rows_in * 4}B",
                    rawInputPositions=rows_in,
                    inputPositions=rows_in,
                    outputPositions=rng.randrange(rows_in + 1),
                    addInputWall=f"{rng.randrange(1, 5000)}ms",
                    getOutputWall=f"{rng.randrange(1, 2000)}ms",
                    addInputCpu=f"{rng.randrange(1, 3000)}ms",
                )
            )
    return ops


def _stages(rng: random.Random, qid: str, n_tasks: int, depth: int) -> list[dict]:
    """A chain of `depth` sub-stages holding `n_tasks` tasks between them."""
    per = max(1, n_tasks // depth)
    sub: list[dict] = []
    for s in range(depth, 0, -1):
        tasks = [
            {
                "taskStatus": {"taskId": f"{qid}.{s}.{t}", "state": "FINISHED", "self": f"http://w{t % 7}/task"},
                "stats": {
                    "totalScheduledTime": f"{rng.randrange(1, 9000)}ms",
                    "totalCpuTime": f"{rng.randrange(1, 5000)}ms",
                    "totalBlockedTime": f"{rng.randrange(0, 900)}ms",
                },
            }
            for t in range(per)
        ]
        sub = [{"plan": {"id": str(s), "root": {"@type": "values", "id": f"v{s}"}}, "tasks": tasks, "subStages": sub}]
    return sub


# (plan nodes, plan chain depth, tasks, stage depth) ranges per size class
_SHAPES = {
    "small": ((3, 11), (1, 3), (1, 7), (1, 1)),
    "medium": ((20, 79), (5, 29), (10, 59), (2, 4)),
    "tail": ((200, 699), (100, 299), (200, 599), (5, 19)),
}


def _shapes(rng: random.Random, n: int) -> list[tuple[int, ...]]:
    """One shape per document, skewed: 85% small, 12% medium and a 3% tail
    with hundreds of plan nodes and tasks and plan depth up to ~300. Each
    class's shapes are spread evenly over its ranges, so every seed gives
    the same shapes and only their order and content vary."""
    counts = {"medium": round(0.12 * n), "tail": round(0.03 * n)}
    counts["small"] = n - sum(counts.values())
    out = []
    for size, k in counts.items():
        for j in range(k):
            t = (j + 0.5) / k
            out.append(tuple(lo + int(t * (hi - lo + 1)) for lo, hi in _SHAPES[size]))
    rng.shuffle(out)
    return out


def _stratified(rng: random.Random, n: int, shares: dict[str, float], rest: str) -> list[str]:
    """`n` labels with exactly round(share * n) of each, in seeded order, so
    every seed gives the same mix and only the content varies."""
    labels = [k for k, share in shares.items() for _ in range(round(share * n))]
    labels += [rest] * (n - len(labels))
    rng.shuffle(labels)
    return labels


def make_ingest(out_dir: str, seed: int, n_files: int) -> Expected:
    """Landing directory of `n_files` gzipped QueryInfo files.

    2% of files are junk of each kind extract skips or analyze drops:
    non-JSON, a missing mandatory stats key, Varada-internal, and FAILED.
    Junk documents are small; the others' plan and task-tree sizes follow
    `_shapes`.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = [hive_table(f"schema{s}", f"table{t}", connector=f"cat{s % 3}") for s in range(6) for t in range(20)]
    junk = _stratified(rng, n_files, {k: 0.02 for k in ("non_json", "missing_stats", "internal", "failed")}, "ok")
    shapes = iter(_shapes(rng, junk.count("ok")))
    exp = Expected()
    for i in range(n_files):
        path = os.path.join(out_dir, f"q{i:05d}.json.gz")
        if junk[i] == "non_json":
            with gzip.open(path, "wt") as f:
                f.write("{truncated: not json" + "x" * rng.randrange(100))
            continue
        qid, day = _query_id(rng, i)
        user = f"user_{min(int(rng.paretovariate(1.2)) - 1, _USERS - 1)}"
        n_nodes, chain, n_tasks, stage_depth = next(shapes) if junk[i] == "ok" else (3, 1, 1, 1)
        plan, nodes = _plan(rng, n_nodes, chain, tables)
        cpu_ms, sched_ms = rng.randrange(1, 10 ** 6), rng.randrange(1, 10 ** 7)
        in_rows, in_bytes = rng.randrange(10 ** 9), rng.randrange(10 ** 12)
        state = "FAILED" if junk[i] == "failed" else "FINISHED"
        doc = make_queryinfo(
            qid,
            user=user,
            state=state,
            update=rng.choice(_UPDATES),
            query=f"SELECT * FROM t{i} WHERE x = {rng.randrange(1000)}",
            stats_over={
                "elapsedTime": f"{rng.randrange(1, 10 ** 6)}ms",
                "totalCpuTime": f"{cpu_ms}ms",
                "totalScheduledTime": f"{sched_ms}ms",
                "totalBlockedTime": f"{rng.randrange(10 ** 5)}ms",
                "rawInputDataSize": f"{in_bytes}B",
                "outputDataSize": f"{rng.randrange(10 ** 9)}B",
                "rawInputPositions": in_rows,
                "outputPositions": rng.randrange(10 ** 6),
                "peakTotalMemoryReservation": f"{rng.randrange(1, 10 ** 10)}B",
            },
            operators=_operators(rng, nodes),
            plan_root=plan,
            internal=junk[i] == "internal",
            error_code={"code": 131075, "name": "EXCEEDED_MEMORY_LIMIT"} if state == "FAILED" else None,
        )
        doc["outputStage"]["subStages"] = _stages(rng, qid, n_tasks, stage_depth)
        doc["inputs"] = [
            {"catalogName": t["connectorId"], "schema": t["connectorHandle"]["schemaTableName"]["schema"],
             "table": t["connectorHandle"]["schemaTableName"]["table"]}
            for t in rng.sample(tables, 2)
        ]
        if junk[i] == "missing_stats":
            del doc["queryStats"]["elapsedTime"]
        elif junk[i] != "internal":
            exp.add(day, user, state, cpu_ms, sched_ms, in_rows, in_bytes)
        with gzip.open(path, "wt", compresslevel=1) as f:
            json.dump(doc, f)
    return exp
