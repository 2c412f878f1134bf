"""Golden-pipeline tests: QueryInfo fixtures -> extract -> silver -> analyzers.

Mirrors the rebuild test strategy of SURVEY.md §5.2: hand-built miniature
QueryInfo documents, extract-equivalent run, silver tables asserted
row-for-row on the branchy parts (unit parsing, coalesces, tree flatten,
table-name cascade, join pairing), analyzer outputs checked against
hand-computed values.
"""

import copy
import gzip
import json
import math
import os
import sys

import pytest
from pyspark.sql import functions as F

from presto_workload_analyzer_spark.pipeline import build_silver, run_analyzers
from presto_workload_analyzer_spark.plans.flatten import iter_plan_rows, resolve_table_name
from presto_workload_analyzer_spark.sources.queryinfo import (
    extract_queryinfo,
    read_summary_jsonl,
    write_summary_jsonl,
)

from queryinfo_fixtures import fixtures, make_queryinfo


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("queryinfo")
    for i, doc in enumerate(fixtures()):
        if i % 2 == 0:
            (d / f"q{i:03d}.json").write_text(json.dumps(doc))
        else:  # every other doc gzipped, as the collector writes them
            with gzip.open(d / f"q{i:03d}.json.gz", "wt") as f:
                json.dump(doc, f)
    (d / "broken.json").write_text("this is not json {")
    return str(d)


@pytest.fixture(scope="module")
def summary_df(spark, corpus_dir):
    return extract_queryinfo(spark, corpus_dir).cache()


@pytest.fixture(scope="module")
def silver(summary_df):
    return build_silver(summary_df)


def test_extract_counts(summary_df):
    # 14 fixtures - 1 varada-internal = 13 summaries; broken.json skipped
    assert summary_df.count() == 13
    states = {r.state for r in summary_df.select("state").distinct().collect()}
    assert states == {"FINISHED", "FAILED"}


def test_unit_parsing_and_coalesces(summary_df):
    r = summary_df.filter(F.col("user") == "units").collect()[0]
    assert math.isclose(r.elapsed_time, 90.0)
    assert math.isclose(r.cpu_time, 2500e-6)
    assert math.isclose(r.scheduled_time, 3600.0)
    assert math.isclose(r.blocked_time, 86400.0)
    # rawInputDataSize '0B' is falsy -> falls through to inputDataSize 2GB
    assert math.isclose(r.input_size, 2 * 1024.0**3)
    assert math.isclose(r.output_size, 1.5 * 1024.0**4)
    op = r.operators[0]
    assert math.isclose(op.input_size, 1024.0**2)
    assert op.peak_mem == 0.0  # key absent -> 0 (extract.py:79)
    assert op.input_rows == 10  # rawInputPositions absent -> inputPositions
    assert math.isclose(op.input_cpu, 1e-9)
    assert math.isclose(op.input_wall, 1e-6)


def test_failed_kept_at_extract_dropped_at_silver(summary_df, silver):
    assert summary_df.filter(F.col("state") == "FAILED").count() == 1
    assert silver["queries"].filter(F.col("state") == "FAILED").count() == 0
    assert silver["queries"].count() == 12


def test_error_code_and_update(summary_df):
    failed = summary_df.filter(F.col("state") == "FAILED").collect()[0]
    assert "EXCEEDED_MEMORY_LIMIT" in failed.error_code
    ins = summary_df.filter(F.col("update") == "INSERT").collect()[0]
    assert math.isclose(ins.written_size, 1024.0**2)


def test_plan_nodes_flatten(silver):
    pn = silver["plan_nodes"]
    # scan+agg query: output(depth0) -> aggregation(1) -> tablescan(2)
    rows = {
        r.node_id: r
        for r in pn.filter(F.col("query_id") == "20240101_080000_00001_aaaaa").collect()
    }
    assert set(rows) == {"0", "1", "2", "v0"}  # incl. substage values node
    assert rows["0"].node_type == "output" and rows["0"].depth == 0
    assert rows["2"].node_type == "tablescan" and rows["2"].depth == 2
    assert rows["2"].scan_table == "hive.web.logs"
    # every ancestor's deepest-scan resolves to the scan leaf
    assert rows["0"].deepest_scan_table == "hive.web.logs"
    assert rows["1"].deepest_scan_table == "hive.web.logs"
    assert rows["2"].parent_node_id == "1"


def test_deepest_scan_is_dfs_last(silver):
    # exchange with two sources: deepest = LAST source (analyze.py:600-603)
    pn = silver["plan_nodes"]
    ex = pn.filter(
        (F.col("query_id") == "20240102_110000_00006_aaaaa") & (F.col("node_id") == "11")
    ).collect()[0]
    assert ex.node_type == "exchange"
    assert ex.deepest_scan_table == "hive.web.u2"


def test_join_node_attrs(silver):
    pn = silver["plan_nodes"]
    j = pn.filter(
        (F.col("query_id") == "20240101_090000_00002_aaaaa") & (F.col("node_id") == "3")
    ).collect()[0]
    assert j.node_type == "join"
    assert j.join_type == "INNER"
    assert j.criteria_count == 1
    assert j.distribution_type == "PARTITIONED"
    # join deepest = right subtree's DFS-last = build-side scan
    assert j.deepest_scan_table == "hive.web.build_t"


def test_table_name_cascade(silver):
    pn = silver["plan_nodes"].filter(F.col("node_type") == "tablescan")
    tables = {r.node_id: r.scan_table for r in pn.collect()}
    assert tables["14"] == "hive.legacy.t"  # schemaName/tableName variant (FQCN @type)
    assert tables["15"] == "memory.memory:42"  # MemoryTableHandle id fallback
    assert tables["16"] == "jmx.current.java.lang:memory"  # JMX dict variant


def test_prestodb_fqcn_node_type(silver):
    pn = silver["plan_nodes"]
    r = pn.filter(F.col("node_id") == "14").collect()[0]
    assert r.node_type == "tablescan"


def test_tasks_flatten(silver):
    t = silver["tasks"].collect()
    assert len(t) == 1
    task = t[0]
    assert task.query_id == "20240101_080000_00001_aaaaa"
    assert task.task_id == "20240101_080000_00001_aaaaa.1.0"
    assert math.isclose(task.scheduled_time, 1.0)
    assert math.isclose(task.cpu_time, 0.5)


def test_joins_analyzers(silver):
    out = run_analyzers(silver, only=["joins_sides"])["joins_sides"].collect()
    # 3 join-pair queries (hash PARTITIONED, hash REPLICATED, cross) + semijoin
    assert len(out) == 4
    by_q = {r.query_id: r for r in out}
    hashj = by_q["20240101_090000_00002_aaaaa"]
    assert hashj.distribution_type == "PARTITIONED"
    assert math.isclose(hashj.probe_input_size, 4 * 1024.0)
    assert math.isclose(hashj.build_input_size, 2 * 1024.0)
    sel = run_analyzers(silver, only=["joins_selectivity"])["joins_selectivity"].collect()
    assert len(sel) == 4
    assert all(r.max_input_rows == 1000 for r in sel)


def test_wall_by_table_scan(silver):
    out = run_analyzers(silver, only=["wall_by_table_scan"])["wall_by_table_scan"].collect()
    labels = {r.label for r in out}
    # scan ops exist for: logs, probe/build scans (TableScanOperator), deep
    # exchange (attributed to u2 via DFS-last), prestodb/memory/jmx variants
    assert "hive.web.logs" in labels
    assert "hive.web.u2" in labels
    assert "memory.memory:42" in labels
    total_pct = sum(r.pct for r in out)
    assert math.isclose(total_pct, 100.0, abs_tol=1e-9)


def test_scheduled_by_date_golden(silver):
    out = {
        str(r.bucket): r.scheduled_days
        for r in run_analyzers(silver, only=["scheduled_by_date"])["scheduled_by_date"].collect()
    }
    # 2024-01-03: insert(1.5s) + ddl(1.5s) + units(3600s); failed dropped
    assert math.isclose(out["2024-01-03"], (1.5 + 1.5 + 3600.0) / 86400.0)
    # 2024-01-01: scan_agg + 2 hash joins, 1.5s each
    assert math.isclose(out["2024-01-01"], 4.5 / 86400.0)


def test_summary_jsonl_roundtrip(spark, summary_df, tmp_path):
    path = str(tmp_path / "summary_jsonl")
    write_summary_jsonl(summary_df, path)
    back = read_summary_jsonl(spark, path)
    assert back.count() == summary_df.count()
    assert back.schema == summary_df.schema
    orig = summary_df.filter(F.col("user") == "units").collect()[0]
    rt = back.filter(F.col("user") == "units").collect()[0]
    assert rt.operators == orig.operators
    assert rt.input_size == orig.input_size


def test_summary_jsonl_single_file_roundtrip(spark, summary_df, tmp_path):
    """Reference-interop sink: ONE gzipped JSONL file like extract.py:189-203
    writes — a plain `gzip.open` + line-per-record read must work (that is
    exactly how reference analyze.py:1221-1229 consumes it)."""
    from presto_workload_analyzer_spark.sources.queryinfo import (
        write_summary_jsonl_file,
    )

    path = str(tmp_path / "summary.jsonl.gz")
    write_summary_jsonl_file(summary_df, path)
    assert os.path.isfile(path)
    with gzip.open(path, "rt") as fh:
        records = [json.loads(line) for line in fh if line.strip()]
    assert len(records) == summary_df.count()
    assert {r["query_id"] for r in records} == {
        r.query_id for r in summary_df.collect()
    }
    # and Spark reads it back identically to the directory sink
    back = read_summary_jsonl(spark, path)
    assert back.count() == summary_df.count()
    assert back.schema == summary_df.schema


def test_summary_jsonl_single_file_replaces_stale_directory(
    spark, summary_df, tmp_path
):
    """A prior run may have left a Spark DIRECTORY sink at the target path
    (the old CLI wrote one for any -o); the single-file writer must replace
    it with the promised file, not move the part file inside it."""
    from presto_workload_analyzer_spark.sources.queryinfo import (
        write_summary_jsonl,
        write_summary_jsonl_file,
    )

    path = str(tmp_path / "summary.jsonl.gz")
    write_summary_jsonl(summary_df, path)  # leaves a DIRECTORY at path
    assert os.path.isdir(path)
    write_summary_jsonl_file(summary_df, path)
    assert os.path.isfile(path)
    with gzip.open(path, "rt") as fh:
        assert sum(1 for line in fh if line.strip()) == summary_df.count()
    # and overwriting an existing FILE works too
    write_summary_jsonl_file(summary_df.limit(3), path)
    with gzip.open(path, "rt") as fh:
        assert sum(1 for line in fh if line.strip()) == 3


def test_resolve_table_name_unit():
    assert resolve_table_name({"table": {}}) is None
    assert resolve_table_name({}) is None
    assert (
        resolve_table_name(
            {
                "table": {
                    "catalogHandle": "cat",
                    "connectorHandle": {"schemaTableName": {"schema": "s", "table": "t"}},
                }
            }
        )
        == "cat.s.t"
    )


def test_task_stage_stats(silver):
    from presto_workload_analyzer_spark.operators.analyzers import task_stage_stats

    out = task_stage_stats(silver["tasks"]).collect()
    # exactly one fixture (q_scan_agg) carries a substage with one task
    assert len(out) == 1
    r = out[0]
    assert r.query_id == "20240101_080000_00001_aaaaa"
    assert r.n_tasks == 1
    assert r.scheduled_sum == pytest.approx(1.0)
    assert r.cpu_sum == pytest.approx(0.5)
    assert r.blocked_sum == pytest.approx(0.0)
    assert r.straggler_ratio == pytest.approx(1.0)


def test_read_summary_drops_corrupt_lines(spark, tmp_path):
    """A corrupt JSONL line materializes as an all-null row under the fixed
    schema; the reader must drop it (the reference crashes there)."""
    p = tmp_path / "s.jsonl"
    good = '{"query_id": "20240101_080000_00001_aaaaa", "user": "a", "state": "FINISHED"}'
    p.write_text("\n".join([good, "not json {{{", good.replace("00001", "00002")]))
    df = read_summary_jsonl(spark, str(p))
    assert df.count() == 2
    assert df.filter(F.col("query_id").isNull()).count() == 0


def _landing(root, layout):
    """Write {relative path: fixture index, or None for a non-JSON file}."""
    docs = fixtures()
    for rel, i in layout.items():
        path = root / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        if i is None:
            path.write_text("not a QueryInfo document")
        else:
            with gzip.open(path, "wt") as f:
                json.dump(docs[i], f)


@pytest.mark.parametrize(
    "layout, read",
    [
        # a collector's flat directory, with a marker and a stray file
        ({"q0.json.gz": 0, "q1.json.gz": 1, "_SUCCESS": None, "notes.txt": None}, [0, 1]),
        # a plain subdirectory is not read
        ({"q0.json.gz": 0, "q1.json.gz": 1, "old/q2.json.gz": 2}, [0, 1]),
        # partition directories are all read
        ({"dt=2024-01-01/q0.json.gz": 0, "dt=2024-01-02/q1.json.gz": 1}, [0, 1]),
    ],
    ids=["flat", "plain_subdir", "partitions_only"],
)
def test_extract_landing_layouts(spark, tmp_path, layout, read):
    _landing(tmp_path, layout)
    df = extract_queryinfo(spark, str(tmp_path))
    got = sorted(r.query_id for r in df.select("query_id").collect())
    assert got == sorted(fixtures()[i]["queryId"] for i in read)


@pytest.mark.parametrize(
    "layout, error",
    [
        # Spark's partition discovery would read dt=2024-01-01/ and silently
        # skip q0.json.gz; extract raises instead
        ({"q0.json.gz": 0, "dt=2024-01-01/q1.json.gz": 1}, "beside partition directories"),
        ({"old/q0.json.gz": 0, "dt=2024-01-01/q1.json.gz": 1}, "CONFLICTING_DIRECTORY_STRUCTURES"),
    ],
    ids=["loose_files", "plain_subdir"],
)
def test_extract_rejects_partitions_mixed_with_other_data(spark, tmp_path, layout, error):
    _landing(tmp_path, layout)
    with pytest.raises(Exception, match=error):
        extract_queryinfo(spark, str(tmp_path))


def _deep_plan_json(depth):
    """A chain of `depth` project nodes as JSON text (json.dumps itself
    overflows the stack on a plan this deep)."""
    node = '{"@type": "project", "id": "p", "source": '
    return node * depth + '{"@type": "values", "id": "v"}' + "}" * depth


def test_deep_document_is_skipped_not_fatal(spark, tmp_path):
    """A plan nested past the interpreter's recursion limit makes
    json.loads raise RecursionError, not ValueError; extract and the plan
    flatten must skip that one document instead of failing the job."""
    # 1,200 levels at the default limit of 1,000; a test run may have raised it
    depth = max(1200, sys.getrecursionlimit() + 200)
    for i, doc in enumerate(fixtures()):
        (tmp_path / f"q{i:03d}.json").write_text(json.dumps(doc))
    deep = make_queryinfo(
        "20240101_090000_00099_deep0", plan_root={"@type": "values", "id": "DEEP"}
    )
    text = json.dumps(deep).replace('{"@type": "values", "id": "DEEP"}', _deep_plan_json(depth))
    (tmp_path / "deep.json").write_text(text)
    # the 13 fixture summaries (see test_extract_counts); the deep doc is dropped
    assert extract_queryinfo(spark, str(tmp_path)).count() == 13

    frags = '[{"id": "0", "root": ' + _deep_plan_json(depth) + "}]"
    assert list(iter_plan_rows("q", frags)) == []


_BAD_ID = "20240101_090000_00098_bad00"
# documents of valid JSON whose types no QueryInfo has
_MALFORMED = {
    "top_level_array": [make_queryinfo(_BAD_ID)],
    "session_string": {**make_queryinfo(_BAD_ID), "session": "alice"},
    "elapsed_time_object": make_queryinfo(
        _BAD_ID, stats_over={"elapsedTime": {"value": 2.0, "unit": "s"}}
    ),
}


def _extract_rows(spark, directory):
    return sorted(extract_queryinfo(spark, str(directory)).collect(), key=lambda r: r.query_id)


@pytest.fixture(scope="module")
def fixture_rows(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("fixtures_only")
    for i, doc in enumerate(fixtures()):
        (d / f"q{i:03d}.json").write_text(json.dumps(doc))
    return _extract_rows(spark, d)


@pytest.mark.parametrize("bad", sorted(_MALFORMED))
def test_malformed_document_is_skipped_not_fatal(spark, tmp_path, fixture_rows, bad):
    """A root, `session` or unit value of the wrong JSON type skips that
    one document: the extract job succeeds and every other record is the
    same as without it."""
    for i, doc in enumerate(fixtures()):
        (tmp_path / f"q{i:03d}.json").write_text(json.dumps(doc))
    (tmp_path / "bad.json").write_text(json.dumps(_MALFORMED[bad]))
    assert _extract_rows(spark, tmp_path) == fixture_rows


def _one_value_replaced(path, value):
    """The first fixture document as _BAD_ID with the value at `path` replaced."""
    doc = copy.deepcopy(fixtures()[0])
    doc["queryId"] = _BAD_ID
    node = doc
    for key in path[:-1]:
        node = node[key]
    node[path[-1]] = value
    return doc


# (path, value, operators the document keeps; None: the document is skipped)
_WRONG_SHAPES = {
    "catalog_properties_string": (("session", "catalogProperties"), "x", None),
    "varada_string": (("session", "catalogProperties"), {"varada": "x"}, None),
    "output_stage_string": (("outputStage",), "x", None),
    "operator_string": (("queryStats", "operatorSummaries", 1), "x", [0, 2]),
    "operator_summaries_object": (("queryStats", "operatorSummaries"), {"0": {}}, None),
    "substage_string": (("outputStage", "subStages", 0), "x", None),
    "task_stats_string": (("outputStage", "subStages", 0, "tasks", 0, "stats"), "x", None),
}


@pytest.mark.parametrize("case", sorted(_WRONG_SHAPES))
def test_wrong_shape_value_skips_document_or_operator(spark, tmp_path, fixture_rows, case):
    """A nested QueryInfo value of the wrong JSON type skips its document,
    or, for an operatorSummaries entry, drops that operator: the extract
    job succeeds and every other record is unchanged."""
    path, value, kept = _WRONG_SHAPES[case]
    for i, doc in enumerate(fixtures()):
        (tmp_path / f"q{i:03d}.json").write_text(json.dumps(doc))
    (tmp_path / "bad.json").write_text(json.dumps(_one_value_replaced(path, value)))
    rows = _extract_rows(spark, tmp_path)
    assert [r for r in rows if r.query_id != _BAD_ID] == fixture_rows
    bad = [r.asDict(recursive=True) for r in rows if r.query_id == _BAD_ID]
    if kept is None:
        assert bad == []
    else:
        source = next(
            r.asDict(recursive=True) for r in fixture_rows
            if r.query_id == fixtures()[0]["queryId"]
        )
        source.update(query_id=_BAD_ID, operators=[source["operators"][i] for i in kept])
        assert bad == [source]


def test_min_row_parallelism_is_noop_when_scan_is_wide(spark):
    """The repartition must vanish exactly where it would be expensive:
    an input already at >= core-count partitions passes through
    IDENTICALLY (same plan object — no exchange added), while a
    single-split input comes back at core-count partitions."""
    from presto_workload_analyzer_spark.sources import min_row_parallelism

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target)
    assert min_row_parallelism(wide) is wide

    wider = spark.range(1000).repartition(target + 4)
    assert min_row_parallelism(wider) is wider

    narrow = spark.range(1000).coalesce(1)
    out = min_row_parallelism(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == target
    # row set unchanged
    assert out.count() == 1000
