"""Privacy transforms (jsonl_process parity): schema filter + obfuscation.

Covers filter_line semantics (OR, keep-if-absent, jsonl_process.py:37-50),
first-seen ordinal renaming shared across key aliases (NameObfuscator,
jsonl_process.py:53-64), list-valued partitionIds (ListObfuscator,
jsonl_process.py:67-76), removal obfuscators (query/rows, locations), and
translation-table output.
"""

import json

import pytest
from pyspark.sql import functions as F

from presto_workload_analyzer_spark.privacy import (
    build_translation,
    collect_names,
    filter_by_schema,
    process_summary,
)
from presto_workload_analyzer_spark.sources.queryinfo import SUMMARY_SCHEMA


def _summary_row(
    query_id: str,
    user: str = "alice",
    query: str = "SELECT 1",
    inputs: list | None = None,
    fragments: list | None = None,
    output: dict | None = None,
) -> dict:
    row = {f.name: None for f in SUMMARY_SCHEMA.fields}
    row.update(
        query=query,
        query_id=query_id,
        user=user,
        state="FINISHED",
        elapsed_time=1.0,
        cpu_time=1.0,
        scheduled_time=1.0,
        blocked_time=0.0,
        input_size=0.0,
        output_size=0.0,
        input_rows=0,
        output_rows=0,
        peak_mem=0.0,
        operators=[],
        inputs=json.dumps(inputs) if inputs is not None else None,
        fragments=json.dumps(fragments) if fragments is not None else None,
        output=json.dumps(output) if output is not None else None,
    )
    return row


@pytest.fixture(scope="module")
def summary_df(spark):
    rows = [
        # touches schema "web" via inputs, user alice, partitions
        _summary_row(
            "20240101_080000_00001_aaaaa",
            user="alice",
            query="SELECT * FROM web.t1",
            inputs=[
                {
                    "catalogName": "hive",
                    "schema": "web",
                    "table": "t1",
                    "connectorInfo": {"partitionIds": ["p=1", "p=2"]},
                }
            ],
        ),
        # touches schema "sales" via fragments (schemaName variant), user bob
        _summary_row(
            "20240101_090000_00002_aaaaa",
            user="bob",
            query="SELECT * FROM sales.t2",
            fragments=[
                {
                    "id": "0",
                    "root": {
                        "@type": "tablescan",
                        "id": "1",
                        "table": {
                            "catalogName": "hive",
                            "connectorHandle": {"schemaName": "sales", "tableName": "t2"},
                        },
                    },
                }
            ],
        ),
        # no schema keys anywhere (DDL-ish), user alice again
        _summary_row("20240101_100000_00003_aaaaa", user="alice", query="SELECT 42"),
        # output-side schema "web", VALUES rows, second catalog
        _summary_row(
            "20240101_110000_00004_aaaaa",
            user="carol",
            query="INSERT INTO web.t3 VALUES (1)",
            output={"catalogName": "iceberg", "schema": "web", "table": "t3"},
            fragments=[
                {"id": "0", "root": {"@type": "values", "id": "v", "rows": [["1"]]}}
            ],
        ),
    ]
    return spark.createDataFrame(rows, SUMMARY_SCHEMA).coalesce(1).cache()


def test_filter_by_schema_or_semantics(summary_df):
    kept = filter_by_schema(summary_df, "web").select("query_id").collect()
    ids = sorted(r.query_id for r in kept)
    # web rows 1 & 4 match; row 3 has NO schema key, so it is kept
    assert ids == [
        "20240101_080000_00001_aaaaa",
        "20240101_100000_00003_aaaaa",
        "20240101_110000_00004_aaaaa",
    ]


def test_collect_names_and_translation(summary_df):
    names = collect_names(summary_df, {"schema", "catalog", "user", "partition"})
    tr = {
        (r["group"], r["name"]): r["new_name"]
        for r in build_translation(names).collect()
    }
    # first-seen order: web (q1) before sales (q2)
    assert tr[("schema", "web")] == "schema0"
    assert tr[("schema", "sales")] == "schema1"
    assert tr[("catalog", "hive")] == "catalog0"
    assert tr[("catalog", "iceberg")] == "catalog1"
    # alice first seen q1, bob q2, carol q4
    assert tr[("user", "alice")] == "user0"
    assert tr[("user", "bob")] == "user1"
    assert tr[("user", "carol")] == "user2"
    assert tr[("partition", "p=1")] == "partition0"
    assert tr[("partition", "p=2")] == "partition1"


def test_process_summary_full(summary_df):
    out, tables = process_summary(
        summary_df,
        remove_query=True,
        rename_schemas=True,
        rename_catalogs=True,
        remove_locations=True,
        rename_user=True,
        rename_partitions=True,
    )
    rows = {r["query_id"]: r.asDict() for r in out.collect()}

    r1 = rows["20240101_080000_00001_aaaaa"]
    assert r1["query"] == ""
    assert r1["user"] == "user0"
    inputs = json.loads(r1["inputs"])
    assert inputs[0]["schema"] == "schema0"
    assert inputs[0]["catalogName"] == "catalog0"
    assert inputs[0]["connectorInfo"]["partitionIds"] == ["partition0", "partition1"]
    assert inputs[0]["table"] == "t1"  # table names untouched (reference parity)

    r2 = rows["20240101_090000_00002_aaaaa"]
    frag = json.loads(r2["fragments"])
    handle = frag[0]["root"]["table"]["connectorHandle"]
    assert handle["schemaName"] == "schema1"  # alias shares the schema map
    assert handle["tableName"] == "t2"

    r4 = rows["20240101_110000_00004_aaaaa"]
    assert json.loads(r4["output"])["schema"] == "schema0"
    # remove_query blanks nested VALUES rows too (jsonl_process.py:126-127)
    assert json.loads(r4["fragments"])[0]["root"]["rows"] == ""

    # schema consistency between inputs-side and output-side occurrences
    assert json.loads(r4["output"])["catalogName"] == "catalog1"

    # translation tables surface the same maps
    assert tables["schema"] == {"web": "schema0", "sales": "schema1"}


def test_obfuscation_schema_stable(summary_df):
    out, _ = process_summary(summary_df, rename_user=True)
    assert out.schema == summary_df.schema
    assert out.count() == summary_df.count()
    # only the user field changed
    untouched = out.select("query_id", "query", "inputs").exceptAll(
        summary_df.select("query_id", "query", "inputs")
    )
    assert untouched.count() == 0


def test_filter_then_obfuscate_pipeline(summary_df):
    out, tables = process_summary(summary_df, filter_schema="web", rename_user=True)
    users = {r["user"] for r in out.select("user").collect()}
    # kept rows: q1 (alice), q3 (alice), q4 (carol) -> user0, user1
    assert users == {"user0", "user1"}
    assert out.count() == 3
    assert tables["user"] == {"alice": "user0", "carol": "user1"}


def test_t_closeness_hand_computed(spark):
    from pyspark.sql import Row

    from presto_workload_analyzer_spark.privacy.obfuscate import t_closeness

    # global: a=4/8, b=2/8, c=2/8
    rows = (
        [Row(g="g1", s="a")] * 4          # g1: all 'a' -> skewed
        + [Row(g="g2", s="b")] * 2        # g2: all 'b'
        + [Row(g="g3", s="c")] * 2        # g3: all 'c'
    )
    df = spark.createDataFrame(rows)
    got = {r.g: r for r in t_closeness(df, ["g"], "s", t=0.5).collect()}
    # g1: present {a: pg=1, pG=0.5} -> |1-.5|/2 + (1-.5)/2 = 0.5
    assert got["g1"].tvd == pytest.approx(0.5)
    assert got["g1"].group_size == 4 and got["g1"].meets_t
    # g2: |1-0.25|/2 + (1-0.25)/2 = 0.75 -> fails t=0.5
    assert got["g2"].tvd == pytest.approx(0.75)
    assert not got["g2"].meets_t
    # a perfectly representative group has tvd 0
    rows2 = rows + [Row(g="g4", s="a")] * 4 + [Row(g="g4", s="b")] * 2 + [Row(g="g4", s="c")] * 2
    df2 = spark.createDataFrame(rows2)
    got2 = {r.g: r for r in t_closeness(df2, ["g"], "s").collect()}
    assert got2["g4"].tvd == pytest.approx(0.0)


def test_k_anonymize_null_quasi_values_group_and_plan(spark):
    """Round-7 skew fix regressions: (1) NULL quasi values form a real
    group (the groupBy+join rewrite must keep the window formulation's
    NULL semantics — a plain equi-join would silently unmatch them);
    (2) the plan has no Window and the group count map-side combines."""
    from pyspark.sql import Row

    from presto_workload_analyzer_spark.privacy.obfuscate import k_anonymize

    rows = (
        [Row(city=None, age=30, uid=i) for i in range(4)]
        + [Row(city="ny", age=30, uid=100 + i) for i in range(3)]
        + [Row(city="sf", age=40, uid=200)]
    )
    df = spark.createDataFrame(rows)
    kept = k_anonymize(df, ["city", "age"], k=3)
    got = sorted(r.uid for r in kept.collect())
    # the 4-row NULL-city group and the 3-row ny group survive; sf is rare
    assert got == [0, 1, 2, 3, 100, 101, 102]
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_count" in plan
