"""Structured Streaming: drains and stateful operators.

Strategy: write summary JSONL files into a landing dir, drain with
availableNow triggers, then append late files and assert incremental
emission across checkpointed restarts.
"""

import json

import pytest

from pyspark.sql import functions as F

from presto_workload_analyzer_spark.functions import query_timestamp
from presto_workload_analyzer_spark.sources.queryinfo import SUMMARY_SCHEMA
from presto_workload_analyzer_spark.streaming import drain, stream_sf_table


def _line(query_id: str, scheduled: float = 3600.0, state: str = "FINISHED") -> str:
    return json.dumps(
        {
            "query": "SELECT 1",
            "query_id": query_id,
            "user": "alice",
            "state": state,
            "elapsed_time": 1.0,
            "cpu_time": 1.0,
            "scheduled_time": scheduled,
            "blocked_time": 0.0,
            "input_size": 1e9,
            "output_size": 0.0,
            "input_rows": 10,
            "output_rows": 1,
            "peak_mem": 0.0,
            "operators": [],
        }
    )


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "batch1.jsonl").write_text(
        "\n".join(
            [
                _line("20240101_080500_00001_aaaaa", scheduled=1800.0),
                _line("20240101_081500_00002_aaaaa", scheduled=1800.0),
                _line("20240101_091000_00003_aaaaa", scheduled=7200.0),
                _line("20240101_091500_00004_aaaaa", state="FAILED"),
            ]
        )
    )
    return d


def test_registry_stream_query_leaves_no_view_or_stream(spark, sf_dir):
    """A registered streaming query drops its memory-sink view and stops
    its stream before returning."""
    from presto_workload_analyzer_spark.driver_queries import queries

    before = {t.name for t in spark.catalog.listTables()}
    out = queries()["s01_stream_events_by_day"](spark, sf_dir)
    assert out.count() > 0
    assert {t.name for t in spark.catalog.listTables()} == before
    assert spark.streams.active == []


def test_drain_timeout_stops_stream_and_raises(spark, sf_dir):
    """A drain that outlives its timeout stops the stream and raises
    instead of returning a partial table."""
    before = {t.name for t in spark.catalog.listTables()}
    with pytest.raises(TimeoutError):
        drain(stream_sf_table(spark, sf_dir, "events"), timeout=0.001)
    assert spark.streams.active == []
    assert {t.name for t in spark.catalog.listTables()} == before


def test_query_sessions_stateful(spark, landing, tmp_path):
    """applyInPandasWithState sessionization: in-batch gap splits emit
    immediately; the open session closes only when the watermark passes
    last_seen + gap (checkpointed across restarts)."""
    from presto_workload_analyzer_spark.streaming.sessions import query_sessions

    out, ckpt = str(tmp_path / "sessions"), str(tmp_path / "ckpt_s")

    def run():
        stream = (
            spark.readStream.schema(SUMMARY_SCHEMA)
            .json(str(landing))
            .withColumn("query_ts", query_timestamp(F.col("query_id")))
            .withWatermark("query_ts", "10 minutes")
        )
        q = (
            query_sessions(stream, gap_seconds=1800.0)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch1 (alice): 08:05, 08:15 then 09:10 — the >30min jump closes the
    # first session in-batch; [09:10] stays open in state
    run()
    first = spark.read.parquet(out).collect()
    assert len(first) == 1
    s = first[0]
    assert s.user == "alice"
    assert str(s.session_start) == "2024-01-01 08:05:00"
    assert str(s.session_end) == "2024-01-01 08:15:00"
    assert s.n_queries == 2
    assert s.scheduled_sum == pytest.approx(3600.0)

    # an 11:00 event pushes the watermark (10:50) past 09:10+30min=09:40:
    # the held session times out and is emitted; [11:00] becomes the open one
    (landing / "late_s.jsonl").write_text(_line("20240101_110000_00021_aaaaa"))
    run()
    rows = sorted(
        spark.read.parquet(out).collect(), key=lambda r: r.session_start
    )
    assert [(str(r.session_start), r.n_queries) for r in rows] == [
        ("2024-01-01 08:05:00", 2),
        ("2024-01-01 09:10:00", 1),
    ]


def test_cusum_alarms_stateful(spark, tmp_path):
    """applyInPandasWithState CUSUM: the two-double state carries the
    prefix sum and running min across micro-batches, so alarms match the
    closed-form S = P - min(0, running_min(P)) computed on the same rows;
    crossings below threshold stay silent."""
    import pandas as pd

    from presto_workload_analyzer_spark.streaming.cusum import cusum_alarms

    src = str(tmp_path / "cusum_src")
    out, ckpt = str(tmp_path / "cusum_out"), str(tmp_path / "cusum_ckpt")
    rows = [
        # key 'a': values 10 over target -> P climbs 8/row (target 1, slack 1)
        ("a", "2024-01-01 00:00:0%d" % i, i, 10.0) for i in range(5)
    ] + [
        # key 'b': values at target -> never alarms
        ("b", "2024-01-01 00:00:0%d" % i, 100 + i, 2.0) for i in range(5)
    ]
    pdf = pd.DataFrame(rows, columns=["k", "ts", "event_id", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).write.parquet(src)

    stream = spark.readStream.schema(
        "k string, ts timestamp, event_id long, value double"
    ).parquet(src)
    alarms = cusum_alarms(
        stream, "k", "ts", "event_id", "value",
        target=1.0, slack=1.0, threshold=20.0,
    )
    q = (
        alarms.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.key, r.event_id): r.s_plus for r in spark.read.parquet(out).collect()}
    # P after rows 0..4 for 'a': 8,16,24,32,40 -> alarms at rows 2,3,4
    assert got == {("a", 2): 24.0, ("a", 3): 32.0, ("a", 4): 40.0}


def test_funnel_conversions_state_machine(spark, tmp_path):
    """Every transition of the funnel machine: arm->convert, error
    disarm, re-arm overwrite, consume-once, beyond-horizon consume
    without emit, and irrelevant events ignored."""
    import pandas as pd

    from presto_workload_analyzer_spark.streaming.funnel import (
        funnel_conversions,
    )

    def ev(user, sec, eid, typ):
        return (user, "2024-01-01 00:%02d:%02d" % (sec // 60, sec % 60), eid, typ)

    rows = [
        # user 1: signup -> purchase within horizon => converts (latency 10)
        ev(1, 0, 1, "signup"), ev(1, 10, 2, "purchase"),
        # user 1 again: second purchase finds IDLE (consumed) => nothing
        ev(1, 20, 3, "purchase"),
        # user 2: signup -> error -> purchase => disarmed, nothing
        ev(2, 0, 4, "signup"), ev(2, 5, 5, "error"), ev(2, 10, 6, "purchase"),
        # user 3: signup, signup (re-arm), purchase => converts from 2nd arm
        ev(3, 0, 7, "signup"), ev(3, 30, 8, "signup"), ev(3, 40, 9, "purchase"),
        # user 4: signup -> purchase BEYOND 60s horizon => consumed, no emit
        ev(4, 0, 10, "signup"), ev(4, 120, 11, "purchase"),
        # user 5: click/view noise between arm and purchase is ignored
        ev(5, 0, 12, "signup"), ev(5, 5, 13, "click"),
        ev(5, 7, 14, "view"), ev(5, 15, 15, "purchase"),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id", "event_type"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    src = str(tmp_path / "funnel_src")
    spark.createDataFrame(pdf).write.parquet(src)

    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_id long, event_type string"
    ).parquet(src).withWatermark("ts", "1 minute")
    conv = funnel_conversions(stream, horizon_seconds=60.0)
    out, ckpt = str(tmp_path / "funnel_out"), str(tmp_path / "funnel_ckpt")
    q = (
        conv.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.latency_s) for r in spark.read.parquet(out).collect()
    }
    assert got == {(1, 10.0), (3, 10.0), (5, 15.0)}


def test_funnel_state_survives_restart(spark, tmp_path):
    """Stateful recovery: a user ARMED in the first run must convert on a
    purchase that arrives in a second run from the same checkpoint — the
    state store, not the batch, carries the arm across restarts."""
    import pandas as pd

    from presto_workload_analyzer_spark.streaming.funnel import funnel_conversions

    src = tmp_path / "funnel_src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id", "event_type"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(src))

    def run_once():
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, event_type string"
        ).parquet(str(src)).withWatermark("ts", "1 minute")
        q = (
            funnel_conversions(stream, horizon_seconds=3600.0)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: user 7 arms (signup), no purchase yet
    write_file("f1", [(7, "2024-01-01 00:00:00", 1, "signup")])
    run_once()
    assert spark.read.schema(
        "user_id long, signup_ts timestamp, purchase_ts timestamp, latency_s double"
    ).parquet(out).count() == 0

    # run 2 (fresh query, same checkpoint): the purchase arrives
    write_file("f2", [(7, "2024-01-01 00:10:00", 2, "purchase")])
    run_once()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0].user_id == 7 and rows[0].latency_s == 600.0
