"""Unit tests for extensions/temporal.py: as-of join edge semantics,
range-join bucketing invariants, and sweep-line clipping — hand-computed
fixtures (the driver queries cover the cross-engine oracle comparison)."""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from presto_workload_analyzer_spark.extensions import temporal as T


def _t(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [
            Row(lid=1, k=1, ts=_t("2024-01-01 10:00:00")),
            Row(lid=2, k=1, ts=_t("2024-01-01 12:00:00")),
            Row(lid=3, k=2, ts=_t("2024-01-01 09:00:00")),  # no prior right
            Row(lid=4, k=1, ts=_t("2024-01-01 11:00:00")),  # exact-match ts
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, rts=_t("2024-01-01 09:30:00"), v=10),
            Row(k=1, rts=_t("2024-01-01 11:00:00"), v=20),
            Row(k=2, rts=_t("2024-01-01 09:30:00"), v=30),
        ]
    )
    return left, right


def test_asof_backward_inclusive(asof_frames):
    left, right = asof_frames
    out = {
        r["lid"]: (r["v"], r["matched_ts"])
        for r in T.asof_join(left, right, "k", "ts", "rts", ["v"]).collect()
    }
    assert out[1] == (10, _t("2024-01-01 09:30:00"))
    assert out[2] == (20, _t("2024-01-01 11:00:00"))
    assert out[3] == (None, None)  # left row with no prior right survives
    assert out[4] == (20, _t("2024-01-01 11:00:00"))  # exact ts matches


def test_asof_right_ties_resolve_to_struct_max(spark):
    left = spark.createDataFrame([Row(lid=1, k=1, ts=_t("2024-01-01 10:00:00"))])
    right = spark.createDataFrame(
        [
            Row(k=1, rts=_t("2024-01-01 09:00:00"), v=5),
            Row(k=1, rts=_t("2024-01-01 09:00:00"), v=7),
        ]
    )
    [row] = T.asof_join(left, right, "k", "ts", "rts", ["v"]).collect()
    assert row["v"] == 7  # deterministic: lexicographic max of the payload


def test_asof_plan_partitions_window_by_key(spark, asof_frames):
    left, right = asof_frames
    plan = (
        T.asof_join(left, right, "k", "ts", "rts", ["v"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


@pytest.fixture(scope="module")
def range_frames(spark):
    iv = spark.createDataFrame(
        [
            # spans 3 hourly buckets: 09:30 - 11:30
            Row(iv=1, k=1, s=_t("2024-01-01 09:30:00"), e=_t("2024-01-01 11:30:00")),
            Row(iv=2, k=2, s=_t("2024-01-01 10:00:00"), e=_t("2024-01-01 10:30:00")),
        ]
    )
    pts = spark.createDataFrame(
        [
            Row(p=1, k=1, ts=_t("2024-01-01 09:29:59")),  # just before
            Row(p=2, k=1, ts=_t("2024-01-01 09:30:00")),  # inclusive start
            Row(p=3, k=1, ts=_t("2024-01-01 10:45:00")),  # middle bucket
            Row(p=4, k=1, ts=_t("2024-01-01 11:30:00")),  # inclusive end
            Row(p=5, k=1, ts=_t("2024-01-01 11:30:01")),  # just after
            Row(p=6, k=2, ts=_t("2024-01-01 10:45:00")),  # wrong interval window
            Row(p=7, k=2, ts=_t("2024-01-01 10:15:00")),  # k=2 hit
        ]
    )
    return pts, iv


def test_range_join_containment_and_no_dups(spark, range_frames):
    pts, iv = range_frames
    out = T.range_join_bucketed(pts, iv, "k", "ts", "s", "e", bucket_seconds=3600)
    pairs = sorted((r["p"], r["iv"]) for r in out.collect())
    # each true containment appears EXACTLY once even though iv=1 spans 3
    # buckets (a point owns a single bucket)
    assert pairs == [(2, 1), (3, 1), (4, 1), (7, 2)]


def test_range_join_guard_fails_loudly(spark, range_frames):
    pts, iv = range_frames
    out = T.range_join_bucketed(
        pts, iv, "k", "ts", "s", "e", bucket_seconds=3600, max_buckets=2
    )
    with pytest.raises(Exception, match="raise bucket_seconds"):
        out.collect()  # iv=1 spans 3 cells > max_buckets=2


def test_range_join_plan_is_equi_join(spark, range_frames):
    pts, iv = range_frames
    plan = (
        T.range_join_bucketed(pts, iv, "k", "ts", "s", "e", bucket_seconds=3600)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_sweep_concurrency_hand_fixture(spark):
    iv = spark.createDataFrame(
        [
            # three overlapping same-day intervals -> peak 3
            Row(s=_t("2024-01-01 10:00:00"), e=_t("2024-01-01 12:00:00")),
            Row(s=_t("2024-01-01 11:00:00"), e=_t("2024-01-01 13:00:00")),
            Row(s=_t("2024-01-01 11:30:00"), e=_t("2024-01-01 11:45:00")),
            # midnight-crossing: counts on BOTH dates, started only on Jan 2
            Row(s=_t("2024-01-02 23:00:00"), e=_t("2024-01-03 01:00:00")),
        ]
    )
    rows = {
        str(r["bucket_date"]): (r["peak_concurrent"], r["n_started"])
        for r in T.sweep_concurrency(iv, "s", "e").collect()
    }
    assert rows == {
        "2024-01-01": (3, 3),
        "2024-01-02": (1, 1),
        "2024-01-03": (1, 0),  # clip re-entry is not a new start
    }


def test_sweep_concurrency_shard_width_invariant(spark):
    # hierarchical decomposition must be invariant to the shard width
    iv = spark.createDataFrame(
        [
            Row(s=_t("2024-01-01 00:10:00"), e=_t("2024-01-01 18:00:00")),
            Row(s=_t("2024-01-01 06:00:00"), e=_t("2024-01-01 06:30:00")),
            Row(s=_t("2024-01-01 06:15:00"), e=_t("2024-01-01 23:00:00")),
        ]
    )
    base = sorted(
        tuple(r) for r in T.sweep_concurrency(iv, "s", "e", shard_seconds=3600).collect()
    )
    for width in (60, 86_400):
        assert base == sorted(
            tuple(r)
            for r in T.sweep_concurrency(iv, "s", "e", shard_seconds=width).collect()
        )


def test_asof_join_agrees_with_pandas_merge_asof(spark):
    """Randomized batch check against pandas.merge_asof (an independent
    reference implementation, like the driver oracle's DuckDB ASOF JOIN):
    300x300 rows, 5 keys, second-resolution timestamps WITH collisions on
    and across sides. Right-side (key, ts) duplicates are pre-collapsed to
    the lexicographic-max payload on both sides, matching the operator's
    documented tie rule."""
    import pandas as pd
    import random

    rng = random.Random(42)
    base = dt.datetime(2024, 1, 1)
    left_pd = pd.DataFrame(
        {
            "lid": range(300),
            "k": [rng.randrange(5) for _ in range(300)],
            "ts": [base + dt.timedelta(seconds=rng.randrange(600)) for _ in range(300)],
        }
    )
    right_pd = pd.DataFrame(
        {
            "k": [rng.randrange(5) for _ in range(300)],
            "rts": [base + dt.timedelta(seconds=rng.randrange(600)) for _ in range(300)],
            "v": [rng.randrange(1000) for _ in range(300)],
        }
    )
    out = (
        T.asof_join(
            spark.createDataFrame(left_pd),
            spark.createDataFrame(right_pd),
            "k", "ts", "rts", ["v"],
        )
        .select("lid", "v")
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    dedup = (
        right_pd.sort_values(["k", "rts", "v"]).groupby(["k", "rts"], as_index=False).last()
    )
    expected = pd.merge_asof(
        left_pd.sort_values("ts"),
        dedup.sort_values("rts"),
        left_on="ts", right_on="rts", by="k",
        allow_exact_matches=True, direction="backward",
    ).sort_values("lid").reset_index(drop=True)[["lid", "v"]]
    pd.testing.assert_frame_equal(
        out.astype({"v": "float64"}), expected.astype({"v": "float64"})
    )


def test_range_join_agrees_with_bruteforce(spark):
    """Randomized batch check: bucketized range join == the O(n*m) pandas
    filter, across bucket widths (bucketing must be a pure physical
    optimization)."""
    import pandas as pd
    import random

    rng = random.Random(7)
    base = dt.datetime(2024, 1, 1)
    iv_pd = pd.DataFrame(
        {
            "iv": range(60),
            "k": [rng.randrange(4) for _ in range(60)],
            "s": [base + dt.timedelta(seconds=rng.randrange(36_000)) for _ in range(60)],
        }
    )
    iv_pd["e"] = iv_pd["s"] + pd.to_timedelta(
        [rng.randrange(30, 7_200) for _ in range(60)], unit="s"
    )
    pt_pd = pd.DataFrame(
        {
            "p": range(300),
            "k": [rng.randrange(4) for _ in range(300)],
            "ts": [base + dt.timedelta(seconds=rng.randrange(40_000)) for _ in range(300)],
        }
    )
    brute = {
        (int(p.p), int(i.iv))
        for _, p in pt_pd.iterrows()
        for _, i in iv_pd.iterrows()
        if p.k == i.k and i.s <= p.ts <= i.e
    }
    for width in (600, 3600, 86_400):
        got = {
            (r["p"], r["iv"])
            for r in T.range_join_bucketed(
                spark.createDataFrame(pt_pd),
                spark.createDataFrame(iv_pd),
                "k", "ts", "s", "e", bucket_seconds=width,
            ).collect()
        }
        assert got == brute, f"width={width}"

