"""Temporal join operators Spark lacks as built-ins: as-of join, bucketized
range join, and an interval sweep-line (concurrency profile).

Each is a composition of shuffle-honest DataFrame primitives — no
inequality-only joins, no single-reducer windows, no Python UDFs:

  * `asof_join` — the union + partitioned-window formulation: tag both
    sides, union, and carry the right side's payload forward with
    last(ignorenulls) over a window partitioned by the join key. One
    shuffle on the key, sequential only within (key) groups whose size is
    the per-key event count — the natural grain of the problem. This is
    how you express pandas.merge_asof / DuckDB ASOF JOIN at 100 TB
    without a backward-looking range join blowing up into
    BroadcastNestedLoop.
  * `range_join_bucketed` — point-in-interval equi-join: intervals
    explode onto a coarse time-bucket grid, points land on exactly one
    bucket, the join runs on (key, bucket) and an exact BETWEEN refine
    keeps true containments. Each (point, interval) pair appears at most
    once because a point owns a single bucket. A loud `assert_true`
    guard fails the job if an interval would explode into more than
    `max_buckets` buckets (pick `bucket_seconds` >= the typical interval
    length; silent truncation would be a wrong answer).
  * `sweep_concurrency` — classic +1/-1 sweep line over intervals,
    prefix-summed HIERARCHICALLY: intervals are clipped per covered date
    (so each date's sweep is self-contained — no cross-date running
    offset), the raw-row cumsum window is partitioned by (date, time
    shard), and the per-shard carry offsets come from a window over the
    AGGREGATED (date x shard) totals — the x39 token-packing
    decomposition applied to interval analytics. Peak concurrency per
    date is deterministic under timestamp ties because a per-date max
    over the running count does not depend on the order of equal
    (ts, delta) rows.

The capability parallels the reference's time-bucketed scheduling
analyses (analyzer/analyze.py:214-260 buckets query timestamps by
date/hour); concurrency-over-time is the interval generalization its
JSONL corpus cannot express but a cluster operator always asks for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = ["asof_join", "range_join_bucketed", "sweep_concurrency"]


def _ts(col: str | Column) -> Column:
    """Normalize to TimestampType: the driver parquet stores TIMESTAMP_NTZ
    (or nano longs restored upstream), and unix_micros/interval arithmetic
    require TIMESTAMP. The session timezone is pinned to UTC
    (session.py:35) so the cast is a pure type change, not a shift."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """For every left row, attach the most recent right row at-or-before
    its timestamp, per key — pandas.merge_asof(direction='backward') /
    DuckDB ASOF LEFT JOIN semantics, left rows with no match keep NULLs.

    Right-side ties on (key, right_ts) are resolved deterministically by
    the lexicographic max of the value struct (engine-portable — no
    reliance on input order).

    Output: all left columns + `matched_ts` + the right value columns.
    Plan shape: one hash exchange on the key; windows are partitioned by
    the key (per-key sequential scan — the minimum any as-of semantics
    needs) — never a global sort, never a nested-loop join.
    """
    # collapse right-side timestamp ties to one deterministic payload row
    packed = right.groupBy(
        F.col(key).alias("__k"), _ts(right_ts).alias("__ts")
    ).agg(F.max(F.struct(*value_cols)).alias("__v"))

    l_tag = left.select(
        F.col(key).alias("__k"),
        _ts(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*left.columns).alias("__l"),
        F.lit(None).cast(packed.schema["__v"].dataType).alias("__v"),
        F.lit(None).cast("timestamp").alias("__vts"),
    )
    r_tag = packed.select(
        "__k",
        "__ts",
        # right sorts before left at equal ts so the left row sees an
        # exact match
        F.lit(0).alias("__side"),
        F.lit(None).cast(l_tag.schema["__l"].dataType).alias("__l"),
        "__v",
        F.col("__ts").alias("__vts"),
    )

    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        l_tag.unionByName(r_tag)
        .withColumn("__mv", F.last("__v", ignorenulls=True).over(w))
        .withColumn("__mts", F.last("__vts", ignorenulls=True).over(w))
        .filter(F.col("__l").isNotNull())
    )

    out = carried.select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        F.col("__mts").alias("matched_ts"),
        *[F.col(f"__mv.{c}").alias(c) for c in value_cols],
    )
    return out


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    point_ts: str,
    start_col: str,
    end_col: str,
    *,
    bucket_seconds: int = 3600,
    max_buckets: int = 1024,
) -> DataFrame:
    """Point-in-interval join (point_ts in [start, end], inclusive) as an
    equi-join on (key, coarse time bucket) + exact refine — the blocked
    formulation of `points JOIN intervals ON ts BETWEEN start AND end`,
    which Spark would otherwise plan as a per-key nested loop.

    Each interval lands on ceil(len / bucket_seconds) grid cells; each
    point on exactly one, so no post-join dedup is needed. Intervals
    spanning more than `max_buckets` cells fail the job loudly via
    assert_true (raise `bucket_seconds`; truncating would silently drop
    matches). Columns from both frames are kept (point columns first);
    shared names must be disjoint apart from the key.

    Plan shape: shuffle (or broadcast, if one side is small) hash join on
    (key, bucket) — never BroadcastNestedLoopJoin on the inequality.
    """
    width = F.lit(int(bucket_seconds) * 1_000_000)
    sb = F.floor(F.unix_micros(_ts(start_col)) / width)
    eb = F.floor(F.unix_micros(_ts(end_col)) / width)
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                sb,
                # assert_true returns NULL on pass; coalesce keeps the value
                F.coalesce(
                    F.assert_true(
                        eb - sb < F.lit(max_buckets),
                        F.lit(
                            f"range_join_bucketed: interval spans more than"
                            f" {max_buckets} buckets of {bucket_seconds}s —"
                            f" raise bucket_seconds"
                        ),
                    ).cast("long"),
                    eb,
                ),
            )
        ),
    )
    pt = points.withColumn(
        "__bucket", F.floor(F.unix_micros(_ts(point_ts)) / width)
    )
    joined = pt.join(iv, on=[key, "__bucket"]).filter(
        F.col(point_ts).between(F.col(start_col), F.col(end_col))
    )
    return joined.drop("__bucket")


def sweep_concurrency(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    *,
    shard_seconds: int = 3600,
) -> DataFrame:
    """Per-date peak concurrency of a set of [start, end] intervals — the
    sweep line: +1 at each start, -1 at each end, running sum, max.

    Scale decomposition (no global window, no low-cardinality-only
    partition key):
      1. intervals are CLIPPED to each calendar date they cover (explode
         over sequence(date(start), date(end))), so every date's sweep
         starts at zero — intervals open at midnight re-enter as +1 at
         the clip boundary and no cross-date carry exists;
      2. the running sum over raw delta rows is windowed by
         (date, shard) where shard = floor(epoch / shard_seconds) — the
         only sequential scan is within one time shard;
      3. shard carry offsets come from a window over the aggregated
         (date x shard) totals (<= 86400/shard_seconds rows per date),
         broadcast-joined back — the hierarchical prefix-sum shape shared
         with textstats.pack_token_budget.

    Peak-per-date is order-independent under (ts, delta) ties: reordering
    equal rows permutes intermediate prefix values within the tie group
    but the set of values after each complete tie group — and therefore
    the max — is unchanged only for equal-delta ties; mixed ties are
    ordered ends-first (delta ASC), which both engines reproduce.

    Output: (bucket_date, peak_concurrent, n_started) where n_started
    counts intervals that truly START that date (clip re-entries are not
    re-counted).
    """
    # inverted intervals (end < start) are DROPPED, matching SQL
    # range()-based date expansion which is empty for them — without the
    # filter F.sequence would default to step -1 and explode the interval
    # onto its covered dates in reverse, emitting garbage deltas
    spans = (
        intervals.select(_ts(start_col).alias("__s"), _ts(end_col).alias("__e"))
        .filter(F.col("__e") >= F.col("__s"))
        .select(
            "__s",
            "__e",
            F.explode(F.sequence(F.to_date("__s"), F.to_date("__e"))).alias("__d"),
        )
    )
    day = F.col("__d").cast("timestamp")
    clipped = spans.select(
        "__d",
        F.greatest(F.col("__s"), day).alias("__cs"),
        F.least(F.col("__e"), F.timestamp_micros(F.unix_micros(day) + F.lit(86_400_000_000))).alias("__ce"),
        (F.col("__s") >= day).alias("__true_start"),
    )
    deltas = clipped.select(
        "__d", F.col("__cs").alias("__ts"), F.lit(1).alias("__delta"), "__true_start"
    ).unionByName(
        clipped.select(
            "__d", F.col("__ce").alias("__ts"), F.lit(-1).alias("__delta"),
            F.lit(False).alias("__true_start"),
        )
    )
    width = F.lit(int(shard_seconds) * 1_000_000)
    ev = deltas.withColumn("__shard", F.floor(F.unix_micros("__ts") / width))

    w_local = (
        Window.partitionBy("__d", "__shard")
        .orderBy("__ts", "__delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ev.withColumn("__run_local", F.sum("__delta").over(w_local))

    totals = ev.groupBy("__d", "__shard").agg(F.sum("__delta").alias("__tot"))
    w_shard = (
        Window.partitionBy("__d")
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__tot").over(w_shard), F.lit(0))
    ).select("__d", "__shard", "__off")

    swept = local.join(F.broadcast(offsets), on=["__d", "__shard"]).withColumn(
        "__run", F.col("__run_local") + F.col("__off")
    )
    return swept.groupBy(F.col("__d").alias("bucket_date")).agg(
        F.max("__run").cast("long").alias("peak_concurrent"),
        F.sum(F.when(F.col("__true_start") & (F.col("__delta") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_started"),
    )
