"""Aggregation kernels shared by the analyzers.

These reproduce the reference's two quirky report kernels as declarative
DataFrame transforms (window functions + unions), so Catalyst plans them as
ordinary hash aggregations / window stages — no driver-side loops, no UDFs.

Scale posture: every kernel's input is a *grouped aggregate* (one row per
label / bin), i.e. tiny regardless of corpus size. The windows below use an
un-partitioned frame (pie_collapse_by: one partition per pie), which would
be a single-reducer bottleneck only if the label cardinality were huge; pie
charts are top-20 by construction and the histogram has <= bins+1 rows.
The heavy lifting (the groupBy feeding these) is partial+final hash
aggregation over the full corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

REST_LABEL = "All the rest"


def top_k_keys(df: DataFrame, key_col: str, val_col: str, k: int) -> DataFrame:
    """Top-k keys by summed value, deterministic tiebreak on key.

    Reference pattern: sort groups desc by value, slice K
    (analyze.py:788-790,808-810). Ties there follow dict insertion order; we
    instead break ties by key ascending so results are engine-independent
    (documented deviation).
    """
    agg = df.groupBy(key_col).agg(F.sum(val_col).alias("__v"))
    w = Window.orderBy(F.desc("__v"), F.asc(key_col))
    return (
        agg.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= k)
        .select(key_col)
    )


def pie_collapse(
    df: DataFrame,
    label_col: str = "label",
    val_col: str = "val",
    top: int = 20,
) -> DataFrame:
    """The reference's pie-chart data kernel (analyze.py:460-515).

    Input: one row per label with a non-negative value (already aggregated).
    Semantics, matching analyze.py:460-481 exactly:
      * order labels by value desc (tiebreak: label asc — deterministic
        deviation from the reference's insertion order);
      * a label is kept iff its share of the ORIGINAL total is > 0.1% AND its
        rank is < `top` (i.e. at most top-1 labels kept, analyze.py:466);
      * if anything was dropped, append one 'All the rest' row holding the
        dropped sum — even when that sum is 0 (analyze.py:468-471);
      * percentages are recomputed over the collapsed set, rounded to 2
        decimals, and the rounding residual is pushed into the LAST slice so
        they sum to exactly 100 (analyze.py:474-476).

    Output columns: (label STRING, val DOUBLE, pct DOUBLE), ordered value
    desc with 'All the rest' last. Returns an empty frame when the total is
    zero (reference returns None / no chart, analyze.py:463-464).
    """
    return pie_collapse_by(df, (), label_col, val_col, top)


def pie_collapse_by(
    df: DataFrame,
    by: tuple[str, ...],
    label_col: str = "label",
    val_col: str = "val",
    top: int = 20,
) -> DataFrame:
    """`pie_collapse` of each group of the `by` columns (say, a chart tag),
    all in one pass: every window is partitioned by `by`. Output columns:
    (*by, label, val, pct); each group's rows are contiguous, in slice order.
    """
    label, val = F.col(label_col).cast("string"), F.col(val_col).cast("double")
    w = Window.partitionBy(*by)
    keep = (100.0 * F.col("__val") / F.col("__total") > 0.1) & (F.col("__rnk") < top)
    base = df.select(
        *by,
        label.alias(label_col),
        val.alias("__val"),
        F.sum(val).over(w).alias("__total"),
        F.row_number().over(w.orderBy(val.desc(), label.asc())).alias("__rnk"),
    ).filter(F.col("__total") > 0)
    # Collapse kept labels + 'All the rest' in ONE aggregation instead of a
    # union of two filtered branches: a union would make Catalyst evaluate
    # the (potentially heavy) upstream aggregate twice — once per branch —
    # since common-subplan reuse only applies to identical exchanges. Kept
    # rows group by (label, rank) so they never merge; all dropped rows
    # share the sentinel ord and fold into one 'All the rest' row, which
    # exists iff at least one label was dropped (possibly with val=0.0).
    merged = base.groupBy(
        *by,
        F.when(keep, F.col(label_col)).otherwise(F.lit(REST_LABEL)).alias("label"),
        F.when(keep, F.col("__rnk")).otherwise(F.lit(2_000_000_000)).alias("__ord"),
    ).agg(F.sum("__val").alias("val"))
    out = merged.select(
        *by, "label", "val", "__ord",
        F.round(100.0 * F.col("val") / F.sum("val").over(w), 2).alias("__pct_raw"),
        (F.row_number().over(w.orderBy(F.desc("__ord"))) == 1).alias("__is_last"),
    ).select(
        *by, "label", "val", "__ord",
        # Last slice absorbs the rounding residual so the pie sums to 100
        # (analyze.py:474-476). We re-round the residual to the 2-decimal
        # grid: mathematically identical, but bit-stable across summation
        # orders (numpy pairwise vs Spark/DuckDB sequential) so the
        # oracle hash-compare can't be tripped by 1-ulp noise.
        F.when(
            F.col("__is_last"),
            F.round(F.lit(100.0) - (F.sum("__pct_raw").over(w) - F.col("__pct_raw")), 2),
        ).otherwise(F.col("__pct_raw")).alias("pct"),
    )
    # each pie is one partition of the windows above: a sort within it
    # orders the slices without the sampling job and shuffle of a global sort
    return out.sortWithinPartitions(*by, "__ord").select(*by, "label", "val", "pct")


def selectivity_histogram(
    df: DataFrame,
    selectivity_col: Column | str,
    weight_col: Column | str,
    bins: int = 10,
    max_selectivity: float = 1.0,
) -> DataFrame:
    """The reference's selectivity histogram kernel (analyze.py:622-686).

    Input: one row per operator with a selectivity in [0, ~1] and a weight
    (wall seconds). Semantics, matching analyze.py:636-650 exactly —
    including the famous quirk: the bin is computed as
    ``abs(round(sel - bin_step/2, 1))`` with the decimal count HARD-CODED to
    1, so the bins=100 variant actually collapses mass onto 0.1-granularity
    bins while the zero-padding scaffold still emits 0.01-granularity labels
    (analyze.py:640-644). We reproduce it faithfully (half-even rounding,
    like numpy.round) because correctness is oracle-hash-checked; flagged in
    SURVEY.md §4.3 as a candidate upstream fix.

      * weights are first converted to a percentage of the TOTAL weight
        (zero-padding rows contribute 0), then summed per bin label;
      * every scaffold bin [0, max_selectivity) step 1/bins is present even
        if empty (analyze.py:643-644);
      * bins beyond max_selectivity + 1e-9 are labelled 'Above'
        (analyze.py:647-648); labels are '%0.2f' strings otherwise, and the
        output sorts by label string asc, which puts 'Above' last;
      * a total weight of 0 (no rows, or all weights 0) gives no rows,
        where the reference would divide by zero.

    Output columns: (bin STRING, wall_pct DOUBLE).
    """
    sel = F.col(selectivity_col) if isinstance(selectivity_col, str) else selectivity_col
    wgt = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    step = 1.0 / bins

    data = df.select(sel.alias("__sel"), wgt.cast("double").alias("__w")).withColumn(
        "__bin", F.abs(F.bround(F.col("__sel") - step / 2.0, 1))
    )
    spark = df.sparkSession
    # numpy.arange(0, max_selectivity, step) length = ceil(stop/step) under fp
    # (0.2/0.01 is 19.999999999999996 -> int() would drop the last bin)
    n_pad = math.ceil(max_selectivity / step)
    scaffold = spark.range(n_pad).select(
        (F.col("id") * step).alias("__bin"), F.lit(0.0).alias("__w"), F.lit(None).cast("double").alias("__sel")
    )
    unioned = data.select("__bin", "__w").unionByName(scaffold.select("__bin", "__w"))
    # aggregate per bin FIRST (map-side partial sums; the shuffle carries
    # ~bins rows), THEN take share-of-total over the aggregated bin set —
    # the unpartitioned window sees #bins rows, never the corpus. The
    # round-1 shape (per-row pct via a global window, then bin sums) pushed
    # every operator row through one reducer; plan-linted against now.
    w_all = Window.partitionBy()
    return (
        unioned.withColumn(
            "bin",
            F.when(
                F.col("__bin") <= max_selectivity + 1e-9, F.format_string("%.2f", F.col("__bin"))
            ).otherwise(F.lit("Above")),
        )
        .groupBy("bin")
        .agg(F.sum("__w").alias("__wsum"))
        .withColumn("__total", F.sum("__wsum").over(w_all))
        # a total of 0 (no rows besides the zero scaffold, or all weights
        # 0) has no shares: no rows, where ANSI division would raise
        .filter(F.col("__total") != 0)
        .select("bin", (100.0 * F.col("__wsum") / F.col("__total")).alias("wall_pct"))
        .orderBy("bin")
    )
