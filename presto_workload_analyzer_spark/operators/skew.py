"""Skew-resilient aggregation: explicit two-phase (salted) group-by.

At 100 TB a `groupBy(key)` over a workload log is routinely skewed — a
handful of users / operator types / tables own most rows. Spark's hash
aggregate already does map-side partial aggregation, and AQE splits skewed
JOIN partitions, but a skewed *aggregation* key still funnels every
pre-aggregated row of the hot key through one reducer. When the per-key
state is large (collect_set-ish, exact distinct, wide structs), that
reducer is the straggler.

`salted_agg` makes the classic fix a reusable operator: scatter each key
into `buckets` sub-keys with a deterministic salt, aggregate partially per
(key, salt), then aggregate the <= buckets partials per key. Both phases
are plain hash aggregates — Catalyst still plans partial+final within each
— so the hot key's work is spread over `buckets` reducers, at the price of
one extra (tiny: |keys| x buckets rows) shuffle.

Only algebraic (re-aggregatable) functions compose this way; the helper
takes (partial, final) expression pairs and ships ready-made specs for the
common ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# name -> (partial aggregate over raw rows, final aggregate over partials)
MERGEABLE = {
    "sum": (F.sum, F.sum),
    "count": (lambda c: F.count(c), F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-spread aggregation.

    aggs: output_name -> (fn_name in MERGEABLE, input column). The salt is
    deterministic (xxhash64 of the whole row mod `buckets`) so results are
    reproducible run-to-run.

    salted_agg(li, ["l_returnflag"], {"qty": ("sum", "l_quantity")})
      == li.groupBy("l_returnflag").agg(sum("l_quantity").alias("qty"))
    bit-for-bit for min/max/count and up to fp-summation-order for sum.
    """
    partials = [
        MERGEABLE[fn][0](F.col(src)).alias(f"__p_{name}")
        for name, (fn, src) in aggs.items()
    ]
    finals = [
        MERGEABLE[fn][1](F.col(f"__p_{name}")).alias(name)
        for name, (fn, src) in aggs.items()
    ]
    return (
        df.withColumn("__salt", F.pmod(F.xxhash64(*df.columns), F.lit(buckets)))
        .groupBy(*keys, "__salt")
        .agg(*partials)
        .groupBy(*keys)
        .agg(*finals)
    )
