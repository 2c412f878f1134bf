"""Table profiling: per-column null counts, distinct counts, min/max.

The data-profiling operator every analytics engine grows (DESCRIBE
EXTENDED / dbt-style profiles / data-quality dashboards): one pass over
the table computes every column's stats as parallel aggregates, then the
single wide row unpivots to one row per column via stack() — no second
scan, no per-column jobs.

Scale notes: exact count(DISTINCT) per column plans one Expand pass per
distinct aggregate — fine to a few dozen columns. Min/max of
numeric/timestamp columns are formatted to fixed strings so profiles are
engine-portable and diffable across runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T


def _fmt(col, dtype) -> "F.Column":
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.format_string("%.6f", F.round(col + F.lit(1e-9), 6))
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    if isinstance(dtype, T.DateType):
        return F.date_format(col, "yyyy-MM-dd")
    return col.cast("string")


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
) -> DataFrame:
    """-> (column, dtype, n_rows, n_nulls, n_distinct, min_value, max_value).

    One aggregation pass; min/max emitted as portable strings (%.6f for
    floating point, ISO-style timestamps); distinct counts are exact.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = cols or list(fields)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        col, dtype = F.col(c), fields[c]
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"__nn_{c}"),
            F.countDistinct(col).alias(f"__nd_{c}"),
            # min/max in the NATIVE type (string-formatting first would
            # turn numeric ordering lexicographic: "10" < "9"); the
            # portable formatting applies to the single result value
            F.min(col).alias(f"__mn_{c}"),
            F.max(col).alias(f"__mx_{c}"),
        ]
    wide = df.agg(*aggs)
    wide = wide.select(
        "*",
        *[
            _fmt(F.col(f"__mn_{c}"), fields[c]).alias(f"__mnf_{c}")
            for c in cols
        ],
        *[
            _fmt(F.col(f"__mx_{c}"), fields[c]).alias(f"__mxf_{c}")
            for c in cols
        ],
    )
    stack_args = []
    for c in cols:
        stack_args += [
            F.lit(c),
            F.lit(fields[c].simpleString()),
            F.col(f"__nn_{c}").cast("long"),
            F.col(f"__nd_{c}").cast("long"),
            F.col(f"__mnf_{c}"),
            F.col(f"__mxf_{c}"),
        ]
    return wide.select(
        F.col("__n").cast("long").alias("n_rows"),
        F.stack(
            F.lit(len(cols)),
            *stack_args,
        ).alias("column", "dtype", "n_nulls", "n_distinct", "min_value", "max_value"),
    ).select(
        "column", "dtype", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value"
    )


__all__ = ["profile_columns"]


def referential_audit(
    pairs: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Foreign-key integrity audit: for each (label, child, fk_col, parent,
    pk_col) relation, count child rows whose FK value has no parent row —
    the data-quality gate that runs before any silver join is trusted.

    Per pair: child rows aggregate to (fk value, row count) FIRST — the
    parent-key membership join then runs on the key-value grain
    (|distinct FKs|, not |child rows|), the parent side ships only its
    distinct key column, and one final aggregate splits rows/nulls/orphans
    — a single scan of the child table per relation.
    NULL FKs are reported separately (SQL FK semantics: NULL is absent,
    not an orphan). Output: one row per relation —
    (relation, n_rows, n_null_fk, n_orphans, orphan_rate rounded to 6).

    At 100 TB the per-key aggregate is map-side combinable and the
    anti-join broadcasts whenever the parent key set is dimension-sized;
    for fact-to-fact relations it degrades to one hash shuffle on the key
    — never a row-grain cross-table comparison.
    """
    if not pairs:
        raise ValueError(
            "referential_audit: pairs must be non-empty — pass at least one"
            " (label, child, fk_col, parent, pk_col) relation"
        )
    outs = []
    for label, child, fk_col, parent, pk_col in pairs:
        per_key = (
            child.select(F.col(fk_col).alias("__fk"))
            .groupBy("__fk")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        # ONE child scan per relation: the NULL-FK group rides through the
        # aggregate, the parent-key left join marks hits (NULL fk never
        # matches, correctly landing in the null bucket, not orphans), and
        # a single final aggregate splits rows/nulls/orphans
        hits = parent.select(F.col(pk_col).alias("__fk")).distinct().withColumn(
            "__hit", F.lit(1)
        )
        marked = per_key.join(hits, on="__fk", how="left")
        outs.append(
            marked.agg(
                F.sum("__n").alias("__rows"),
                F.coalesce(
                    F.sum(F.when(F.col("__fk").isNull(), F.col("__n"))), F.lit(0)
                ).alias("__nulls"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("__fk").isNotNull() & F.col("__hit").isNull(),
                            F.col("__n"),
                        )
                    ),
                    F.lit(0),
                ).alias("__orph"),
            ).select(
                F.lit(label).alias("relation"),
                F.col("__rows").cast("long").alias("n_rows"),
                F.col("__nulls").cast("long").alias("n_null_fk"),
                F.col("__orph").cast("long").alias("n_orphans"),
                F.round(F.col("__orph") / F.col("__rows"), 6).alias("orphan_rate"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    cols: list[str],
    group_col: str | None = None,
) -> DataFrame:
    """Row-level drift audit between two snapshots of the same table:
    (group?, status, n) with status ∈ {added, removed, changed, unchanged}
    — the corpus-version diff every continuously-rebuilt training set
    needs (did the refresh replace 2% or 60% of documents per source?).

    Shape: each side reduces to (id, group?, digest) where digest =
    xxhash64 over `cols` (16 bytes/row instead of the full document —
    the same narrow-shuffle trick as incremental_dedup's digests), one
    full-outer join on id classifies every row, one bounded groupBy
    counts. NULL contents digest deterministically, so NULL == NULL is
    'unchanged', matching SQL IS NOT DISTINCT FROM semantics; collisions
    (2^-64/pair) can only misreport 'changed' as 'unchanged'.
    `group_col` (e.g. source) is taken from whichever side has the row —
    for 'changed' rows the NEW side's value wins (the group itself may
    have changed).
    """
    if not cols:
        raise ValueError("snapshot_diff: cols must be non-empty")

    def _side(df: DataFrame, tag: str) -> DataFrame:
        # hash ONE struct, not the column list: xxhash64(*cols) skips NULL
        # arguments entirely, so ('bob', NULL) and (NULL, 'bob') would
        # collide deterministically; the struct encodes per-field null
        # flags and positions
        sel = [
            F.col(id_col).alias("__id"),
            F.xxhash64(F.struct(*[F.col(c) for c in cols])).alias(f"__h_{tag}"),
        ]
        if group_col is not None:
            sel.append(F.col(group_col).alias(f"__g_{tag}"))
        return df.select(*sel)

    joined = _side(old, "old").join(_side(new, "new"), on="__id", how="full_outer")
    status = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") == F.col("__h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    out = joined.withColumn("status", status)
    keys = ["status"]
    if group_col is not None:
        out = out.withColumn(group_col, F.coalesce(F.col("__g_new"), F.col("__g_old")))
        keys = [group_col, "status"]
    return out.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n"))


def zorder_key(cols: list, bits: int = 8) -> "F.Column":
    """Morton (Z-order) key: interleave the low `bits` bits of already-
    quantized non-negative int columns into one long — the write-layout
    lever for multi-dimensional pruning at 100 TB: sort (or range-
    partition) by the key before writing parquet and rows close in EVERY
    quantized dimension land in the same row groups, so min/max row-group
    stats prune scans for predicates on ANY prefix of the dimensions (the
    same trick Delta/Iceberg expose as OPTIMIZE ZORDER BY; here it is a
    pure Column expression usable with plain `df.sort(key).write`).

    Callers quantize first (e.g. `F.least(lit(2**bits - 1), col / step)`);
    values outside [0, 2^bits) raise via assert_true rather than silently
    aliasing distant rows into the same locality bucket. A NULL dimension
    yields a NULL key (the row has no position in that dimension's order;
    sorting then parks it in the NULLS region instead of aliasing it into
    bucket 0 — and assert_true on the NULL comparison would otherwise
    throw). n_cols * bits must fit a long (<= 63).
    """
    n = len(cols)
    if n == 0:
        raise ValueError("zorder_key: need at least one column")
    if n * bits > 63:
        raise ValueError(f"zorder_key: {n} cols x {bits} bits exceeds a long")
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        c = (F.col(c) if isinstance(c, str) else c).cast("long")
        guarded = F.coalesce(
            F.assert_true(
                c.isNull() | ((c >= 0) & (c < (1 << bits))),
                F.lit(f"zorder_key: column {i} outside [0, 2^{bits})"),
            ).cast("long"),
            c,
        )
        for b in range(bits):
            key = key + F.shiftleft(
                F.shiftright(guarded, b).bitwiseAND(F.lit(1)), b * n + i
            )
    return key


def fd_audit(df: DataFrame, lhs: str, rhs: str, name: str) -> DataFrame:
    """Functional-dependency audit for one candidate FD `lhs -> rhs`: a
    single row `(fd, n_groups, n_violating, rows_in_violating)`.

    A group violates when one lhs value maps to >= 2 distinct rhs values
    — the schema-inference / data-quality primitive behind "is source a
    reliable language key" and "did ingestion fan a key out". Cost: one
    exact count-distinct aggregate at lhs grain (map-side combined), then
    a single-row rollup; rows_in_violating weights violations by blast
    radius, which is what triage sorts by. Run one fd_audit per candidate
    and union the rows — each candidate is its own scan-grain aggregate,
    so candidates parallelize trivially.
    """
    g = df.groupBy(lhs).agg(
        F.countDistinct(rhs).alias("__nd"), F.count(F.lit(1)).alias("__n")
    )
    return g.agg(
        F.lit(name).alias("fd"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("__nd") > 1).cast("long")).cast("long").alias("n_violating"),
        F.sum(F.when(F.col("__nd") > 1, F.col("__n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_in_violating"),
    )
