"""Privacy transforms: schema filter + name obfuscation (jsonl_process parity).

Reference surface (jsonl_process.py:37-50, 53-86, 122-152, 186-194):
  * `filter_line` — keep a summary record iff a nested key from the filter
    dict occurs with the wanted value anywhere in the record (OR semantics),
    OR no such key occurs at all;
  * `NameObfuscator` — first-encounter ordinal renaming (name -> prefixN),
    shared across key aliases (schema/schemaName; user/principal), empty
    string passthrough; `ListObfuscator` element-wise variant for
    `partitionIds`;
  * removal obfuscators — query/rows -> '' and location/targetPath/
    writePath -> '';
  * translation tables printed at the end (jsonl_process.py:186-194).

Spark-first design. The reference is a single-threaded per-line loop with a
driver-resident dict; that does not scale, and the arrival-order ordinals it
produces are an artifact of file iteration order. Rebuild:

  1. NAME DISCOVERY is a distributed `mapInPandas` pass emitting
     (group, name, query_id) for every obfuscated key occurrence — nested
     JSON walk is genuinely non-relational (SURVEY.md §4.3), so this is the
     sanctioned Python escape hatch, Arrow-batched.
  2. ORDINAL ASSIGNMENT is a window: `row_number() OVER (PARTITION BY group
     ORDER BY first_seen_query_id, name)` where first_seen = min(query_id).
     DEVIATION (documented, SURVEY.md §7 risk register): the reference's
     ordinals follow file arrival order, which is nondeterministic under
     partition parallelism; first-seen-by-sorted-query_id is deterministic
     and stable under re-partitioning.
  3. APPLY collects the (small, by construction — it is printed as a
     translation table) name map once, as {group: {name: new_name}}, ships
     it to every task and rewrites each record in one `mapInPandas` pass.
     The printed translation tables are that same dict: no Spark job and
     no cached DataFrame.

At 100 TB this is two scans of the corpus with no shuffle besides the tiny
name aggregation; the broadcast map is bounded by the distinct-name count.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

# Summary columns that carry verbatim nested JSON (see sources/queryinfo.py).
NESTED_JSON_COLUMNS = ("error_code", "fragments", "substages", "inputs", "output")

# key -> obfuscation group, mirroring jsonl_process.py:122-152.
RENAME_KEY_GROUPS = {
    "schema": "schema",
    "schemaName": "schema",
    "catalogName": "catalog",
    "user": "user",
    "principal": "user",
    "partitionIds": "partition",
}
GROUP_PREFIX = {"schema": "schema", "catalog": "catalog", "user": "user", "partition": "partition"}

REMOVE_QUERY_KEYS = ("query", "rows")  # jsonl_process.py:124-127
REMOVE_LOCATION_KEYS = ("location", "targetPath", "writePath")  # jsonl_process.py:138-141

_NAME_ROW_SCHEMA = T.StructType(
    [
        T.StructField("group", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("query_id", T.StringType()),
    ]
)


def _iter_nested(obj, keys: frozenset):
    """Yield (key, value) for every occurrence of `keys` at any depth.

    Equivalent of nested_lookup over the parsed record
    (jsonl_process.py:47-48)."""
    if isinstance(obj, dict):
        for k, v in obj.items():
            if k in keys:
                yield k, v
            yield from _iter_nested(v, keys)
    elif isinstance(obj, list):
        for item in obj:
            yield from _iter_nested(item, keys)


def _alter_nested(obj, alter: dict):
    """Return obj with every value under a key in `alter` rewritten.

    Equivalent of nested_alter per key (jsonl_process.py:79-86). `alter`
    maps key -> callable(old_value) -> new_value."""
    if isinstance(obj, dict):
        out = {}
        for k, v in obj.items():
            if k in alter:
                out[k] = alter[k](v)
            else:
                out[k] = _alter_nested(v, alter)
        return out
    if isinstance(obj, list):
        return [_alter_nested(item, alter) for item in obj]
    return obj


def _record_json_parts(row: dict) -> Iterator[tuple[str, object]]:
    """(column, parsed JSON) for each non-null nested JSON column."""
    for col in NESTED_JSON_COLUMNS:
        raw = row.get(col)
        if isinstance(raw, str) and raw:
            try:
                yield col, json.loads(raw)
            except ValueError:
                continue


# --------------------------------------------------------------------------
# Schema filter (jsonl_process.py:37-50, 173-174)
# --------------------------------------------------------------------------


def filter_by_schema(df: DataFrame, schema: str) -> DataFrame:
    """Keep summary rows touching `schema` (filter_line semantics).

    filter_dict = {schema: X, schemaName: X}; a row passes iff no
    `schema`/`schemaName` key occurs anywhere in it, or some occurrence of
    either key equals X.
    """
    keys = frozenset(("schema", "schemaName"))

    def keep(row: dict) -> bool:
        found = [v for _, parsed in _record_json_parts(row) for _, v in _iter_nested(parsed, keys)]
        return not found or schema in found

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mask = [keep(rec) for rec in pdf.to_dict("records")]
            yield pdf[pd.Series(mask, index=pdf.index)]

    return df.mapInPandas(gen, df.schema)


# --------------------------------------------------------------------------
# Name discovery + translation tables
# --------------------------------------------------------------------------


def collect_names(df: DataFrame, groups: set[str]) -> DataFrame:
    """Distributed discovery of every obfuscatable name occurrence.

    Returns (group, name, query_id) — one row per occurrence site (deduped
    per record). Scalar `user` column and nested occurrences both count.
    """
    keys_by_group: dict[str, frozenset] = {}
    for key, group in RENAME_KEY_GROUPS.items():
        if group in groups:
            keys_by_group.setdefault(group, frozenset())
            keys_by_group[group] = keys_by_group[group] | {key}
    all_keys = frozenset(k for ks in keys_by_group.values() for k in ks)
    group_of = {k: g for g, ks in keys_by_group.items() for k in ks}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                qid = rec.get("query_id") or ""
                seen: set[tuple[str, str]] = set()
                if "user" in group_of and isinstance(rec.get("user"), str) and rec["user"]:
                    seen.add(("user", rec["user"]))
                for _, parsed in _record_json_parts(rec):
                    for k, v in _iter_nested(parsed, all_keys):
                        g = group_of[k]
                        if k == "partitionIds" and isinstance(v, list):
                            for item in v:
                                if isinstance(item, str) and item:
                                    seen.add((g, item))
                        elif isinstance(v, str) and v:
                            seen.add((g, v))
                rows.extend(
                    {"group": g, "name": n, "query_id": qid} for g, n in sorted(seen)
                )
            yield pd.DataFrame(rows, columns=["group", "name", "query_id"])

    return df.mapInPandas(gen, _NAME_ROW_SCHEMA)


def build_translation(names: DataFrame) -> DataFrame:
    """(group, name, query_id) occurrences -> (group, name, new_name).

    First-seen ordinal per group: ordinal = row_number() - 1 ordered by
    (min(query_id), name); new_name = prefix || ordinal. This is the
    NameObfuscator map (jsonl_process.py:53-64) with deterministic order.
    """
    w = Window.partitionBy("group").orderBy("first_seen", "name")
    prefix = F.create_map(
        *[x for g, p in GROUP_PREFIX.items() for x in (F.lit(g), F.lit(p))]
    )
    return (
        names.groupBy("group", "name")
        .agg(F.min("query_id").alias("first_seen"))
        .withColumn("ordinal", F.row_number().over(w) - F.lit(1))
        .select(
            "group",
            "name",
            F.concat(prefix[F.col("group")], F.col("ordinal").cast("string")).alias(
                "new_name"
            ),
        )
    )


# --------------------------------------------------------------------------
# Apply
# --------------------------------------------------------------------------


def apply_obfuscation(
    df: DataFrame,
    name_map: dict[str, dict[str, str]] | None = None,
    remove_query: bool = False,
    remove_locations: bool = False,
) -> DataFrame:
    """Rewrite summary records with the translation map.

    `name_map` is {group: {name: new_name}}, the collected build_translation
    table, shipped to every task (the reference keeps the same dict
    driver-side); its keys are the groups renamed. Unknown names pass
    through unchanged (cannot happen when the map was built from the same
    corpus); '' passes through (jsonl_process.py:59-61).
    """
    name_map = name_map or {}

    def rename_fn(group: str):
        m = name_map[group]

        def fn(v):
            if group == "partition" and isinstance(v, list):
                return [m.get(x, x) if isinstance(x, str) and x else x for x in v]
            if isinstance(v, str) and v:
                return m.get(v, v)
            return v

        return fn

    alter: dict = {}
    for key, group in RENAME_KEY_GROUPS.items():
        if group in name_map:
            alter[key] = rename_fn(group)
    if remove_query:
        for key in REMOVE_QUERY_KEYS:
            alter[key] = lambda v: ""
    if remove_locations:
        for key in REMOVE_LOCATION_KEYS:
            alter[key] = lambda v: ""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = pdf.to_dict("records")
            for rec in recs:
                if remove_query:
                    rec["query"] = ""
                if "user" in name_map and isinstance(rec.get("user"), str):
                    rec["user"] = name_map["user"].get(rec["user"], rec["user"])
                if alter:
                    for col, parsed in _record_json_parts(rec):
                        rec[col] = json.dumps(_alter_nested(parsed, alter))
            yield pd.DataFrame(recs, columns=list(pdf.columns))

    return df.mapInPandas(gen, df.schema)


def process_summary(
    df: DataFrame,
    filter_schema: str | None = None,
    remove_query: bool = False,
    rename_schemas: bool = False,
    rename_catalogs: bool = False,
    remove_locations: bool = False,
    rename_user: bool = False,
    rename_partitions: bool = False,
) -> tuple[DataFrame, dict[str, dict[str, str]]]:
    """Full jsonl_process pipeline: filter -> obfuscate.

    Returns (processed summary DF, {group: {name: new_name}}) — the
    translation tables are the reference's printed maps
    (jsonl_process.py:186-194), collected once when any group is renamed.
    """
    if filter_schema:
        df = filter_by_schema(df, filter_schema)

    groups = set()
    if rename_schemas:
        groups.add("schema")
    if rename_catalogs:
        groups.add("catalog")
    if rename_user:
        groups.add("user")
    if rename_partitions:
        groups.add("partition")

    tables: dict[str, dict[str, str]] = {g: {} for g in sorted(groups)}
    if groups:
        for r in build_translation(collect_names(df, groups)).collect():
            tables[r["group"]][r["name"]] = r["new_name"]

    out = apply_obfuscation(
        df,
        name_map=tables,
        remove_query=remove_query,
        remove_locations=remove_locations,
    )
    return out, tables


def k_anonymize(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity enforcement over a quasi-identifier combination.

    A row is re-identifiable when its quasi-identifier tuple (e.g. user x
    update-type x date) is shared by fewer than k rows; those rows are
    suppressed (dropped; output schema unchanged), fully distributed with
    no collect.

    Group sizes come from a groupBy + equi-join back on the quasi columns,
    NOT a quasi-partitioned window (round-7 skew fix): a window must
    co-locate a group's every row in one task, so the single most common
    QI combination — millions of rows at 100 TB — funnels through one
    reducer with no remedy (AQE cannot split a window partition). The
    count aggregate map-side combines, and the join back is an SMJ/SHJ
    shape AQE's skew-join CAN split on the hot key. Same result, same
    single logical pass over the data. Extends the reference's privacy
    surface (jsonl_process.py rename/remove obfuscation) with a
    grouping-based guarantee the rename map alone cannot give.
    """
    sizes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__gsize"))
    # null-safe equality: groupBy puts NULL quasi values in a real group,
    # and a plain equi-join would silently unmatch those rows (NULL != NULL
    # in join keys) — <=> keeps it an equi-join shape (SMJ/SHJ, AQE-skew
    # splittable) with the window formulation's NULL semantics
    renamed = sizes.select(
        *[F.col(c).alias(f"__q_{c}") for c in quasi_cols], "__gsize"
    )
    cond = None
    for c in quasi_cols:
        eq = df[c].eqNullSafe(F.col(f"__q_{c}"))
        cond = eq if cond is None else (cond & eq)
    sized = df.join(renamed, on=cond, how="left").drop(
        *[f"__q_{c}" for c in quasi_cols]
    )
    return sized.filter(F.col("__gsize") >= k).drop("__gsize")


def laplace_noise(key: "Column", scale: float = 1.0, salt: str = "noise") -> "Column":
    """Deterministic Laplace(scale) noise derived from md5(salt|key) —
    the additive-noise half of a differential-privacy release, made
    REPRODUCIBLE: the 'randomness' is a salted hash of the group key, so
    reruns (and any engine that can md5) produce the identical release.
    Inverse-CDF transform: u ~ Uniform(-1/2, 1/2) from 24 hash bits,
    noise = -scale * sign(u) * ln(1 - 2|u|).

    True DP requires non-reproducible randomness (a fixed salt leaks under
    repeated queries with different predicates); this operator is the
    MECHANISM shape — swap the salt for per-release entropy in a real
    deployment, everything else unchanged.
    """
    h = F.md5(F.concat(F.lit(f"{salt}|"), key.cast("string")))
    v = F.conv(F.substring(h, 1, 6), 16, 10).cast("double")
    u = (v + 0.5) / float(16**6) - 0.5
    return F.lit(-scale) * F.signum(u) * F.log(1.0 - 2.0 * F.abs(u))


def noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    scale: float = 1.0,
    salt: str = "noise",
) -> DataFrame:
    """Per-group counts with deterministic Laplace noise: one groupBy, the
    noise keyed on the concatenated group values. Output:
    (group_cols..., n, noisy_n) — `n` exact (drop it in a real release),
    `noisy_n` rounded to 6 decimals."""
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in group_cols])
    return (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn(
            "noisy_n",
            F.round(
                F.col("n") + laplace_noise(key, scale=scale, salt=salt) + 1e-9, 6
            ),
        )
    )


def l_diversity(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, l: int = 3
) -> DataFrame:
    """l-diversity audit: k-anonymity's companion check — a group can be
    k-large yet still leak if every member shares the same SENSITIVE value.
    Per quasi-identifier combination: group size, number of distinct
    sensitive values, and whether it meets the l threshold.

    One groupBy with an exact count-distinct (Spark plans it as a
    two-phase expand + aggregate — map-side combinable, no window, no
    collect). Pair with k_anonymize: suppress/mask groups failing EITHER
    bound before release.
    """
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct(sensitive_col).cast("long").alias("n_sensitive"),
    ).withColumn("meets_l", F.col("n_sensitive") >= l)


def generalize_quasi(col: "Column", width: int) -> "Column":
    """Quasi-identifier generalization: numeric values band into
    half-open ranges of `width` ("0-9", "10-19", ...) — the coarsening
    half of the k-anonymity toolkit (k_anonymize suppresses or masks;
    generalization keeps rows by making groups bigger). Pure Column
    arithmetic, usable inside any groupBy."""
    lo = F.floor(col / width) * width
    return F.concat(
        lo.cast("long").cast("string"),
        F.lit("-"),
        (lo + (width - 1)).cast("long").cast("string"),
    )


def t_closeness(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, t: float = 0.2
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007): the third leg
    of the release-readiness triad after k-anonymity and l-diversity — a
    group can be k-large and l-diverse yet still leak if its SENSITIVE
    distribution diverges from the table's (e.g. one zip code almost all
    one diagnosis). Per quasi-identifier group: the total-variation
    distance between the group's sensitive-value distribution and the
    global one (TVD = the categorical Earth-Mover's distance of the
    paper), plus whether it meets the t bound.

    Shape: one (quasi × sensitive) count aggregate, one global sensitive
    aggregate (broadcast — its grain is the sensitive domain), one group
    aggregate of |p_group − p_global| / 2. Values absent from a group
    contribute p_global/2 each; the identity TVD = Σ_present |pg − pG|/2
    + (1 − Σ_present pG)/2 folds them in WITHOUT densifying the group ×
    domain matrix — the sparse form is what survives a large sensitive
    domain at 100 TB.
    """
    cell = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("__n")
    )
    grp = cell.groupBy(*quasi_cols).agg(F.sum("__n").alias("__gn"))
    # NULL-SAFE join on the sensitive value: a NULL sensitive entry is a
    # real distribution mass point (both aggregates keep the NULL group);
    # a plain equi-join would silently drop it — an all-NULL group would
    # vanish from the audit entirely
    glob = df.groupBy(sensitive_col).agg(
        F.count(F.lit(1)).alias("__n_glob")
    ).withColumnRenamed(sensitive_col, "__sv")
    total = df.select(F.count(F.lit(1)).alias("__tot"))
    joined = (
        cell.join(grp, on=quasi_cols)
        .join(
            F.broadcast(glob),
            F.col(sensitive_col).eqNullSafe(F.col("__sv")),
        )
        .crossJoin(F.broadcast(total))
        .select(
            *quasi_cols,
            (F.col("__n") / F.col("__gn")).alias("__p_grp"),
            (F.col("__n_glob") / F.col("__tot")).alias("__p_glob"),
        )
    )
    out = joined.groupBy(*quasi_cols).agg(
        (
            F.sum(F.abs(F.col("__p_grp") - F.col("__p_glob"))) / 2.0
            + (1.0 - F.sum("__p_glob")) / 2.0
        ).alias("tvd")
    )
    return out.join(grp, on=quasi_cols).select(
        *quasi_cols,
        F.col("__gn").cast("long").alias("group_size"),
        "tvd",
        (F.col("tvd") <= t).alias("meets_t"),
    )
