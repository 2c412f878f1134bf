"""Deterministic corpus sampling: hash splits, fraction samples, group caps.

Training-data pipelines must subset corpora REPRODUCIBLY — the same document
must land in the same split on every run, on any cluster size, regardless of
partitioning (rand()/TABLESAMPLE give none of that). The standard trick is
content-hash bucketing: bucket = hash(id) mod B, split by bucket range.

Scale design: every operator here is a pure narrow projection + filter — no
shuffle, no state, trivially parallel at any corpus size; Catalyst pushes the
bucket filter straight down onto the scan's residual predicate.

Hash choice: first two hex digits of md5(id) (256 buckets) — md5 is
bit-identical in every engine (the DuckDB oracle reproduces it digit by
digit), and 256 buckets give 0.4% split-granularity, plenty for train/val
splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from presto_workload_analyzer_spark.materialize import materialize

HASH_BUCKETS = 256


def hash_bucket(id_col: Column | str) -> Column:
    """Deterministic bucket in [0, 256) from a document id: the value of
    the first two hex digits of its md5 — portable to any engine."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 2), 16, 10).cast("int")


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float] | None = None,
) -> DataFrame:
    """Assign every row a reproducible split label by hash-bucket range.

    splits maps label -> fraction (must sum to <= 1; remainder label is None,
    letting callers carve a holdout by under-allocating). Fractions are
    quantized to 1/256 — the label boundaries are bucket indices, so a row's
    split depends only on its id, never on run order or partitioning.
    """
    splits = splits or {"train": 0.90, "val": 0.05, "test": 0.05}
    if sum(splits.values()) > 1.0 + 1e-9:
        raise ValueError("split fractions must sum to <= 1")
    b = hash_bucket(id_col)
    expr: Column | None = None
    lo = 0
    for label, frac in splits.items():
        hi = lo + int(round(frac * HASH_BUCKETS))
        cond = (b >= lo) & (b < hi)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
        lo = hi
    return df.withColumn("split", expr)


def hash_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Keep a reproducible ~fraction of rows (bucket < fraction*256).

    Unlike df.sample(), re-running — or running on a different cluster —
    keeps exactly the same rows; sampling composes stably across tables
    sharing the id (sample documents and their embeddings consistently).
    """
    cutoff = int(round(fraction * HASH_BUCKETS))
    return df.filter(hash_bucket(id_col) < cutoff)


def _hierarchical_row_number(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    shard_col: Column,
    rank_alias: str,
    local_prune: Column | None = None,
    materialize_input: bool = True,
) -> DataFrame:
    """Global row_number() per group computed TWO-LEVEL, so no task ever
    sorts a whole group — the fix for rank windows whose partition key is
    low-cardinality (languages, sources): local ranks run per
    (group, shard), per-shard counts get an exclusive running offset via a
    window over AGGREGATED rows (group x shard cells, tiny) and are
    broadcast back; global rank = offset + local rank.

    Precondition: `shard_col` must be monotone w.r.t. the `order_cols`
    ordering BETWEEN shards (every row of shard s sorts before every row
    of shard s+1) — a range split of a numeric order key, or the integer
    value of a fixed-width hash prefix for hash-ordered selection. Within
    a shard the local sort restores exact order, so the global rank is
    identical to the single-window formulation for any shard granularity.

    `local_prune`: an upper bound on ranks the caller will keep (a cap).
    Rows whose LOCAL rank exceeds it are dropped before the offset join —
    sound because global rank >= local rank — bounding the join input to
    cap rows per (group, shard).
    """
    # The ranker reads its input twice (local ranks + shard counts — the
    # two exchanges carry different payloads, raw rows vs partial counts,
    # so ReusedExchange cannot dedup them). Default: materialize once
    # (the xs43/x119 lesson). `materialize_input=False` is for callers
    # whose input is a cheap scan carrying HEAVY payload columns (e.g.
    # SNM's normalized-text sort key): checkpointing corpus bytes costs
    # more than the second scan it saves — measured on x56/x65 (r15).
    rows = df.withColumn("__shard", shard_col)
    if materialize_input:
        rows = rows.transform(materialize)
    w_local = Window.partitionBy(*group_cols, "__shard").orderBy(*order_cols)
    local = rows.withColumn("__lrn", F.row_number().over(w_local))
    if local_prune is not None:
        local = local.filter(F.col("__lrn") <= local_prune)
    counts = rows.groupBy(*group_cols, "__shard").agg(
        F.count(F.lit(1)).alias("__n")
    )
    w_shard = (
        Window.partitionBy(*group_cols)
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(w_shard), F.lit(0))
    ).select(*group_cols, "__shard", "__off")
    # NULL-SAFE join: a NULL group key (or NULL order key -> NULL shard)
    # forms its own window partition in the single-window formulation, so
    # it must match its own offsets row here too — plain `on=` equality
    # would silently drop every NULL-keyed row
    lhs, rhs = local.alias("__l"), F.broadcast(offsets).alias("__r")
    cond = F.lit(True)
    for c in [*group_cols, "__shard"]:
        cond = cond & lhs[c].eqNullSafe(rhs[c])
    return (
        lhs.join(rhs, cond)
        .select(*[lhs[c] for c in local.columns], rhs["__off"])
        .withColumn(rank_alias, (F.col("__off") + F.col("__lrn")).cast("int"))
        .drop("__shard", "__lrn", "__off")
    )


def resample_to_mix(
    df: DataFrame,
    group_col: str,
    id_col: str,
    target_shares: dict[str, float],
    total: int,
) -> DataFrame:
    """Downsample to a target group mixture: at most share*total rows per
    group, chosen reproducibly (md5-of-id order within each group).

    The data-mixing step of a training pipeline — rebalance sources /
    languages / domains to a prescribed distribution. Downsample-only: a
    group with fewer rows than its quota keeps everything (the realized
    mix then under-fills that share; no row is ever duplicated). Groups
    absent from target_shares are DROPPED — the mixture is the contract.

    Deterministic given (id, shares, total): selection order is the md5 of
    the id, so reruns and different cluster layouts keep identical rows,
    consistent with every other sampler here. The rank is computed
    hierarchically (_hierarchical_row_number, sharded by the first hex
    digit of the selection md5 — a prefix block of the selection order) so
    no task ever sorts a whole group: group columns here are sources /
    languages, exactly the low-cardinality keys a single per-group window
    would funnel through one reducer at 100 TB. Local ranks above the
    group's cap are pruned before the offset join (global rank >= local
    rank), so the join carries at most cap rows per (group, shard).
    """
    if not target_shares:
        raise ValueError("target_shares must be non-empty")
    if any(s < 0 for s in target_shares.values()):
        raise ValueError("shares must be >= 0")
    caps = {g: int(round(s * total)) for g, s in target_shares.items()}
    cap_col = None
    for g, cap in caps.items():
        cap_col = (
            F.when(F.col(group_col) == g, cap)
            if cap_col is None
            else cap_col.when(F.col(group_col) == g, cap)
        )
    sel = F.md5(F.col(id_col).cast("string"))
    eligible = (
        df.withColumn("__cap", cap_col)
        .filter(F.col("__cap").isNotNull())
        .withColumn("__sel", sel)
    )
    ranked = _hierarchical_row_number(
        eligible.filter(F.col("__cap") > 0),
        [group_col],
        [F.col("__sel"), F.col(id_col)],
        F.conv(F.substring(F.col("__sel"), 1, 1), 16, 10).cast("int"),
        "__rn",
        local_prune=F.col("__cap"),
    )
    return (
        ranked.filter(F.col("__rn") <= F.col("__cap"))
        .drop("__cap", "__sel", "__rn")
    )


def stratified_cap(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    cap: int,
    shard_size: int | None = None,
) -> DataFrame:
    """Keep at most `cap` rows per group, by deterministic order_col order.

    The group-balancing primitive (cap documents per language / per domain /
    per dedup cluster). With `shard_size` (numeric order keys), the rank is
    computed hierarchically — local ranks per (group, floor(order/shard))
    range shard, offsets via a tiny aggregated window — so no task sorts a
    whole group even when group_cols are a handful of languages; local
    ranks above cap are pruned before the offset join. Without shard_size
    the single per-group window is used: only acceptable when every group
    fits one task comfortably (small/bounded groups, e.g. per dedup
    cluster), NOT for low-cardinality strata at scale.
    """
    if shard_size is not None:
        ranked = _hierarchical_row_number(
            df,
            list(group_cols),
            [F.col(order_col)],
            F.floor(F.col(order_col) / F.lit(shard_size)).cast("long"),
            "__rn",
            local_prune=F.lit(cap),
        )
        return ranked.filter(F.col("__rn") <= cap).drop("__rn")
    w = Window.partitionBy(*group_cols).orderBy(F.col(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


# DSIR feature space: the first three hex digits of md5(word), 16^3 buckets
_DSIR_FEATURES = 4096


def _dsir_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, feat, c): hashed-unigram feature counts per document.

    Words hash into 16^3 = 4096 buckets via the first three hex digits
    of their md5 — portable to any engine (the hash_bucket recipe, one
    digit wider).
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__w"),
    ).filter(F.col("__w") != "")
    feat = F.conv(F.substring(F.md5(F.col("__w")), 1, 3), 16, 10).cast("int")
    return tok.select("id", feat.alias("feat")).groupBy("id", "feat").agg(
        F.count(F.lit(1)).alias("c")
    )


def dsir_log_weights(
    source: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023,
    public paper): per-source-document log importance weight of a TARGET
    distribution over a SOURCE distribution, under hashed-unigram
    bag-of-words language models with add-one smoothing.

        log w(doc) = sum_f c_doc[f] * [log p_target(f) - log p_source(f)]

    The weight is what importance-resamples a raw crawl toward a curated
    target corpus (the published recipe for pretraining data selection);
    downstream, feed `weighted_sample` (Efraimidis-Spirakis) with
    exp(log_w / n_tokens)-style normalized weights or threshold the top
    quantile.

    100 TB posture: token explode -> (id, feat) count is the only
    corpus-grain shuffle; the feature-ratio table is at most 4096 rows
    and BROADCAST into the per-doc join, so the scoring pass is
    map-side. Nothing driver-side, no UDFs.

    Output: (id, log_w, n_tokens) — one row per source document with at
    least one token (empty/whitespace docs carry no evidence; callers
    union them back with log_w 0 if required).
    """
    # materialized (r15 plan-audit discipline): src feeds the corpus
    # totals, the per-feature counts AND the final scoring join (three
    # full hash-feature explodes un-materialized); tgt feeds two.
    # (id, feat, c) grain — the hashed-ngram count table DSIR
    # materializes by construction.
    src = _dsir_features(source, id_col, text_col).transform(materialize)
    tgt = _dsir_features(target, id_col, text_col).transform(materialize)
    s_tot = src.groupBy("feat").agg(F.sum("c").alias("cs"))
    t_tot = tgt.groupBy("feat").agg(F.sum("c").alias("ct"))
    # full outer over the feature space observed on either side; features
    # on neither side never appear in any document, so they cannot
    # contribute to a doc's sum — the smoothed ratio table stays exact
    denom = float(_DSIR_FEATURES)  # add-one smoothing: alpha * D, alpha = 1
    ratio = (
        s_tot.join(t_tot, "feat", "full_outer")
        .select(
            "feat",
            (
                F.log(F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                - F.log(F.coalesce(F.col("cs"), F.lit(0)) + 1.0)
            ).alias("__lr_unnorm"),
        )
    )
    # the normalizing constants log(T + aD) - log(S + aD) are per-corpus
    # scalars, folded in via a 1-row cross join (computed on the cluster,
    # never collected)
    totals = src.agg(F.sum("c").alias("__S")).crossJoin(
        tgt.agg(F.sum("c").alias("__T"))
    )
    ratio = ratio.crossJoin(F.broadcast(totals)).select(
        "feat",
        (
            F.col("__lr_unnorm")
            - F.log(F.col("__T") + denom)
            + F.log(F.col("__S") + denom)
        ).alias("log_ratio"),
    )
    return (
        src.join(F.broadcast(ratio), "feat")
        .groupBy("id")
        .agg(
            F.sum(F.col("c") * F.col("log_ratio")).alias("log_w"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
        .select(F.col("id").alias(id_col), F.round("log_w", 6).alias("log_w"), "n_tokens")
    )


def unimax_mix(
    per_source: DataFrame,
    source_col: str,
    tokens_col: str,
    budget: float,
    epoch_cap: float = 1.0,
) -> DataFrame:
    """UniMax language/source sampling (Chung et al. 2023, public paper,
    arXiv:2304.09151): distribute a total token budget as uniformly as
    possible across sources, but never draw more than `epoch_cap` epochs
    from any source. The paper's sequential greedy — walk sources by
    ascending size; if a source's uniform share of the REMAINING budget
    exceeds epoch_cap * its tokens, cap it and redistribute — has a
    closed form because capping is monotone in the size order:

        L_i = E * (t_i * (n - i + 1) + cum_{i-1})      (t sorted asc)

    is nondecreasing in i, and source i is capped iff L_i < B. So one
    threshold splits the sorted list: every source below it yields its
    full E*t_i, everyone above gets the SAME uniform share
    (B - E * sum(capped tokens)) / (n - n_capped), which monotonicity
    guarantees is <= E*t for every uncapped source.

    Input: a SOURCE-GRAIN table — exactly ONE row per source, token
    count >= 1 (the natural output of a groupBy(source) token
    aggregate; duplicate source rows would collide in the rank order
    and zero-token sources have no epochs to cap). The caller pays the
    one corpus-grain aggregate; this operator is pure arithmetic on
    #sources rows: rank, prefix sums and the two global reductions all
    come from windows over the SAME single-partition pass (r16 — the
    guide's share-one-exchange rule; the lint-sanctioned single-reducer
    window over pre-aggregated input). The previous broadcast
    nested-loop self-join form referenced the input three times, and a
    DataFrame referenced N times re-executes its entire upstream N
    times — for xs18 that meant the whole dedup-survivor + C4 + rollup
    chain once per reference (64-Exchange / 24-scan plan).

    Output: (source, tokens_available, capped, tokens_allocated, epochs),
    one row per source; sum(tokens_allocated) = min(B, E * total).
    """
    e = float(epoch_cap)
    b = float(budget)
    per = per_source.select(
        F.col(source_col).alias("__src"),
        F.col(tokens_col).cast("long").alias("__t"),
    )
    w_ord = Window.orderBy(F.col("__t").asc(), F.col("__src").asc())
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # rank + inclusive prefix sum in ascending (tokens, source) order —
    # same integers the (t2, src2) <= (t, src) self-join produced
    flagged = per.select(
        "__src",
        "__t",
        F.row_number().over(w_ord).alias("__rank"),
        F.sum("__t").over(w_cum).alias("__cum_le"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
    ).withColumn(
        "capped",
        F.lit(e)
        * (
            F.col("__t") * (F.col("__n") - F.col("__rank") + F.lit(1))
            + (F.col("__cum_le") - F.col("__t"))
        )
        < F.lit(b),
    )
    withtot = flagged.select(
        "__src",
        "__t",
        "__n",
        "capped",
        F.sum(F.when(F.col("capped"), F.col("__t")).otherwise(F.lit(0)))
        .over(w_all)
        .alias("__ct"),
        F.sum(F.col("capped").cast("long")).over(w_all).alias("__nc"),
    )
    share = (F.lit(b) - F.lit(e) * F.col("__ct")) / (F.col("__n") - F.col("__nc"))
    alloc = F.when(F.col("capped"), F.lit(e) * F.col("__t")).otherwise(share)
    return (
        withtot.select(
            F.col("__src").alias(source_col),
            F.col("__t").alias("tokens_available"),
            "capped",
            F.round(alloc + 1e-9, 6).alias("tokens_allocated"),
            F.round(alloc / F.col("__t") + 1e-9, 6).alias("epochs"),
        )
    )


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
    m: int = 2,
) -> DataFrame:
    """Dedup-aware sampling: keep at most `m` deterministic
    representatives per duplicate cluster (the near-dup components from
    the minhash-LSH graph), singletons pass through untouched. The
    pick order inside a cluster is the md5 hash of the id — the
    consistent-sampling trick hash_sample uses: re-runs, other engines,
    and corpus growth that doesn't touch a cluster all keep the same
    representatives (a rand() or row-order pick keeps none of that).

    `clusters` is an (id, cluster_id) membership table covering the
    docs that appear in ANY dup pair — at most ONE row per id, exactly
    connected_components' output grain (a duplicate membership row
    would duplicate that doc through the left join and inflate its
    cluster's size); rows of `df` absent from it are their own
    singleton cluster.

    Scale shape: one left join at id grain, then the pick rank runs
    HIERARCHICALLY (_hierarchical_row_number: shard = the integer value
    of the hash key's leading byte, which is monotone w.r.t. the hash
    ordering between shards, local_prune = m) — so a viral mega-family
    never funnels through one sorting task: the largest per-task sort is
    family/256, and pruned local ranks bound the offset join to m rows
    per (cluster, shard). Cluster sizes come from a cluster-grain count
    joined back to the <= m kept rows. Output: (id, cluster_id,
    cluster_size, pick_rank) for the kept rows only — identical rows to
    the single-window formulation (the precondition holds exactly).
    """
    ids = df.select(F.col(id_col).alias("__id"))
    cl = clusters.select(
        F.col("id").alias("__id"), F.col("cluster_id").alias("__cl")
    )
    full = ids.join(cl, "__id", "left").select(
        "__id", F.coalesce("__cl", "__id").alias("__cl")
    )
    key = F.md5(F.col("__id").cast("string"))
    shard = F.conv(F.substring(key, 1, 2), 16, 10).cast("int")
    full = full.withColumn("__k", key)
    ranked = _hierarchical_row_number(
        full,
        ["__cl"],
        [F.col("__k").asc(), F.col("__id").asc()],
        shard_col=shard,
        rank_alias="pick_rank",
        local_prune=F.lit(m),
    ).filter(F.col("pick_rank") <= m)
    sizes = full.groupBy("__cl").agg(F.count(F.lit(1)).alias("__sz"))
    return (
        ranked.join(sizes, "__cl")
        .select(
            F.col("__id").alias(id_col),
            F.col("__cl").alias("cluster_id"),
            F.col("__sz").cast("long").alias("cluster_size"),
            F.col("pick_rank").cast("long").alias("pick_rank"),
        )
    )


def temperature_mix(
    per_source: DataFrame,
    source_col: str,
    tokens_col: str,
    budget: float,
    temperature: float = 3.0,
) -> DataFrame:
    """Temperature-based source sampling — the standard pre-UniMax mixing
    strategy (multilingual pretraining recipes sample language l with
    p_l ∝ n_l^(1/T)): T=1 is proportional-to-size, larger T flattens
    toward uniform, boosting low-resource sources at the cost of
    repeating them (no epoch cap — that failure mode is exactly what
    `unimax_mix` fixes; ship both and let the mixing decision compare).

    Input/output grain matches unimax_mix: a source-grain token table
    (one row per source, tokens >= 1 — a zero-token source has no
    defined epochs) in, (source, tokens_available, weight,
    tokens_allocated, epochs) out. The normalizer sum(t^(1/T)) is a
    window over the same single-partition pass (r16 — previously a
    1-row cross join whose second reference to the input re-executed
    the caller's entire upstream; xs27 fed this mixer the full
    decontaminate + gopher + C4 curation chain, so the chain ran once
    per reference). Everything is arithmetic on #sources rows.
    """
    b = float(budget)
    inv_t = 1.0 / float(temperature)
    per = per_source.select(
        F.col(source_col).alias("__src"),
        F.col(tokens_col).cast("long").alias("__t"),
    ).withColumn("__pw", F.pow(F.col("__t"), F.lit(inv_t)))
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = F.col("__pw") / F.col("__z")
    return (
        per.withColumn("__z", F.sum("__pw").over(w_all))
        .select(
            F.col("__src").alias(source_col),
            F.col("__t").alias("tokens_available"),
            F.round(w + 1e-9, 6).alias("weight"),
            F.round(F.lit(b) * w + 1e-9, 6).alias("tokens_allocated"),
            F.round(F.lit(b) * w / F.col("__t") + 1e-9, 6).alias("epochs"),
        )
    )


def unimax_allocations_py(
    sizes: dict[str, int], budget: float, epoch_cap: float = 1.0
) -> dict[str, float]:
    """Driver-side twin of `unimax_mix`'s closed form (the pyunits
    pattern: a pure-Python re-derivation so property tests can pit the
    FORMULA against the paper's sequential greedy over thousands of
    random inputs without spinning Spark; also handy for planning a mix
    over a handful of already-known source totals).

    Same contract: source i (ascending (tokens, name) order) is capped
    iff E * (t_i * (n - i + 1) + cum_{i-1}) < B; capped sources yield
    E * t_i, the rest split the remaining budget evenly.
    """
    e, b = float(epoch_cap), float(budget)
    order = sorted(sizes.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(order)
    out: dict[str, float] = {}
    cum = 0
    capped_tokens, n_capped = 0, 0
    for i, (src, t) in enumerate(order, start=1):
        if e * (t * (n - i + 1) + cum) < b:
            out[src] = e * t
            capped_tokens += t
            n_capped += 1
        cum += t
    if n_capped < n:
        share = (b - e * capped_tokens) / (n - n_capped)
        for src, t in order:
            if src not in out:
                out[src] = share
    return out
