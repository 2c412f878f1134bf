"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design:
  * everything is shuffle-on-key DataFrame composition — no driver loops,
    no collect; candidate generation is LSH-band equi-join (the classic
    shingle -> minhash -> band -> bucket-join pipeline), so the quadratic
    all-pairs comparison only ever happens within a bucket;
  * two hash modes: 'xxhash64' (JVM xxhash64, the 100 TB path) and 'md5'
    (hex-string min; bit-identical in DuckDB, used by the correctness
    oracle). Lexicographic MIN over fixed-width lowercase hex == numeric
    min, which keeps MinHash well-defined in both engines;
  * skewed buckets (a viral shingle) are bounded by banding; AQE skew-join
    handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from presto_workload_analyzer_spark.materialize import materialize


def exact_dedup_groups(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicate group.

    Returns (key_cols..., canonical_id = min id, n_copies). Keeping the
    minimum id is the deterministic survivor rule.
    """
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies")
    )


def drop_exact_duplicates(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep only the min-id row of each duplicate group (distributed).

    groupBy + left-semi, NOT a window partitioned by the key (round-7
    skew fix): a window must co-locate every row of a group in one task,
    so a mega-duplicate family (one text copied 10M times) funnels 10M
    full documents through a single reducer. The survivor aggregate
    map-side combines instead — each partition forwards ONE (key, min id)
    partial per distinct key it holds, so the hot group's reducer sees at
    most #partitions rows — and the semi-join then shuffles by
    (key, id), which is uniform by construction (ids vary within the hot
    key). Exact semantics, no digests, no collision caveats; same min-id
    survivor rule. The join is null-safe on every column so a group
    whose ids are all NULL still keeps its one survivor row (a plain
    `on id` equi-join would silently drop it); if the min id is tied
    (non-unique ids), all tied rows survive — callers wanting exactly
    one row per group need a unique id.
    """
    left = df.alias("__ded_l")
    survivors = (
        df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col)).alias("__ded_s")
    )
    cond = None
    for c in [*key_cols, id_col]:
        term = F.col(f"__ded_l.{c}").eqNullSafe(F.col(f"__ded_s.{c}"))
        cond = term if cond is None else cond & term
    return left.join(survivors, on=cond, how="left_semi")


def gram_array(text_col: str | Column, k: int) -> Column:
    """Array of word k-grams of the trimmed, whitespace-split text, in
    position order (gram i covers tokens [i, i+k)).

    shift-and-zip: gram i = toks[i..i+k-1] via folding k shifted slices
    with zip_with — O(k*len) per doc (per-position slice-in-transform is
    O(len^2)); the when-guard keeps docs shorter than k words at zero
    grams (and keeps the negative-length slices unevaluated). Shared by
    shingles() (set semantics) and strip_duplicate_spans() (positioned).
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return gram_array_of(F.split(F.trim(col), r"\s+"), k)


def gram_array_of(toks: Column, k: int) -> Column:
    """gram_array over an ALREADY-TOKENIZED array column — the r16 path
    for callers that hold a `__toks` projection (the LM scorers built
    gram_array(array_join(__toks, ' '), 2), paying a join + k+1 re-splits
    per row for tokens that whitespace-splitting guarantees contain no
    whitespace, so join-then-resplit is the identity). A NULL array
    yields an empty gram array; gram_array routes through here, so NULL
    text yields the same empty array on the string path."""
    m = F.size(toks) - (k - 1)
    grams = F.slice(toks, 1, m)
    for j in range(1, k):
        grams = F.zip_with(
            grams, F.slice(toks, 1 + j, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(F.size(toks) >= k, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """Word k-shingles per document: (id, shingle), distinct by default.

    Tokens come from whitespace splitting of the trimmed text; shingle i is
    words[i..i+k-1] joined by a single space. Pure Column expressions — no
    UDF (see gram_array).

    distinct=False skips the set-dedup shuffle; use it when the consumer is
    min/max-idempotent (MinHash: min(hash) over a multiset == over its set),
    NOT for set-cardinality math like Jaccard.
    """
    out = df.select(
        F.col(id_col).alias("id"), F.explode(gram_array(text_col, k)).alias("shingle")
    )
    return out.distinct() if distinct else out


def _hash_expr(col: Column, seed: int, mode: str) -> Column:
    if mode == "md5":
        # fixed-width lowercase hex; MIN is lexicographic == numeric
        return F.md5(F.concat(col, F.lit(f"#{seed}")))
    if mode == "xxhash64":
        return F.xxhash64(col, F.lit(seed)).cast("string")
    raise ValueError(f"unknown hash mode {mode!r}")


def minhash_signatures(
    shingle_df: DataFrame, num_hashes: int = 16, mode: str = "md5"
) -> DataFrame:
    """(id, shingle) -> (id, sig_0..sig_{H-1}): per-doc MinHash signature.

    One shuffle (groupBy id) computes all H component minima as parallel
    aggregates — map-side partial min makes this a light shuffle even at
    billions of shingles.

    md5 mode derives FOUR 32-bit hash components (8-hex-char slices) per md5
    call — md5 is the dominant cost of the pipeline and its 128 output bits
    are independent, so slicing cuts the hash work 4x (measured ~2x on the
    whole x02 query). Lexicographic min over fixed-width lowercase hex
    slices == numeric min, and the oracle reproduces the same substr.
    """
    if mode == "md5":
        n_full = (num_hashes + 3) // 4
        proj = shingle_df.select(
            "id",
            *[
                F.md5(F.concat(F.col("shingle"), F.lit(f"#{g}"))).alias(f"__h{g}")
                for g in range(n_full)
            ],
        )
        aggs = [
            F.min(F.substring(F.col(f"__h{i // 4}"), 1 + 8 * (i % 4), 8)).alias(f"sig_{i}")
            for i in range(num_hashes)
        ]
        return proj.groupBy("id").agg(*aggs)
    aggs = [
        F.min(_hash_expr(F.col("shingle"), i, mode)).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return shingle_df.groupBy("id").agg(*aggs)


def lsh_bands(sig_df: DataFrame, bands: int, rows_per_band: int, mode: str = "md5") -> DataFrame:
    """Signature -> (id, band, band_hash): hash rows_per_band components per band.

    One pass: all band structs are built per row and exploded. (A union of
    per-band selects would make Catalyst re-evaluate the whole upstream
    shingle->signature lineage once per band — measured 4x the work for
    4 bands; same trap as the pie kernel's union, see BASELINE.md.)
    """
    structs = []
    for b in range(bands):
        cols = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_hash = F.md5(F.concat_ws("|", *cols)) if mode == "md5" else F.xxhash64(*cols).cast("string")
        structs.append(F.struct(F.lit(b).alias("band"), band_hash.alias("band_hash")))
    return sig_df.select(F.col("id"), F.explode(F.array(*structs)).alias("__bb")).select(
        "id", F.col("__bb.band").alias("band"), F.col("__bb.band_hash").alias("band_hash")
    )


def lsh_candidate_pairs(
    band_df: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Bucket self-join -> distinct candidate pairs (id_a < id_b).

    The equi-join on (band, band_hash) is the whole trick: only same-bucket
    docs ever meet, so cost is sum of bucket^2, not corpus^2.

    `max_bucket_size` is the 100 TB mega-cluster guard: sum-of-bucket^2 is
    itself quadratic in the LARGEST bucket, and a viral template duplicated
    n times puts all n copies in the same bucket of every band — 10M copies
    would mean 10^14 candidate pairs from one bucket. With the guard set,
    buckets larger than the cap emit a STAR instead of the all-pairs join:
    every member links to the bucket's min id (n-1 edges, bucket-min via a
    map-side-combinable aggregate + one equi-join — no per-bucket sort, no
    single-task funnel). The star preserves exactly what downstream dedup
    needs — CONNECTIVITY (connected_components labels are identical, see
    tests/test_skew.py) — while capping edge output at sum(small^2) +
    sum_oversized(n-1). It is NOT the literal LSH pair enumeration: pair
    SCORING consumers (x93 calibration, verify-then-filter pipelines) see
    only the star pairs for oversized buckets, which is the documented
    production trade — a bucket that large is one near-duplicate family,
    and scoring all n^2 internal pairs answers no question the star does
    not. Default None keeps the exact enumeration (the oracle-checked
    mode); production at scale sets a cap around 10_000.
    """
    # materialize the band table once: the self-join reads it twice and
    # the guard path a third time (bucket counts) — un-materialized, each
    # reference re-runs the shingle+minhash pipeline (r15 plan-audit
    # discipline; bands-per-doc grain, the LSH index any deployment
    # materializes)
    band_df = band_df.transform(materialize)
    a = band_df.select(
        F.col("band"), F.col("band_hash"), F.col("id").alias("id_a")
    )
    b = band_df.select(
        F.col("band"), F.col("band_hash"), F.col("id").alias("id_b")
    )
    if max_bucket_size is None:
        joined = a.join(b, on=["band", "band_hash"])
    else:
        # `big` is the broadcast side: oversized buckets are by definition
        # rare (each holds > cap members of a finite corpus), while the
        # small-bucket key set is bucket-count-sized — never broadcast it.
        big = (
            band_df.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("__n"), F.min("id").alias("__min_id"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band", "band_hash", "__min_id")
        )
        # Anti-join BOTH sides: pruning only `a` would still shuffle the
        # mega bucket's `b` rows into a single small-path join partition
        # (sorted there to match zero rows) — the exact funnel the guard
        # exists to remove.
        big_keys = F.broadcast(big.select("band", "band_hash"))
        joined = (
            a.join(big_keys, on=["band", "band_hash"], how="left_anti")
            .join(b.join(big_keys, on=["band", "band_hash"], how="left_anti"),
                  on=["band", "band_hash"])
            .unionByName(
                # star: bucket-min -> every other member, n-1 edges
                b.join(
                    F.broadcast(big.withColumnRenamed("__min_id", "id_a")),
                    on=["band", "band_hash"],
                )
                .filter(F.col("id_b") != F.col("id_a"))
                .select("band", "band_hash", "id_a", "id_b")
            )
        )
    return (
        joined
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    mode: str = "md5",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """shingle -> minhash -> band -> bucket-join, end to end.

    distinct=False on the shingle stage: the signature groupBy's min is
    idempotent over repeated shingles, so the set-dedup shuffle is pure
    overhead here (one full shuffle of the shingle corpus saved).
    `max_bucket_size` enables the mega-cluster star guard — see
    lsh_candidate_pairs for the exact semantics and the scale math.
    """
    sh = shingles(df, id_col, text_col, k, distinct=False)
    sig = minhash_signatures(sh, num_hashes=num_hashes, mode=mode)
    band_df = lsh_bands(sig, bands=bands, rows_per_band=num_hashes // bands, mode=mode)
    return lsh_candidate_pairs(band_df, max_bucket_size=max_bucket_size)


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Candidate pairs (id_a, id_b) -> (id, cluster_id): duplicate clustering.

    Near-dup candidate pairs form a graph whose connected components are the
    duplicate groups; cluster_id is the component's minimum id (deterministic
    canonical-survivor rule, same as exact_dedup_groups).

    Algorithm: iterative hash-min label propagation WITH pointer jumping —
    each round every node takes the min of its own label and its neighbors'
    labels (one equi-join + one groupBy), then shortcuts through its label's
    label (one more equi-join: labels only shrink and always point at node
    ids, so L(L(id)) <= L(id) and the substitution is always sound). The
    shortcut doubles the distance a minimum travels per round, so
    convergence is O(log diameter) rounds instead of O(diameter) — a
    sorted-neighborhood CHAIN family (the SNM blocking shape: a run of n
    near-dups linked w-neighbors-apart has diameter ~n/w) converges in
    ~log2(n) rounds where plain neighbor-min needed n and hit max_iter
    (round-7 fix; planted 60/200-node paths in tests). All shuffle-on-key,
    no driver data; `localCheckpoint` truncates lineage each round so plans
    stay flat. Raises RuntimeError if max_iter rounds don't reach a
    fixpoint — a silently half-merged clustering must never be returned.

    Only ids that appear in some pair are emitted; singleton documents never
    enter the graph (drop_near_duplicates passes them through).
    """
    # both edge directions from ONE pass over pairs (explode, not union —
    # a union would re-execute the whole upstream candidate-pair lineage,
    # e.g. the full minhash pipeline, once per branch; same trap as the pie
    # kernel's union, see BASELINE.md)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("e")
        )
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        # localCheckpoint, not persist: every iteration's join plan embeds
        # the edges subtree — persisted lineage keeps the full upstream
        # candidate-pair pipeline in each round's plan (and recomputes it
        # if the cache is evicted mid-loop); the checkpoint truncates to a
        # flat edge-grain RDD scan (r15 plan-audit fix). graph.kcore_nodes
        # checkpoints its edges the same way; graph.pagerank checkpoints
        # only its per-round ranks and persists its edge frame.
        .distinct()
        .transform(materialize)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("cluster_id").alias("dst_cluster")
                ),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("dst_cluster").alias("nbr_cluster"))
        )
        # materialized: the pointer-jump below self-joins `stepped`
        # (as `parent`), and an unmaterialized frame would inline the
        # labels-join-nbr_min subtree into BOTH sides of that join —
        # doubling the per-round plan and re-merging the intermediate
        # on each side. The frame is three id-width columns; the
        # checkpoint is cheap and keeps every round's plan flat.
        stepped = labels.join(
            nbr_min, labels["id"] == nbr_min["src"], "left"
        ).select(
            labels["id"],
            F.col("cluster_id").alias("__old"),
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("nbr_cluster"), F.col("cluster_id")),
            ).alias("cluster_id"),
        ).localCheckpoint(eager=True)
        # pointer jumping: substitute each label with its label's label.
        # Labels are always node ids and only ever shrink, so the
        # grandparent lookup is total (left join is belt-and-braces) and
        # monotone — this is what turns O(diameter) into O(log diameter).
        parent = stepped.select(
            F.col("id").alias("__pid"), F.col("cluster_id").alias("__grand")
        )
        updated = (
            stepped.join(parent, stepped["cluster_id"] == parent["__pid"], "left")
            .select(
                stepped["id"],
                F.coalesce(F.col("__grand"), stepped["cluster_id"]).alias(
                    "cluster_id"
                ),
                (
                    F.coalesce(F.col("__grand"), stepped["cluster_id"])
                    < F.col("__old")
                ).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = updated.filter(F.col("__chg")).count()
        labels = updated.drop("__chg")
        if n_changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "raise max_iter (needed rounds ~ graph diameter)"
    )


def drop_near_duplicates(
    df: DataFrame, id_col: str, pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Keep one document per near-dup component (the min-id canonical).

    `pairs` is any candidate-pair frame (minhash_lsh_pairs output, a
    thresholded ngram_jaccard, embedding_near_dup_pairs, ...). Documents in
    no pair pass through untouched — the anti-join only removes non-canonical
    component members, so the pair frame being sparse is the cheap case.
    """
    cc = connected_components(pairs, max_iter=max_iter)
    losers = cc.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def ngram_jaccard(
    shingle_df: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard similarity over shingle sets.

    With `pairs` given, verifies only those candidates (the LSH flow) with
    a PAIR-DRIVEN join — candidates pick up id_a's shingles, then equi-join
    on (id_b, shingle) — so cost is |pairs| x shingles-per-doc, never the
    full shingle self-join (the semi-join-after formulation still paid the
    corpus-wide a x b blow-up before pruning). Without `pairs`, scores
    every pair sharing >= 1 shingle (exact but quadratic in bucket size —
    fine after blocking, unusable raw at 100 TB).
    Output: (id_a, id_b, jaccard).
    """
    # materialize the shingle table once: three consumers (sizes + both
    # join sides) would otherwise each re-execute the upstream
    # tokenize+shingle explode (r15 plan-audit discipline); this is the
    # shingle table any dedup pipeline materializes at scale
    shingle_df = shingle_df.transform(materialize)
    sizes = shingle_df.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = shingle_df.select(F.col("id").alias("id_a"), "shingle")
    b = shingle_df.select(F.col("id").alias("id_b"), "shingle")
    if pairs is not None:
        inter = (
            # distinct: duplicate candidate rows (raw per-band collisions)
            # would each contribute a full copy of the intersection and
            # inflate the intersection count past the true set size
            pairs.select("id_a", "id_b")
            .distinct()
            .join(a, on="id_a")
            .join(b, on=["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        inter = (
            a.join(b, on="shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def shingle_containment(shingle_df: DataFrame) -> DataFrame:
    """Containment similarity |A∩B| / min(|A|, |B|) over shingle sets.

    The signal Jaccard misses: a short document quoted verbatim inside a
    long one has tiny Jaccard (union is dominated by the long doc) but
    containment ~1. Standard quote/subset detection for training-corpus
    dedup (the "substring dedup" family, approximated at shingle
    granularity so it stays a pure shuffle-on-key join — no suffix arrays).

    Scores every pair sharing >= 1 shingle (quadratic per shingle bucket —
    blocked upstream at 100 TB, same contract as ngram_jaccard).
    Output: (id_a, id_b, containment).
    """
    # materialize the shingle table once: three consumers (sizes + both
    # join sides) would otherwise each re-execute the upstream
    # tokenize+shingle explode (r15 plan-audit discipline); this is the
    # shingle table any dedup pipeline materializes at scale
    shingle_df = shingle_df.transform(materialize)
    sizes = shingle_df.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = shingle_df.select(F.col("id").alias("id_a"), "shingle")
    b = shingle_df.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / F.least(F.col("n_a"), F.col("n_b"))
            ).alias("containment"),
        )
    )


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing >= 1 word k-gram with
    any benchmark document, with the count of distinct shared k-grams.

    The standard eval-set leakage check run before training: any document
    that textually overlaps the benchmark at k-gram granularity is flagged
    (and usually dropped — anti-join the output's ids). Pure shuffle-on-
    shingle equi-join; the benchmark side is tiny relative to the corpus,
    so at 100 TB its distinct shingle set broadcasts and the corpus never
    shuffles at all. Output: (id, n_hits).
    """
    c = shingles(corpus, id_col, text_col, k)
    b = shingles(benchmark, id_col, text_col, k).select("shingle").distinct()
    return (
        c.join(F.broadcast(b), on="shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Drop every corpus document flagged by contamination_hits."""
    hits = contamination_hits(corpus, benchmark, id_col, text_col, k).select(
        F.col("id").alias(id_col)
    )
    return corpus.join(hits, on=id_col, how="left_anti")


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over word unigrams (md5-derived bits, oracle-portable).

    Each token contributes +-1 to 16 bit positions taken from the first 4
    hex digits of md5(token); the packed majority sign vector is the
    fingerprint. Near-duplicate docs differ in few bits (compare by
    popcount of xor downstream). 64-bit + xxhash64 is the scale variant —
    same shape, different width.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    )
    h = F.md5(F.col("tok"))
    # hex digit d = conv(substr(h, 1+j/4, 1)); bit = (d >> (3 - j%4)) & 1
    # r16 hoist: the 16 bit aggregates read the PROJECTED "h" column —
    # closing over the raw md5 expression instead re-hashed every token
    # 16x inside the aggregate's input projection.
    hcol = F.col("h")
    bit_aggs = []
    for j in range(16):
        digit = F.conv(F.substring(hcol, 1 + j // 4, 1), 16, 10).cast("int")
        bit = F.floor(digit / (2 ** (3 - j % 4))).cast("int") % 2
        contrib = F.when(bit == 1, 1).otherwise(-1)
        bit_aggs.append(F.sum(contrib).alias(f"b{j}"))
    sums = toks.withColumn("h", h).groupBy("id").agg(*bit_aggs)
    packed = None
    for j in range(16):
        term = F.when(F.col(f"b{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return sums.select("id", packed.cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: banded blocking + exact hamming verify.

    The pigeonhole trick that makes simhash usable at scale: split the
    16-bit fingerprint into `bands` nibble groups — two fingerprints
    within `max_hamming < bands` bits MUST agree on at least one whole
    band, so the candidate set is a band equi-join (never all-pairs), and
    the exact hamming distance (xor + bit_count) filters candidates.
    Output: (id_a, id_b, hamming). 64-bit/xxhash64 fingerprints scale the
    same way with 8-bit bands.

    `max_bucket_size` is the mega-bucket backstop (same star construction
    and same honest trade as blocked_embedding_near_dup_pairs: the exact
    hamming verify still applies to every emitted pair, identical
    fingerprints keep full connectivity through the bucket root, and a
    borderline member that clears max_hamming only against a non-root
    neighbor loses that pair). Default None = exact enumeration.
    """
    if max_hamming >= bands:
        raise ValueError("pigeonhole needs max_hamming < bands")
    sh = simhash16(df, id_col, text_col)
    width = 16 // bands
    mask = (1 << width) - 1
    banded = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", b * width).bitwiseAND(mask).alias("val"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.val").alias("val"))
    a = banded.select(F.col("band"), F.col("val"), F.col("id").alias("id_a"), F.col("simhash").alias("ha"))
    b = banded.select(F.col("band"), F.col("val"), F.col("id").alias("id_b"), F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    if max_bucket_size is None:
        joined = a.join(b, on=["band", "val"]).filter(F.col("id_a") < F.col("id_b"))
    else:
        big = (
            banded.groupBy("band", "val")
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.min_by(F.struct("id", "simhash"), "id").alias("__root"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band", "val",
                    F.col("__root.id").alias("id_a"),
                    F.col("__root.simhash").alias("ha"))
        )
        # Prune BOTH sides of the small-bucket join: an unfiltered `b`
        # would still shuffle the mega bucket's rows into one join
        # partition (to match nothing), defeating the guard.
        big_keys = F.broadcast(big.select("band", "val"))
        small_a = a.join(big_keys, on=["band", "val"], how="left_anti")
        small_b = b.join(big_keys, on=["band", "val"], how="left_anti")
        joined = (
            small_a.join(small_b, on=["band", "val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .unionByName(
                # star: bucket-root fingerprint vs every other member
                b.join(F.broadcast(big), on=["band", "val"])
                .filter(F.col("id_b") > F.col("id_a"))
                .select("band", "val", "id_a", "ha", "id_b", "hb")
            )
        )
    return (
        joined
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_dup_pairs(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9
) -> DataFrame:
    """All pairs with cosine similarity above threshold (exact, blocked upstream).

    Inputs are expected pre-blocked (LSH buckets / IVF cells / partition
    stripes) — raw all-pairs is quadratic. Output: (id_a, id_b, cosine).
    """
    from presto_workload_analyzer_spark.extensions.similarity import cosine_expr

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a", "id_b", cosine_expr(F.col("va"), F.col("vb")).alias("cosine")
    ).filter(F.col("cosine") > threshold)


def incremental_dedup(
    corpus: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    mode: str = "md5",
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the production shape
    of continuous ingest: every arriving shard is checked against what the
    pipeline already kept, and only the corpus-vs-new comparison is paid
    (never corpus-vs-corpus, which x01/x02 cover for the initial build).

    Two stages, both anti-joins:
      1. exact — new rows whose full text already exists in the corpus.
         The anti-join runs on (xxhash64(text), length(text)) DIGESTS, not
         the raw text: at 100 TB the corpus-side distinct would otherwise
         shuffle every document body once, while the digest pair is 16
         bytes/row (~100x narrower for typical documents) with a false-drop
         probability per new doc of |corpus| / 2^64 (further cut by the
         length guard) — negligible against the near-dup stage's own
         banding error. NULL texts never match (left_anti NULL semantics
         preserved via an isNotNull guard on the digest).
      2. near — new rows whose MinHash band-hash collides with any corpus
         band (same shingle->signature->band pipeline as minhash_lsh_pairs;
         the join is new-bands x corpus-bands, so cost scales with the NEW
         batch's bucket overlap, and the corpus side is a reusable
         signature table a real deployment materializes once and appends
         to).

    Returns the kept subset of `new` (original columns).
    """
    digest = lambda c: F.when(  # noqa: E731
        c.isNotNull(), F.struct(F.xxhash64(c), F.length(c))
    )
    exact_keys = corpus.select(
        digest(F.col(text_col)).alias("__text_digest")
    ).distinct()
    non_exact = (
        new.withColumn("__text_digest", digest(F.col(text_col)))
        .join(exact_keys, on="__text_digest", how="left_anti")
        .drop("__text_digest")
        # materialized: read twice (its own band pipeline + the final
        # anti-join) — without this the exact-stage anti-join against the
        # corpus digest set executes twice (r15 plan-audit discipline);
        # new-batch grain, the small side of continuous ingest
        .transform(materialize)
    )

    rows_per_band = num_hashes // bands

    def _bands(df: DataFrame) -> DataFrame:
        sh = shingles(df, id_col, text_col, k=k, distinct=False)
        sig = minhash_signatures(sh, num_hashes=num_hashes, mode=mode)
        return lsh_bands(sig, bands=bands, rows_per_band=rows_per_band, mode=mode)

    near_hit_ids = (
        _bands(non_exact)
        .withColumnRenamed("id", "__new_id")
        .join(_bands(corpus).select("band", "band_hash"), on=["band", "band_hash"])
        .select(F.col("__new_id").alias(id_col))
        .distinct()
    )
    return non_exact.join(near_hit_ids, on=id_col, how="left_anti")


def blocked_embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_planes: int = 4,
    n_bands: int = 2,
    n_dims: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """embedding_near_dup_pairs with the blocking built in — the 100 TB path.

    Candidate generation is random-hyperplane LSH (the approxSimilarityJoin
    shape of ml.feature BucketedRandomProjection/MinHashLSH, SURVEY §7
    phase 8b): each vector gets `n_bands` bucket keys of `n_planes` sign
    bits each, candidates are same-(band, bucket) equi-join pairs — the
    quadratic comparison only ever happens within a bucket, never across
    the corpus. The exact cosine then verifies each candidate, so there are
    no false positives; recall is 1 - (1 - p^planes)^bands with
    p = 1 - theta/pi per plane (raise n_bands for recall, n_planes for
    bucket selectivity). Output: (id_a, id_b, cosine), distinct.

    `max_bucket_size` is the mega-bucket backstop (the lsh_candidate_pairs
    guard applied to vector space): a default/zero embedding stamped on
    millions of rows puts them all in one bucket of every band. Oversized
    buckets emit bucket-min star candidates (n-1, broadcast of the rare
    oversized keys) instead of the n^2 self-join; the exact-cosine verify
    still applies to every emitted pair, so precision is untouched and an
    exact-duplicate vector family keeps full connectivity (all cosines 1).
    The honest trade: a BORDERLINE member whose cosine clears the
    threshold against a neighbor but not against the bucket root loses
    that pair — the primary control for bucket size remains raising
    n_planes as log2(n / target bucket rows); the cap is the
    backstop against the pathological spike. Default None = exact.
    """
    from presto_workload_analyzer_spark.extensions.similarity import (
        cosine_expr,
        hyperplane_bucket_expr,
    )

    if n_dims is None:
        # one metadata probe shared by every band
        row = emb.select(vec_col).head()
        if row is None:
            raise ValueError("blocked_embedding_near_dup_pairs: empty input")
        n_dims = len(row[0])
    # every band's bucket in ONE projection over the scan, then explode —
    # a union of per-band selects would re-run the scan + plane projections
    # once per band (the lsh_bands union trap, ~bands-fold cost)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                hyperplane_bucket_expr(
                    F.col(vec_col),
                    n_planes=n_planes,
                    n_dims=n_dims,
                    plane_offset=band * n_planes,
                ).alias("bucket"),
            )
            for band in range(n_bands)
        ]
    )
    bucketed = emb.select(
        F.col(id_col).alias("id"), F.explode(band_structs).alias("__bb")
    ).select("id", F.col("__bb.band").alias("band"), F.col("__bb.bucket").alias("bucket"))

    if max_bucket_size is None:
        cand = (
            bucketed.alias("l")
            .join(
                bucketed.alias("r"),
                on=[
                    F.col("l.band") == F.col("r.band"),
                    F.col("l.bucket") == F.col("r.bucket"),
                    F.col("l.id") < F.col("r.id"),
                ],
            )
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct()
        )
    else:
        big = (
            bucketed.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"), F.min("id").alias("__min_id"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band", "bucket", "__min_id")
        )
        small_side = bucketed.join(
            F.broadcast(big.select("band", "bucket")),
            on=["band", "bucket"], how="left_anti",
        )
        cand = (
            small_side.alias("l")
            .join(
                small_side.alias("r"),
                on=[
                    F.col("l.band") == F.col("r.band"),
                    F.col("l.bucket") == F.col("r.bucket"),
                    F.col("l.id") < F.col("r.id"),
                ],
            )
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .unionByName(
                bucketed.join(F.broadcast(big), on=["band", "bucket"])
                .filter(F.col("id") > F.col("__min_id"))
                .select(F.col("__min_id").alias("id_a"), F.col("id").alias("id_b"))
            )
            .distinct()
        )
    vecs = emb.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    return (
        cand.join(vecs.withColumnsRenamed({"__id": "id_a", "__v": "va"}), "id_a")
        .join(vecs.withColumnsRenamed({"__id": "id_b", "__v": "vb"}), "id_b")
        .select("id_a", "id_b", cosine_expr(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") > threshold)
    )


def strip_duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Span-level exact substring dedup: remove every token covered by a
    word k-gram that occurs MORE THAN ONCE in the corpus (in another
    document or repeated within the same one) — the sequence-level
    dedup that document-grain operators (x01/x02) cannot express: a
    boilerplate paragraph pasted into a thousand otherwise-unique pages
    survives document dedup but is stripped here.

    Stages, all shuffle-honest:
      1. positioned k-gram instances via posexplode of the shift-zip
         shingle array (O(k*len)/doc, no UDF);
      2. instance counts on the GRAM grain (map-side combinable — the one
         corpus-sized shuffle, same shape as every shingle pipeline);
      3. duplicated instances expand to covered token positions
         (explode(sequence(pos, pos+k-1)), ≤ k rows per dup instance);
      4. per-doc covered-position set (collect_set bounded by doc length),
         broadcast-joined... no: LEFT-joined back on id (docs with no
         covered spans keep everything);
      5. tokens are rebuilt with the two-arg filter lambda (value, index)
         — pure Column expression, the index never leaves the JVM.

    Output: (id, n_tokens, n_removed, clean_text). Tokens are whitespace
    words; reconstruction joins with single spaces (original inter-token
    whitespace is not preserved — standard for token-level pipelines).
    """
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    inst = base.select(
        "id", F.posexplode(gram_array("__text", k)).alias("pos", "gram")
    )

    counts = inst.groupBy("gram").agg(F.count(F.lit(1)).alias("__n"))
    dup_inst = inst.join(
        counts.filter(F.col("__n") >= 2).select("gram"), on="gram"
    )
    covered = (
        dup_inst.select(
            "id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("tp")
        )
        .groupBy("id")
        .agg(F.collect_set("tp").alias("__covered"))
    )
    joined = base.join(covered, on="id", how="left").withColumn(
        "__covered",
        F.coalesce(F.col("__covered"), F.array().cast("array<int>")),
    )
    # r16 hoist: __toks2 is referenced 3x and __kept 2x below — as raw
    # split()/filter() expressions each reference re-derives the array
    # per row; explicit columns make them attribute reads (CollapseProject
    # keeps multi-referenced non-trivial aliases).
    staged = joined.withColumn(
        "__toks2", F.split(F.trim(F.col("__text")), r"\s+")
    ).withColumn(
        "__kept",
        F.filter(
            F.col("__toks2"),
            lambda t, i: ~F.array_contains(F.col("__covered"), i.cast("int")),
        ),
    )
    return staged.select(
        "id",
        F.size("__toks2").cast("long").alias("n_tokens"),
        (F.size("__toks2") - F.size("__kept")).cast("long").alias("n_removed"),
        F.array_join("__kept", " ").alias("clean_text"),
    )


def bloom_positions(text_col: str, m_bits: int, k_hashes: int, mode: str = "xxhash64"):
    """The k bit positions of a value, as an array Column. xxhash64 is the
    production mode (JVM codegen); md5 mode derives positions from 15 hex
    digits per hash index — bit-identical in any engine that can md5, so
    an oracle can replay the exact bitmap (the engine-wide dual-mode
    convention of minhash/_hash_expr)."""
    if mode == "xxhash64":
        return F.array(
            *[
                F.pmod(F.xxhash64(F.lit(i), F.col(text_col)), F.lit(m_bits))
                for i in range(k_hashes)
            ]
        )
    if mode == "md5":
        return F.array(
            *[
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{i}|"), F.col(text_col))), 1, 15
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(m_bits),
                )
                for i in range(k_hashes)
            ]
        )
    raise ValueError(f"unknown mode {mode!r}")


def bloom_bitmap(df: DataFrame, text_col: str, m_bits: int, k_hashes: int) -> DataFrame:
    """Fold a column's values into an m-bit Bloom bitmap: (word_idx, bits)
    with at most m/64 rows, each row one long of the bitmap.

    Each non-null value sets k bit positions pos_i = hash(i, value) mod
    m (bloom_positions, xxhash64 mode);
    positions become (word_idx = pos / 64, mask = 1 << (pos % 64)) rows
    and bit_or-aggregate per word. Everything is JVM Column expressions
    inside whole-stage codegen; the aggregation's map-side partial bit_or
    means the shuffle carries at most m/64 rows PER TASK no matter how many
    input rows feed it, and the result is ~m/8 bytes total (128 KiB at
    m=2^20) regardless of corpus size — the definition of broadcastable.
    """
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    pos = F.explode(bloom_positions(text_col, m_bits, k_hashes)).alias("__pos")
    return (
        df.where(F.col(text_col).isNotNull())
        .select(pos)
        .select(
            (F.col("__pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(1L, cast(__pos % 64 AS int))").alias("__mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__mask").alias("bits"))
    )


def bloom_incremental_exact_dedup(
    corpus: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """Exact new-vs-corpus dedup with a broadcast Bloom-filter prefilter —
    the cheap front half of continuous-ingest dedup (incremental_dedup's
    exact stage, reference analyzer/extract.py:96-104 file-exists dedup
    generalized to content identity), restructured so the per-batch cost
    no longer scales with the corpus.

    Three stages:
      1. BUILD (once per corpus version, reusable across batches): one scan
         folds every text into the m-bit bitmap of bloom_bitmap(). The
         bitmap is ~m/8 bytes independent of corpus size.
      2. PREFILTER: the bitmap broadcasts; each new row probes its k
         positions through a broadcast equi-join on word_idx and is a
         duplicate CANDIDATE iff all k bits are set. Any unset bit means
         DEFINITELY new (Bloom filters have no false negatives), and those
         rows skip stage 3 entirely.
      3. VERIFY: only candidates (true duplicates + false positives at rate
         ~(1 - e^{-k n/m})^k) pay the exact anti-join against the corpus
         digests ((xxhash64(text), length(text)) — same 16-byte digest
         trick and guarantee as incremental_dedup). With m sized ~10 bits
         per corpus doc the anti-join input is approximately the true-dup
         fraction of the batch, not the whole batch.

    Output: the kept subset of `new` (original columns; NULL-text rows are
    always kept — NULL matches nothing, mirroring left_anti semantics).
    Result is EXACT up to xxhash64 digest collisions: stage 3 removes every
    false positive, stage 2 cannot create false negatives, so the output
    equals a plain content anti-join — which is what the driver oracle
    checks. Size m to the corpus (bits-per-element ~ 1.44 log2(1/fpr));
    an undersized m only costs stage-3 work, never correctness.
    """
    words = bloom_bitmap(corpus, text_col, m_bits, k_hashes)

    probes = (
        new.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__nid"),
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.lit(i), F.col(text_col)), F.lit(m_bits))
                        for i in range(k_hashes)
                    ]
                )
            ).alias("__pos"),
        )
        .select(
            "__nid",
            (F.col("__pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(1L, cast(__pos % 64 AS int))").alias("__mask"),
        )
        .join(F.broadcast(words), on="word_idx", how="left")
        .groupBy("__nid")
        .agg(
            F.min(
                (
                    F.col("bits").isNotNull()
                    & (F.col("bits").bitwiseAND(F.col("__mask")) != 0)
                ).cast("int")
            ).alias("__all_set")
        )
    )
    candidate_ids = probes.where(F.col("__all_set") == 1).select(
        F.col("__nid").alias(id_col)
    )

    digest = lambda c: F.when(  # noqa: E731
        c.isNotNull(), F.struct(F.xxhash64(c), F.length(c))
    )
    corpus_keys = corpus.select(
        digest(F.col(text_col)).alias("__text_digest")
    ).distinct()
    verified = (
        new.join(candidate_ids, on=id_col, how="left_semi")
        .withColumn("__text_digest", digest(F.col(text_col)))
        .join(corpus_keys, on="__text_digest", how="left_anti")
        .drop("__text_digest")
    )
    definitely_new = new.join(candidate_ids, on=id_col, how="left_anti")
    return definitely_new.unionByName(verified)


def sorted_neighborhood_pairs(
    df: DataFrame, id_col: str, text_col: str, window: int = 10,
    key: Column | None = None,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995's
    SNM) — the ORDERING-based blocking family, complementing the hashing
    families (MinHash bands, SimHash bands, hyperplane LSH): sort the
    corpus by a blocking key (default: normalized_text), slide a window of
    `window` rows, emit every pair within the window. Output:
    (id_a, id_b), each pair exactly once. Pipe into ngram_jaccard(pairs=)
    for exact verification, like the LSH flows.

    Scale shape: the global rank is the hierarchical two-level row_number
    (sampling._hierarchical_row_number with NO group column, sharded by
    the key's 2-char prefix — string-prefix order is monotone w.r.t. full
    key order between shards), so no task sorts the whole corpus; the
    neighbor join is an equi-join on floor(rank / window) buckets (each
    left row probes its own and the next bucket — any pair within
    `window` ranks spans at most two buckets), never a range cross join.
    Rank is fully deterministic: ties on the key break by id.

    SNM's known blind spot applies: near-dups differing in their leading
    characters sort apart; production systems run MULTI-PASS SNM with
    several keys (pass a different `key` per call and union the pairs).
    """
    from presto_workload_analyzer_spark.extensions.sampling import (
        _hierarchical_row_number,
    )
    from presto_workload_analyzer_spark.extensions.textstats import normalized_text

    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    k = key if key is not None else normalized_text(text_col)
    base = df.select(F.col(id_col).alias("id"), k.alias("__key"))
    # NOT materialized (r16, measured — this closes the r15 advice item
    # about the stale comment here): both explode sides below read the
    # global rank frame, but the duplicated ranker subtrees are identical,
    # so runtime exchange reuse already dedups them — re-adding the narrow
    # (id, rank) checkpoint regressed x56 4.90 -> 5.30 s and x65
    # 4.29 -> 4.56 s in interleaved A/B medians (call-time eager stage run
    # + block IO, nothing saved). The ranker's INPUT is likewise left
    # un-materialized (materialize_input=False): its __key column is
    # corpus bytes — checkpointing it costs more than the second scan it
    # saves (measured, x56 warm-solo; r15).
    ranked = _hierarchical_row_number(
        base,
        [],
        [F.asc("__key"), F.asc("id")],
        F.substring(F.col("__key"), 1, 2),
        "rank",
        materialize_input=False,
    ).select("id", "rank")
    a = ranked.select(
        F.col("id").alias("id_a"),
        F.col("rank").alias("__ra"),
        F.explode(
            F.array(
                (F.col("rank") / window).cast("long"),
                (F.col("rank") / window).cast("long") + 1,
            )
        ).alias("__bucket"),
    )
    b = ranked.select(
        F.col("id").alias("id_b"),
        F.col("rank").alias("__rb"),
        (F.col("rank") / window).cast("long").alias("__bucket"),
    )
    return (
        a.join(b, on="__bucket")
        .filter(
            (F.col("__rb") > F.col("__ra"))
            & (F.col("__rb") - F.col("__ra") <= window - 1)
        )
        .select("id_a", "id_b")
    )


def drop_near_duplicates_by(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    score: Column,
    max_iter: int = 25,
) -> DataFrame:
    """Keep the BEST-scoring document per near-dup component — the
    production survivor policy (keep the longest / highest-quality copy),
    generalizing drop_near_duplicates' min-id rule. `score` is any Column
    over df's columns (quality_logit, n_chars, ...). Deterministic:
    survivor = argmax by (score, id) — ties break to the HIGHEST id so the
    rule is a pure struct-max (engine-portable, no fp ordering ambiguity
    as long as `score` itself is deterministic; round it if it comes from
    float math).

    Shape: connected_components on the pair graph (O(log diameter) rounds),
    one groupBy(cluster_id) struct-max to elect survivors (component
    grain), one anti-join to drop the losers. Singletons never enter the
    graph and pass through untouched.
    """
    cc = connected_components(pairs, max_iter=max_iter)
    scored = (
        df.select(F.col(id_col).alias("id"), score.alias("__s"))
        .join(cc, on="id")
    )
    winners = (
        scored.groupBy("cluster_id")
        .agg(F.max(F.struct(F.col("__s"), F.col("id"))).alias("__b"))
        .select(F.col("__b.id").alias("id"))
    )
    losers = cc.select("id").join(winners, on="id", how="left_anti").select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def contamination_matrix(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    corpus_group: str,
    bench_group: str,
    k: int = 5,
) -> DataFrame:
    """contamination_hits broken down per (corpus group × benchmark
    suite): (corpus_group, bench_group, n_docs, n_gram_hits) — which
    SOURCES leak into which EVAL SUITES, the report a data owner reads
    before deciding what to drop (a source contaminating one suite can be
    filtered per-suite; a source contaminating everything gets cut).

    n_docs counts distinct flagged corpus docs; n_gram_hits counts
    (doc-gram, suite) incidences — the leak "mass". Same 100 TB posture
    as contamination_hits: the benchmark's distinct (shingle, suite) set
    broadcasts, the corpus never shuffles.
    """
    c = shingles(corpus, id_col, text_col, k).join(
        corpus.select(F.col(id_col).alias("id"), F.col(corpus_group).alias("__cg")),
        on="id",
    )
    b = (
        shingles(benchmark, id_col, text_col, k)
        .join(
            benchmark.select(
                F.col(id_col).alias("id"), F.col(bench_group).alias("__bg")
            ),
            on="id",
        )
        .select("shingle", "__bg")
        .distinct()
    )
    return (
        c.join(F.broadcast(b), on="shingle")
        .groupBy(F.col("__cg").alias(corpus_group), F.col("__bg").alias(bench_group))
        .agg(
            F.countDistinct("id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_gram_hits"),
        )
    )


def truncation_dedup_groups(
    df: DataFrame, id_col: str, text_col: str, head: int = 64, tail: int = 64
) -> DataFrame:
    """Head+tail digest duplicate groups: `(group_key, n_docs, min_id)` for
    groups of >= 2 docs agreeing on md5(first `head` chars || '\\x1f' ||
    last `tail` chars) — catches the truncated / mid-body-corrupted
    duplicates exact whole-text hashing misses (a very common archive
    failure mode: same crawl stored twice, one copy cut or rotated
    mid-file), at exact-dedup cost.

    Same 100 TB posture as exact_dedup_groups: one hash-partitioned
    groupBy on a 32-hex key, map-side combined; no length-proportional
    state beyond the head/tail slices.
    """
    t = F.col(text_col)
    key = F.md5(
        F.concat(
            F.substring(t, 1, head),
            F.lit("\x1f"),
            F.substring(t, -tail, tail),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), key.alias("group_key"))
        .groupBy("group_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("id").alias("min_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def prefix_filter_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity self-join via AllPairs/PPJoin prefix filtering.

    Returns every unordered pair (id_a < id_b) whose word-k-shingle-set
    Jaccard is >= threshold, with the exact score: (id_a, id_b, jaccard).
    Unlike MinHash-LSH (minhash_lsh_pairs) there are NO false negatives —
    the output is identical to the all-pairs answer — yet the all-pairs
    comparison never runs.

    Prefix-filter guarantee (SSJoin / AllPairs family, public literature):
    order each document's shingles by ascending global document frequency
    (rarest first, ties by shingle value); with prefix length
    p = m - ceil(t * m) + 1 over a set of size m, any pair with
    J(a, b) >= t must share at least one PREFIX shingle of each side, so
    an equi-join on prefix shingles alone cannot miss a qualifying pair.
    The pruning is what scales: prefixes hold each document's RAREST
    shingles, so a boilerplate shingle shared by half the corpus lands in
    nobody's prefix and the hot-token quadratic blowup of a naive inverted
    index never happens. Candidates are then verified with true
    intersection counts joined ON THE CANDIDATE PAIRS ONLY.

    Shuffle structure at 100 TB: shingle-grain df count + id-grain rank
    window + prefix equi-join (short rare-token posting lists) + a
    candidate-scoped verify join; residual hot prefixes are AQE skew-join
    territory. ceil is computed with a -1e-9 guard so float error can only
    LENGTHEN the prefix (more candidates, never a lost pair).
    """
    # materialized multi-consumer frames (r15 plan-audit discipline):
    # toks feeds the rank join + both verify sides (3 scan+shingle chains
    # otherwise), sizes feeds the rank join + both final joins
    toks = shingles(df, id_col, text_col, k=k, distinct=True).transform(materialize)
    sizes = (
        toks.groupBy("id")
        .agg(F.count(F.lit(1)).alias("__m"))
        .transform(materialize)
    )
    dfreq = toks.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        toks.join(dfreq, "shingle")
        .join(sizes, "id")
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("id").orderBy("__df", "shingle")),
        )
        .withColumn(
            "__p",
            (F.col("__m") - F.ceil(F.col("__m") * threshold - 1e-9) + 1).cast("int"),
        )
    )
    prefix = (
        ranked.filter(F.col("__rn") <= F.col("__p"))
        .select("id", "shingle")
        # both sides of the candidate self-join read the prefix index
        .transform(materialize)
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ta = toks.select(F.col("id").alias("id_a"), "shingle")
    tb = toks.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("__m").alias("__ma"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("__m").alias("__mb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "__j", F.col("__i") / (F.col("__ma") + F.col("__mb") - F.col("__i"))
        )
        .filter(F.col("__j") >= threshold)
        .select("id_a", "id_b", F.round("__j", 6).alias("jaccard"))
    )


# Single-matmul fast-path bound for _cluster_pairs_blas: clusters up to
# this many rows compute one n x n Gram matrix (8192^2 doubles = 512 MiB,
# comfortably inside an executor task); larger clusters stream row-block
# panels whose block SHRINKS as n grows (block = _BLAS_ROW_BLOCK^2 // n),
# so a panel never exceeds _BLAS_ROW_BLOCK^2 cells — peak kernel memory
# is O(_BLAS_ROW_BLOCK^2) regardless of cluster size, never O(n^2).
_BLAS_ROW_BLOCK = 8192


def _cluster_pairs_blas(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    threshold: float,
    max_cluster_size: int | None,
    row_block: int | None = None,
) -> DataFrame:
    """BLAS physical strategy for cluster_scoped_cosine_pairs — see its
    docstring for the contract. One applyInPandas group per cluster; the
    guard (oversized clusters emit min-id star pairs, cosine-verified)
    is replayed inside the kernel, byte-identical semantics to the join
    formulation.

    Memory posture (r10 ADVICE item 2): an unguarded cluster of n
    vectors must NOT materialize the full n x n Gram matrix in one task
    — that is an O(n^2) executor-memory cliff the old expr default
    degraded around by spilling its shuffle join. Clusters up to
    `row_block` rows (default _BLAS_ROW_BLOCK) take the single-matmul
    fast path (one
    G = V @ V.T — every gate corpus lands here, byte-identical to the
    pre-chunking kernel); larger ones stream the SAME dot products in
    row blocks whose height shrinks as the cluster grows
    (block = row_block^2 // n, so a block x n panel never exceeds
    row_block^2 cells): the panel working set stays O(row_block^2) —
    a constant — even when the caller passes max_cluster_size=None
    (r11 ADVICE item 2; before this the panel was O(n) per fixed-height
    block, ~65 GiB x2 for a 1M-row cluster). The V matrix itself is
    still the group's rows (O(n * dim) — that is applyInPandas's
    contract, the guard caps it). The emitted >=threshold pairs are
    still quadratic for a genuinely duplicative mega cluster — that
    output-size trade is the guard's to make, not the kernel's."""
    import pandas as pd
    from pyspark.sql import types as T

    cap = max_cluster_size
    # captured by value so the executor-side kernel sees the test override
    blk = int(row_block) if row_block is not None else _BLAS_ROW_BLOCK

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # NULL vectors are not pairable (and a ragged .tolist() with a
        # None row cannot build the matrix); zero-norm rows may stay —
        # their cosines come out NaN and NaN >= threshold is False,
        # matching the expr path's NULL-fails-the-filter semantics.
        pdf = pdf[pdf["__v"].notna()]
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        ids = pdf["id"].to_numpy(dtype=np.int64)
        V = np.array(pdf["__v"].tolist(), dtype=np.float64)
        if cap is not None and n > cap:
            # star: root (min id, row 0 after the sort) vs every member
            g = V @ V[0]
            self_dots = (V * V).sum(axis=1)
            cos = g / np.sqrt(self_dots[0] * self_dots)
            keep = (cos >= threshold) & (ids != ids[0])
            return pd.DataFrame(
                {"id_a": ids[0], "id_b": ids[keep], "cosine": cos[keep]}
            ).drop_duplicates()
        if n <= blk:
            G = V @ V.T
            d = np.sqrt(np.diag(G))
            ia, ib = np.triu_indices(n, k=1)
            cos = G[ia, ib] / (d[ia] * d[ib])
            # ids[ia] != ids[ib] + drop_duplicates replay the expr path's
            # id_a < id_b filter and .distinct() when the id column holds
            # duplicate rows within a cluster (degenerate but allowed
            # input: triu enumerates row positions, not distinct ids).
            keep = (cos >= threshold) & (ids[ia] != ids[ib])
            return pd.DataFrame(
                {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "cosine": cos[keep]}
            ).drop_duplicates()
        # row-block streaming: same dot products; the block height shrinks
        # as n grows so a panel (and its cos quotient) never exceeds
        # blk^2 cells — peak panel memory is O(blk^2), not O(n)
        d = np.sqrt((V * V).sum(axis=1))
        step = max(1, (blk * blk) // n)
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n, step):
            hi = min(lo + step, n)
            Gb = V[lo:hi] @ V.T                       # (hi-lo) x n panel
            cos = Gb / np.outer(d[lo:hi], d)
            ia, ib = np.nonzero(cos >= threshold)
            ia_g = ia + lo
            keep = (ia_g < ib) & (ids[ia_g] != ids[ib])
            out_a.append(ids[ia_g[keep]])
            out_b.append(ids[ib[keep]])
            out_c.append(cos[ia[keep], ib[keep]])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        ).drop_duplicates()

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    from presto_workload_analyzer_spark.extensions.similarity import _to_double

    return (
        emb.select(
            F.col(cluster_col).alias("__cl"),
            F.col(id_col).alias("id"),
            _to_double(F.col(vec_col)).alias("__v"),
        )
        .groupBy("__cl")
        .applyInPandas(score, schema)
    )


def cluster_scoped_cosine_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    threshold: float = 0.9,
    max_cluster_size: int | None = None,
    impl: str = "blas",
) -> DataFrame:
    """Semantic-dedup candidate pairs: exact cosine WITHIN each cluster.

    The SemDeDup shape (Abbas et al. 2023, public paper): embeddings are
    first clustered (k-means cells, IVF lists, or any label column), and
    duplicate scoring runs only inside a cluster — the quadratic
    comparison is bounded by the largest cluster, never the corpus. The
    production control is the clustering grain itself: k grows as
    n / target cluster size (the law that sets hyperplane planes to
    log2(n / target rows)), so cluster size stays ~constant as the
    corpus scales.

    `max_cluster_size` is the mega-cluster backstop, identical in shape
    and trade to the lsh_candidate_pairs guard: oversized clusters emit
    cluster-min star pairs (n-1 edges, oversized keys broadcast), exact
    cosine still verifies every emitted pair, and an exact-duplicate
    family keeps full connectivity through the star root. Default None =
    exact enumeration within every cluster.

    `impl` picks the physical strategy for the SAME logical result
    (default "blas" — logical equivalence to "expr" is pinned by
    test_cluster_pairs_blas_matches_expr, and the measured gap makes
    "expr" a 473 s foot-gun at realistic cluster sizes; see SCALE.md):
      * "expr" — pair equi-join on the cluster key + per-pair Column
        cosine. In-order fold, the oracle-exact baseline; per-pair cost
        is an interpreted higher-order function, so wall is quadratic in
        cluster size with a large constant (measured 473 s at 20 k
        vectors / 10 clusters).
      * "blas" — applyInPandas per cluster: ONE Gram matmul G = V @ V.T,
        cosine[i,j] = G[ij] / sqrt(G[ii] * G[jj]) — the same
        dot/(norm*norm) formula the oracle evaluates, just BLAS-summed
        (last-ulp order may differ; the gate compare confirms no
        threshold flip on the corpus). Same trick as
        similarity.cosine_topk_pandas: ~100x the expr path's throughput,
        and the grouped shuffle moves each vector once. Memory per task
        is one cluster's matrix — bounded by the clustering grain (or
        the guard), the same contract the join path relies on.

    Output: (id_a, id_b, cosine), id_a < id_b, cosine >= threshold.
    """
    from presto_workload_analyzer_spark.extensions.similarity import cosine_expr

    if impl == "blas":
        return _cluster_pairs_blas(
            emb, id_col, vec_col, cluster_col, threshold, max_cluster_size
        )
    if impl != "expr":
        raise ValueError(f"unknown impl {impl!r} (expected 'expr' or 'blas')")

    base = emb.select(
        F.col(cluster_col).alias("__cl"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
    )
    a = base.select("__cl", F.col("id").alias("id_a"), F.col("__v").alias("__va"))
    b = base.select("__cl", F.col("id").alias("id_b"), F.col("__v").alias("__vb"))
    if max_cluster_size is None:
        joined = a.join(b, "__cl").filter(F.col("id_a") < F.col("id_b"))
    else:
        big = (
            base.groupBy("__cl")
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.min_by(F.struct("id", "__v"), "id").alias("__root"))
            .filter(F.col("__n") > max_cluster_size)
            .select("__cl",
                    F.col("__root.id").alias("id_a"),
                    F.col("__root.__v").alias("__va"))
        )
        # prune BOTH sides of the small-cluster join (one-sided pruning
        # would still funnel the mega cluster's b-rows into one partition)
        big_keys = F.broadcast(big.select("__cl"))
        small_a = a.join(big_keys, "__cl", "left_anti")
        small_b = b.join(big_keys, "__cl", "left_anti")
        joined = (
            small_a.join(small_b, "__cl")
            .filter(F.col("id_a") < F.col("id_b"))
            .unionByName(
                b.join(F.broadcast(big), "__cl")
                .filter(F.col("id_b") > F.col("id_a"))
                .select("__cl", "id_a", "__va", "id_b", "__vb")
            )
        )
    return (
        joined.select(
            "id_a", "id_b",
            cosine_expr(F.col("__va"), F.col("__vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    threshold: float = 0.9,
    max_cluster_size: int | None = None,
    impl: str = "blas",
) -> DataFrame:
    """SemDeDup survivor materialization: one exemplar per semantic-dup
    component (min-id canonical, this engine's survivor convention; the
    paper keeps the lowest-centroid-similarity member — swap the keep
    rule via drop_near_duplicates' pair input if centroids are at hand).

    Composition of proven stages: cluster-scoped exact-cosine pairs ->
    connected_components -> anti-join of non-canonical members. Rows in
    no pair (semantically unique) pass through untouched.
    """
    pairs = cluster_scoped_cosine_pairs(
        emb, id_col, vec_col, cluster_col,
        threshold=threshold, max_cluster_size=max_cluster_size, impl=impl,
    )
    return drop_near_duplicates(emb, id_col, pairs)


def duplicated_line_removal(
    df: DataFrame, id_col: str, text_col: str, delimiter: str = "\n"
) -> DataFrame:
    """CCNet-style cross-document duplicated-LINE removal (Wenzek et al.
    2020, "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data", public paper §3.1 — hash every paragraph/line, drop
    duplicated ones corpus-wide) — the line-grain twin of the k-gram
    span dedup (x47): boilerplate headers, navigation strings and
    license blocks repeat across pages VERBATIM at line grain long
    before whole documents near-duplicate.

    Semantics: a line occurring once in the corpus passes through; a
    line occurring more than once keeps exactly ONE occurrence — the
    globally first by (doc id, line index) — and every other occurrence
    is dropped. Output at document grain:

      (id, n_lines, n_dropped, kept_frac, cleaned_digest)

    where cleaned_digest = md5 of the surviving lines joined by
    `delimiter` in original order (md5('') when every line drops) — a
    byte-exact cross-engine witness of the cleaned document, so any
    divergence in keep semantics, ordering or joining is a hash
    mismatch, not a silent drift.

    `delimiter` is a LITERAL string on both sides: the split quotes it
    \\Q..\\E-style before handing it to the regex engine (r11 ADVICE
    item 1 — a regex-special delimiter like '.' or '|' previously
    mis-split while the join used it literally), and the rejoin uses
    the same literal.

    Shuffle shape at 100 TB: lines shuffle ONCE on their md5 digest (the
    CCNet shape — fixed-width keys, line-digest grain), the canonical
    (first-occurrence) table is digest-grain (one row per DISTINCT line,
    vocabulary-sized), and the keep decision is an equi-join back on the
    digest. No window, no driver-side state; the per-doc rollup is a
    doc-grain groupBy with an in-group sort of that doc's own kept lines
    (bounded by document size, never corpus size).
    """
    txt = F.col(text_col) if isinstance(text_col, str) else text_col
    # java.util.regex.Pattern.quote: \Q..\E literal quoting, with any
    # embedded \E closed, escaped and reopened — F.split takes a Java
    # regex while F.array_join below takes the raw literal
    delim_rx = "\\Q" + delimiter.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(txt, delim_rx, -1)).alias("idx", "line"),
    ).withColumn("__dig", F.md5(F.col("line")))
    canon = lines.groupBy("__dig").agg(
        F.count(F.lit(1)).alias("__df"),
        F.min(F.struct("id", "idx")).alias("__first"),
    )
    tagged = lines.join(canon, "__dig").select(
        "id",
        "idx",
        "line",
        (
            (F.col("__df") == 1)
            | (
                (F.col("id") == F.col("__first.id"))
                & (F.col("idx") == F.col("__first.idx"))
            )
        ).alias("__keep"),
    )
    kept_join = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("__keep"), F.struct("idx", "line"))
                )
            ),
            lambda s: s["line"],
        ),
        delimiter,
    )
    return tagged.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum((~F.col("__keep")).cast("long")).cast("long").alias("n_dropped"),
        F.round(
            F.sum(F.col("__keep").cast("double")) / F.count(F.lit(1)) + 1e-9, 6
        ).alias("kept_frac"),
        F.md5(kept_join).alias("cleaned_digest"),
    )


def _dup_span_intervals(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared stage for maximal_duplicate_spans / exactsubstr_removal:
    maximal per-document token intervals covered by corpus-duplicated
    word k-grams. Returns (base, spans) where base = (id, __text) and
    spans = (id, span_start, span_end) in 0-based token positions,
    end inclusive.

    Two positioned dup-gram instances p < q in one doc cover
    overlapping-or-adjacent token ranges iff q <= p + k, so maximal
    covered runs are exactly the segments produced by breaking the
    per-doc position sequence wherever the gap exceeds k — the classic
    gaps-and-islands merge, here as a doc-partitioned lag + running-sum
    window (group grain: a window partition is one document's dup
    positions, bounded by doc length, never corpus-sized).

    Shuffle shape at 100 TB: one gram-grain shuffle for the instance
    counts (map-side combinable — the same shape every shingle pipeline
    pays, cf. strip_duplicate_spans stage 2), then doc-grain windows and
    aggregates. No cross join, no Python, no global sort.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    inst = base.select(
        "id", F.posexplode(gram_array("__text", k)).alias("pos", "gram")
    )
    dup = inst.join(
        inst.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("gram"),
        "gram",
    ).select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    seg = dup.withColumn(
        "__brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("__seg", F.sum("__brk").over(w))
    spans = seg.groupBy("id", "__seg").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
    )
    return base, spans


def maximal_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_len: int = 10,
) -> DataFrame:
    """Maximal corpus-duplicated token spans of length >= min_len — the
    span-grain inventory behind ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", public
    paper: remove duplicated substrings above a length threshold rather
    than whole near-duplicate documents). The published tool finds true
    maximal repeats with a global suffix array; a global suffix sort is
    exactly the single-machine construction that does not distribute, so
    this is the shuffle-honest k-gram-anchored formulation used at
    corpus scale: a span is a MAXIMAL run of tokens covered by
    corpus-duplicated k-grams (k << min_len). Every true >= min_len
    duplicated substring is covered (all its k-grams are duplicated);
    runs chained through overlapping grams duplicated against DIFFERENT
    partners may also qualify — the standard, documented over-approach
    of gram-anchor methods (the same trade x47's fixed-k stripping
    makes, upgraded here with interval merging and a length threshold).

    Output: (id, span_start, span_end, span_len, span_digest) with
    0-based inclusive token positions and span_digest = md5 of the
    span's tokens joined by single spaces — a byte-exact cross-engine
    witness of each reported span.
    """
    base, spans = _dup_span_intervals(df, id_col, text_col, k)
    toks = F.split(F.trim(F.col("__text")), r"\s+")
    span_len = F.col("span_end") - F.col("span_start") + 1
    return (
        spans.filter(span_len >= min_len)
        .join(base, "id")
        .select(
            "id",
            "span_start",
            "span_end",
            span_len.alias("span_len"),
            F.md5(
                F.array_join(
                    F.slice(
                        toks,
                        (F.col("span_start") + 1).cast("int"),
                        span_len.cast("int"),
                    ),
                    " ",
                )
            ).alias("span_digest"),
        )
    )


def exactsubstr_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_len: int = 10,
) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2022): drop every token
    covered by a maximal duplicated span of length >= min_len (see
    maximal_duplicate_spans for the span definition), keep everything
    else — the sequence-grain dedup transform between x47's
    strip-everything-k-covered (no length threshold: any duplicated
    trigram goes) and xs15's line-grain first-occurrence keep. Every
    occurrence of a qualifying span is removed, the aggressive variant
    the released deduplicate-text-datasets tool applies to self-similar
    ranges; the keep-one-occurrence policy lives at line grain
    (duplicated_line_removal) where occurrences are byte-identical and
    a global first exists.

    Output at document grain: (id, n_tokens, n_removed, cleaned_digest)
    with cleaned_digest = md5 of the kept tokens joined by single spaces
    in original order (md5('') when everything is removed) — the same
    byte-exact witness contract as duplicated_line_removal.

    Shuffle shape at 100 TB: _dup_span_intervals' gram-grain shuffle +
    doc-grain windows, then covered positions expand to <= span_len rows
    per span (bounded by corpus token count), collapse to a per-doc
    position set (bounded by doc length), and one LEFT join back to the
    corpus — docs with no qualifying span pass through untouched.
    """
    base, spans = _dup_span_intervals(df, id_col, text_col, k)
    span_len = F.col("span_end") - F.col("span_start") + 1
    covered = (
        spans.filter(span_len >= min_len)
        .select(
            "id",
            F.explode(F.sequence("span_start", "span_end")).alias("tp"),
        )
        .groupBy("id")
        .agg(F.collect_set("tp").alias("__covered"))
    )
    joined = base.join(covered, "id", "left").withColumn(
        "__covered",
        F.coalesce(F.col("__covered"), F.array().cast("array<bigint>")),
    )
    # r16 hoist: multi-referenced token/kept arrays as explicit columns
    # (see strip_duplicate_spans above for the rule).
    staged = joined.withColumn(
        "__toksx", F.split(F.trim(F.col("__text")), r"\s+")
    ).withColumn(
        "__keptx",
        F.filter(
            F.col("__toksx"),
            lambda t, i: ~F.array_contains(F.col("__covered"), i.cast("bigint")),
        ),
    )
    return staged.select(
        "id",
        F.size("__toksx").cast("long").alias("n_tokens"),
        (F.size("__toksx") - F.size("__keptx")).cast("long").alias("n_removed"),
        F.md5(F.array_join("__keptx", " ")).alias("cleaned_digest"),
    )
