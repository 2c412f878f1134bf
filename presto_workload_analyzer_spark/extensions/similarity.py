"""Similarity search over embedding columns: brute-force + LSH-bucketed ANN.

The embedding column is array<float>; all math casts to double first so
results are bit-stable across engines (DuckDB list_dot_product on
DOUBLE[] matches Spark's in-order zip_with/aggregate fold exactly).

Scale path: brute-force top-k is the exact baseline (fine when the query
set is small — it broadcasts); random-hyperplane LSH bucketing bounds the
candidate set for corpus-vs-corpus workloads. An IVF variant (coarse
k-means cells) would slot in the same shape: assign -> per-cell join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from presto_workload_analyzer_spark.materialize import materialize


def _to_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """In-order fold of elementwise products (deterministic fp order)."""
    prods = F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


# hard cap on the collected query side of cosine_topk_pandas: at 64 dims of
# float64 this is ~50 MB of broadcast, the sane ceiling for "small side"
MAX_COLLECTED_QUERIES = 100_000


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector is NULL or zero-norm.

    try_divide, not ANSI `/`: a zero-norm vector (an all-masked encode,
    a default-stamped row) must yield NULL — the same x/0 -> NULL
    convention DuckDB applies — not throw DIVIDE_BY_ZERO mid-scan.
    Rank/threshold consumers then drop it organically (NULL fails every
    comparison); callers that need the row GONE before a window ranks
    it filter with indexable_expr first.
    """
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def indexable_expr(v: Column) -> Column:
    """True iff `v` is a unit-normalizable vector: non-NULL with a
    strictly positive squared norm (NaN components fail the > 0 test).

    The ingest contract every similarity index assumes — cosine against
    a NULL or zero-norm vector is undefined, so ANN build/serve paths
    filter on this BEFORE bucketing/ranking rather than letting NULL
    cosines reach a rank window (engines disagree on NULL placement in
    window order; exclusion is the only deterministic semantics).
    SQL twin: `v IS NOT NULL AND list_dot_product(v, v) > 0`.
    """
    return v.isNotNull() & (dot_expr(v, v) > F.lit(0.0))


def label_centroids(emb: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Element-wise mean vector per label: (label, n, centroid).

    The class-prototype aggregate (per-source / per-cluster / per-language
    mean embedding) used for probing, drift monitoring and as IVF seed
    points. posexplode to (label, pos, value), one groupBy(label, pos)
    with map-side partial avg — the shuffle carries (labels x dims) cells,
    independent of corpus row count — then reassembled in pos order.
    """
    dims = (
        emb.select(F.posexplode(_to_double(F.col(vec_col))).alias("pos", "v"),
                   F.col(label_col).alias("label"))
    )
    per_dim = dims.groupBy("label", "pos").agg(
        F.avg("v").alias("m"), F.count(F.lit(1)).alias("n")
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.first("n").alias("n"),
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ).alias("__sorted"),
        )
        .select(
            "label",
            F.col("n").cast("long").alias("n"),
            F.transform(F.col("__sorted"), lambda s: s["m"]).alias("centroid"),
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    queries is broadcast (small side); ranking window partitions by query
    id with (similarity desc, neighbor id) deterministic tiebreak.
    Output: (query_id, neighbor_id, cosine, rank); self-matches excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = c.join(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors, Arrow-batched numpy variant.

    Same contract as cosine_topk, different physical strategy: the (small)
    query matrix is collected, row-normalized, and broadcast once; each
    corpus partition then scores a whole Arrow batch with ONE C @ Q.T BLAS
    matmul and emits only its per-query partial top-(k+1) — so executor
    output is bounded by batches * queries * (k+1) rows, never |corpus| *
    |queries|. A final window takes the exact global top-k.

    This is the wide-vector / big-batch scale path (BLAS beats the per-row
    zip_with fold by orders of magnitude there); cosine_topk's Column path
    stays the oracle-exact in-order-fold baseline. Last-ulp sums can differ
    between the two (pairwise/SIMD vs in-order) — downstream rounding
    absorbs it.
    """
    import numpy as np
    import pandas as pd

    # the contract is a SMALL query side (it is collected + broadcast);
    # misuse must fail loudly, not OOM the driver three stages later
    q_rows = queries.select(id_col, vec_col).limit(MAX_COLLECTED_QUERIES + 1).collect()
    if len(q_rows) > MAX_COLLECTED_QUERIES:
        raise ValueError(
            f"cosine_topk_pandas: query side exceeds {MAX_COLLECTED_QUERIES} "
            "rows; this operator collects+broadcasts the query matrix. For a "
            "large query side use lsh_topk / ivf_topk_indexed (blocked paths)."
        )
    # indexable_expr's contract replayed in numpy: NULL and zero-norm
    # vectors are not rankable — dropped from BOTH matrices (a ragged
    # .tolist() with a None row cannot even build the ndarray)
    q_rows = [r for r in q_rows if r[1] is not None]
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(q_mat, axis=1, keepdims=True) if len(q_rows) else np.empty((0, 1))
    q_keep = q_norms[:, 0] > 0
    q_ids, q_mat = q_ids[q_keep], q_mat[q_keep] / q_norms[q_keep]
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, q_mat))

    take = k + 1  # self-match is filtered after ranking; keep one spare

    def score(batches):
        ids, qn = bq.value
        for pdf in batches:
            pdf = pdf[pdf["__cv"].notna()]
            if not len(pdf):
                continue
            c_ids = pdf["__cid"].to_numpy(dtype=np.int64)
            c_mat = np.array(pdf["__cv"].tolist(), dtype=np.float64)
            c_norms = np.linalg.norm(c_mat, axis=1, keepdims=True)
            c_keep = c_norms[:, 0] > 0
            if not c_keep.all():
                c_ids, c_mat, c_norms = c_ids[c_keep], c_mat[c_keep], c_norms[c_keep]
            if not len(c_ids):
                continue
            c_mat = c_mat / c_norms
            sims = c_mat @ qn.T  # (batch, queries)
            n = min(take, len(c_ids))
            for j in range(len(ids)):
                # lexsort: deterministic under cosine ties (neighbor id asc)
                order = np.lexsort((c_ids, -sims[:, j]))[:n]
                yield pd.DataFrame(
                    {
                        "query_id": ids[j],
                        "neighbor_id": c_ids[order],
                        "cosine": sims[order, j],
                    }
                )

    partial = corpus.select(
        F.col(id_col).alias("__cid"), _to_double(F.col(vec_col)).alias("__cv")
    ).mapInPandas(score, "query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partial.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_buckets(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_dims: int | None = None,
    plane_offset: int = 0,
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit vector of n_planes projections.

    The 'random' hyperplanes are deterministic: coefficient for (plane p,
    dim i) is +1 if a bit of md5("p|i") is set else -1 — reproducible in
    any engine, no state to ship. Cosine-similar vectors collide with
    probability 1 - theta/pi per plane. `plane_offset` selects a disjoint
    plane family (band b uses planes [b*n, (b+1)*n)) so multi-band callers
    get independent hash tables from the same deterministic stream.

    Pass `n_dims` when known (it's a schema fact, not data); otherwise it is
    probed from one row — a driver-side action, intentionally loud in the
    docstring rather than hidden.
    Output: (id, bucket) — equi-join on bucket bounds ANN candidates.
    """
    if n_dims is None:
        # metadata probe fallback; planes are per-dim literals either way
        row = emb.select(vec_col).head()
        if row is None:
            raise ValueError("hyperplane_buckets: empty input and no n_dims given")
        n_dims = len(row[0])
    bucket = hyperplane_bucket_expr(
        F.col(vec_col), n_planes=n_planes, n_dims=n_dims, plane_offset=plane_offset
    )
    return emb.select(F.col(id_col).alias("id"), bucket.alias("bucket"))


# above this many dims, "auto" coefficient mode switches from array
# literals (fast: constant-folded, zero per-row hash work) to engine-side
# hash expressions (constant plan size: a 4096-dim plane as literals is
# ~32 KB of plan text per plane — analysis/codegen bloat at wide vectors)
LITERAL_COEFF_MAX_DIMS = 256


def _coeff_sign_expr(plane: int, i: Column) -> Column:
    """Engine-side twin of the Python coefficient rule: +1 if digest byte 0
    of md5(f"{plane}|{i}") is odd else -1. digest()[0] == the integer value
    of the first two hex chars, so the parity is conv(substr(hex,1,2)) % 2
    — bit-identical to hashlib, verified by the dual-mode test."""
    h = F.md5(F.concat(F.lit(f"{plane}|"), i.cast("string")))
    odd = F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % 2 == 1
    return F.when(odd, F.lit(1.0)).otherwise(F.lit(-1.0))


def hyperplane_bucket_expr(
    vec: Column,
    n_planes: int,
    n_dims: int,
    plane_offset: int = 0,
    coeff_mode: str = "auto",
) -> Column:
    """The bucket assignment of hyperplane_buckets as a plain Column, so
    multi-band callers can compute every band's bucket in ONE projection
    pass (an array of per-band structs + explode) instead of a union of
    per-band selects that re-evaluates the input lineage once per band
    (the same trap dedup.lsh_bands documents, measured ~bands-fold cost).

    Coefficients (the deterministic md5-parity signs) come in two
    physically different but value-identical forms, picked by `coeff_mode`:
    'literal' ships each plane's sign vector as ONE array literal (fastest
    — no per-row hash work — but the plan carries n_dims values per
    plane); 'hash' generates them in-engine via transform(sequence(...))
    so the plan stays CONSTANT-SIZE regardless of n_dims, at the cost of
    n_planes x n_dims md5 calls per row (acceptable where scan bandwidth
    dominates, and the only sane shape at 1024+ dims). 'auto' picks
    literal up to LITERAL_COEFF_MAX_DIMS, hash beyond."""
    import hashlib

    if coeff_mode == "auto":
        coeff_mode = "literal" if n_dims <= LITERAL_COEFF_MAX_DIMS else "hash"
    if coeff_mode not in ("literal", "hash"):
        raise ValueError(f"unknown coeff_mode {coeff_mode!r}")

    def sign(p: int, i: int) -> int:
        return 1 if hashlib.md5(f"{p}|{i}".encode()).digest()[0] & 1 else -1

    v = _to_double(vec)
    bucket = None
    for p in range(n_planes):
        if coeff_mode == "literal":
            coeffs = F.lit(
                [float(sign(p + plane_offset, i)) for i in range(n_dims)]
            )
        else:
            # single-parameter lambda ONLY: pyspark's transform treats a
            # two-parameter callable as (element, index) and would bind a
            # default-arg plane capture to the array index
            def _signs(i, _plane=p + plane_offset):
                return _coeff_sign_expr(_plane, i)

            coeffs = F.transform(
                F.sequence(F.lit(0), F.lit(n_dims - 1)),
                lambda i: _signs(i),
            )
        proj = F.aggregate(
            F.zip_with(v, coeffs, lambda x, c: x * c), F.lit(0.0), lambda a, x: a + x
        )
        bit = F.when(proj >= 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def ivf_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 2,
    k: int = 10,
    seed: int = 42,
    max_iter: int = 20,
    corpus_filter: Column | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse k-means cells, probe the nearest few.

    `corpus_filter` (a predicate over emb's columns, e.g. a label or
    freshness constraint) gives FILTERED ANN — the metadata-constrained
    search every retrieval stack needs: the index (KMeans cells) is built
    ONCE over the full corpus, the predicate applies to candidate
    NEIGHBORS at query time (queries still rank among filtered candidates
    only), so one index serves every filter. Post-filtering candidates
    inside the probed cells keeps exactness under the n_probe == n_cells
    reduction: filtered IVF ≡ filtered brute force, which is what the x62
    driver oracle checks. At low n_probe, highly-selective filters thin
    the probed cells — raise n_probe with filter selectivity (the
    standard filtered-ANN recall trade-off).

    The classic IVF index expressed relationally:
      1. KMeans (MLlib, seeded) learns `n_cells` coarse centroids;
      2. every corpus vector is assigned to its nearest cell — the
        "inverted lists" are just a cell_id column, so the cell join is an
        ordinary (broadcastable-key) equi-join, and at 100 TB the corpus
        can be written bucketed/partitioned BY cell_id once and scanned
        per-probe thereafter;
      3. each query scores only vectors in its `n_probe` nearest cells.
    Recall rises with n_probe (n_probe == n_cells is exact search). The
    centroid table is tiny (n_cells rows) and broadcast everywhere.
    Output: (query_id, neighbor_id, cosine, rank).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    keep = corpus_filter if corpus_filter is not None else F.lit(True)
    vecs = emb.select(
        F.col(id_col).alias("id"),
        _to_double(F.col(vec_col)).alias("v"),
        keep.alias("__keep"),
    )
    # cache: KMeans makes max_iter passes, and the assignment/probe stages
    # below reuse the same vectors — without this the whole upstream
    # lineage (scan + cast) re-executes per pass
    train = vecs.select(array_to_vector("v").alias("features")).cache()
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="features").fit(train)
    train.unpersist()
    centroids = train.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell_id INT, centroid ARRAY<DOUBLE>",
    )

    # nearest cells by (negative) L2^2 = ||v||^2 - 2<v,c> + ||c||^2; rank 1
    # assigns corpus vectors, rank <= n_probe picks query probes
    d2 = (
        dot_expr(F.col("v"), F.col("v"))
        - 2.0 * dot_expr(F.col("v"), F.col("centroid"))
        + dot_expr(F.col("centroid"), F.col("centroid"))
    )
    ranked = (
        vecs.join(F.broadcast(centroids))
        .select("id", "v", "__keep", "cell_id", d2.alias("d2"))
        .withColumn(
            "cell_rank",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.asc("d2"), F.asc("cell_id"))
            ),
        )
        .transform(materialize)  # consumed twice: corpus assignment + query probes
    )
    corpus = ranked.filter((F.col("cell_rank") == 1) & F.col("__keep")).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "cell_id"
    )
    probes = ranked.filter(F.col("cell_rank") <= n_probe).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"), "cell_id"
    )
    scored = probes.join(corpus, on="cell_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def build_ivf_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 20,
) -> None:
    """Persist an IVF index: corpus parquet partitioned BY cell_id + centroids.

    The on-disk layout IS the index: `{path}/corpus/cell_id=N/` holds each
    inverted list, so a probe of C cells reads exactly C directories —
    partition pruning does the candidate-set cut before any row is
    deserialized. `{path}/centroids` is the tiny (n_cells) routing table.
    Build cost is one KMeans fit + one corpus-sized write; at 100 TB this is
    the amortize-once artifact every subsequent ANN query reuses.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = emb.select(
        F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")
    )
    train = vecs.select(array_to_vector("v").alias("features")).cache()
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="features").fit(train)
    centroids = emb.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell_id INT, centroid ARRAY<DOUBLE>",
    )
    d2 = (
        dot_expr(F.col("v"), F.col("v"))
        - 2.0 * dot_expr(F.col("v"), F.col("centroid"))
        + dot_expr(F.col("centroid"), F.col("centroid"))
    )
    assigned = (
        vecs.join(F.broadcast(centroids))
        .select("id", "v", "cell_id", d2.alias("d2"))
        .withColumn(
            "cell_rank",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.asc("d2"), F.asc("cell_id"))
            ),
        )
        .filter(F.col("cell_rank") == 1)
        .select("id", "v", "cell_id")
    )
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(f"{path}/corpus")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    train.unpersist()


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    k: int = 10,
) -> DataFrame:
    """ANN top-k against a persisted IVF index (build_ivf_index layout).

    Probe cells per query come from the broadcast centroid table; the union
    of probe cells (<= n_cells values) becomes a LITERAL isin() predicate on
    the corpus partition column, so Catalyst statically prunes to the probed
    `cell_id=N/` directories (`PartitionFilters` in the scan — asserted in
    tests). Reading cost scales with probed cells, not corpus size.
    """
    centroids = F.broadcast(spark.read.parquet(f"{path}/centroids"))
    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    )
    d2 = (
        dot_expr(F.col("qv"), F.col("qv"))
        - 2.0 * dot_expr(F.col("qv"), F.col("centroid"))
        + dot_expr(F.col("centroid"), F.col("centroid"))
    )
    probes = (
        q.join(centroids)
        .select("query_id", "qv", "cell_id", d2.alias("d2"))
        .withColumn(
            "cell_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell_id"))
            ),
        )
        .filter(F.col("cell_rank") <= n_probe)
        .select("query_id", "qv", "cell_id")
    )
    # literal cell list (bounded by n_cells, tiny) -> static partition pruning
    probe_cells = sorted({r.cell_id for r in probes.select("cell_id").distinct().collect()})
    corpus = (
        spark.read.parquet(f"{path}/corpus")
        .filter(F.col("cell_id").isin(probe_cells))
        .select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "cell_id")
    )
    scored = probes.join(corpus, on="cell_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    k: int = 10,
    n_dims: int | None = None,
) -> DataFrame:
    """ANN top-k within LSH buckets: assign -> same-bucket join -> rank.

    Recall < 1 by construction (bucket misses); cheap at scale because the
    join key prunes the candidate set ~2^n_planes-fold.
    """
    buckets = hyperplane_buckets(emb, id_col, vec_col, n_planes, n_dims=n_dims)
    vecs = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).join(
        buckets, on="id"
    )
    a = vecs.select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    b = vecs.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "bucket"
    )
    scored = a.join(b, on="bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def scalar_quantization_bounds(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Global (min, max) over every component of every vector — the scalar
    quantizer's codebook, one tiny mergeable aggregate (array_min/array_max
    per row, then min/max across rows)."""
    v = _to_double(F.col(vec_col))
    return emb.select(
        F.min(F.array_min(v)).alias("mn"), F.max(F.array_max(v)).alias("mx")
    )


def quantize_expr(vec: Column, mn: Column, mx: Column) -> Column:
    """float vector -> int8-range codes: round((x-mn)/(mx-mn)*255 + 1e-9).

    The 1e-9 nudge keeps half-way cases off the rounding boundary so Spark
    and any SQL oracle round identically (the engine-portability convention
    used across this repo's double outputs).

    Degenerate codebook guard: when mx == mn (constant-component corpus)
    the scale is undefined — every code is 0 rather than NaN, so the
    failure surfaces as identical rankings, not silent NaN propagation;
    cosine_topk_quantized validates the bounds row and fails loudly before
    this expression ever sees that case."""
    return F.transform(
        _to_double(vec),
        lambda x: F.when(
            mx > mn, F.round((x - mn) / (mx - mn) * 255.0 + 1e-9).cast("int")
        ).otherwise(F.lit(0)),
    )


def cosine_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by COSINE OVER INT8 CODES — scalar-quantized ANN.

    At 100 TB the point is bandwidth: int8 codes are 4-8x smaller than
    float32/64 vectors, so scans, shuffles, and cache working sets shrink
    by the same factor while ranking quality degrades only marginally
    (256 levels per dim). The quantizer is a global (min, max) pair —
    a one-row broadcast, no training. A production pipeline materializes
    the coded column once and re-ranks the final shortlist with full-
    precision vectors; here the coded ranking itself is the contract.

    Integer dot products are exactly representable in doubles (sums far
    below 2^53), so the quantized cosine — unlike any float-sum path — is
    bit-identical across engines, making this operator's oracle exact with
    no rounding tolerance at all.

    The (min, max) codebook is collected once (one tiny aggregate action)
    and validated — a degenerate corpus (mn == mx: constant components, or
    empty) fails LOUDLY here instead of silently producing flat or NaN
    rankings three stages later — then inlined as literals, so the coding
    projections carry no join at all.
    """
    row = scalar_quantization_bounds(corpus, vec_col).collect()[0]
    if row.mn is None or row.mx is None:
        raise ValueError("cosine_topk_quantized: empty corpus, no codebook")
    if not row.mn < row.mx:
        raise ValueError(
            f"cosine_topk_quantized: degenerate codebook (min == max == "
            f"{row.mn!r}); scalar quantization needs component spread"
        )
    mn, mx = F.lit(float(row.mn)), F.lit(float(row.mx))
    code = lambda df, alias: (  # noqa: E731
        df.select(
            F.col(id_col).alias(alias),
            quantize_expr(F.col(vec_col), mn, mx).alias(f"{alias}_code"),
        )
    )
    q = code(queries, "query_id")
    c = code(corpus, "neighbor_id")
    cos = cosine_expr(F.col("query_id_code"), F.col("neighbor_id_code"))
    scored = (
        c.join(F.broadcast(q))  # small coded query side broadcast, like cosine_topk
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("qcosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_recall(ann: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """recall@k of an ANN result against the exact top-k — the evaluation
    harness every approximate index needs before it replaces brute force.

    Both inputs use the (query_id, neighbor_id, rank) contract this module
    emits; rows with rank > k are ignored. Per query: the overlap count of
    the two k-sets and recall = hits / |exact set| — the per-query exact-set
    size, NOT the constant k, so a query whose corpus holds fewer than k
    neighbors can still score 1.0 when the ANN finds all of them. Queries
    the ANN missed entirely still report (recall 0) — the query list comes
    from the EXACT side, which by construction covers every query.

    Shuffle shape: one equi-join on (query_id, neighbor_id) + one
    query-grain aggregation — both proportional to #queries x k, never to
    corpus size.
    """
    # NOT materialized (r16, measured): the exact side is consumed twice
    # (overlap join + per-query denominator), but a checkpoint here
    # regressed x44 2.67 -> 3.48 s in interleaved A/B medians — the
    # call-time eager stage run + block IO costs more than the shared
    # brute-force subtree, which runtime exchange reuse largely dedups.
    ex = exact.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    an = ann.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    hits = ex.join(an, on=["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    denom = ex.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("__n_exact")
    )
    return denom.join(hits, on="query_id", how="left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("__n_exact"), 6
        ).alias("recall"),
    )


def kcenter_coreset(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> list:
    """Greedy k-center coreset selection (Sener & Savarese 2018, public
    paper: "Active Learning for Convolutional Neural Networks: A
    Core-Set Approach") — the classic 2-approximation: seed with the
    min-id point, then repeatedly add the point FARTHEST (max-min
    distance) from the selected set. Published use in training-data
    curation: a diversity-preserving subset whose covering radius is the
    reported `dist` column (monotonically non-increasing by round).

    Distance is cosine distance, rounded per pair BEFORE the min —
    d(p, s) = round(1 - cos(p, s) + 1e-9, 6) — so the running
    least() over selected centers is order-free and the whole greedy
    trajectory replays exactly in sequential SQL (the x119 BPE-replay
    falsifiability pattern); argmax ties break by smaller id.

    Distributed shape: the iterative-algorithm standard (MLlib KMeans'
    own discipline) — the (id, vec, running_min) state materializes per
    round via localCheckpoint (flat plans, no lineage growth), and each
    round is one scan-speed pass that folds in the distance to the
    SINGLE new center (one in-order cosine fold per row per round,
    constant-size expression — no re-scoring against the whole selected
    set) followed by a TakeOrdered top-1 reduction (map-side partial
    max; no global sort, no window, no shuffle beyond the k-row reduce).
    Superseded checkpoint blocks free on GC; at 100 TB the state is
    (id, vec, double) — the input's own width — with disk spill as the
    fallback, exactly like any k-means iteration.

    Returns [(round, id, dist_to_selected)]; the seed reports 0.0.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    df = emb.select(
        F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")
    )
    seed_rows = df.orderBy("id").limit(1).collect()
    if not seed_rows:
        raise ValueError("kcenter_coreset: empty input — no seed row")
    seed = seed_rows[0]
    picked = [(1, seed["id"], 0.0)]

    def dist_to(w: list) -> Column:
        # the center is a literal vector: one row-side fold per row, no
        # extra broadcast job per round (measured: a broadcast one-row
        # center frame costs ~2x the round wall at toy scale for zero
        # scan saving at any scale)
        return F.round(
            F.lit(1.0)
            - cosine_expr(F.col("v"), F.array([F.lit(float(x)) for x in w]))
            + F.lit(1e-9),
            6,
        )

    # localCheckpoint per round (the connected_components convention):
    # truncates lineage so round r plans a FLAT 3-column frame, not an
    # r-deep chain — planning stays O(1) per round and the running-min
    # state never recomputes
    cur = df.select("id", "v", dist_to(list(seed["v"])).alias("d")).localCheckpoint(
        eager=True
    )
    for r in range(2, k + 1):
        top = cur.orderBy(F.desc("d"), F.asc("id")).limit(1).collect()[0]
        if float(top["d"]) <= 0.0:
            # covering radius 0: every remaining point duplicates a
            # selected direction, so the argmax would re-pick a selected
            # id — refuse loudly rather than emit duplicate picks
            raise ValueError(
                f"k-center exhausted at round {r}: covering radius 0 "
                f"(k={k} exceeds the corpus's distinct directions)"
            )
        picked.append((r, top["id"], float(top["d"])))
        if r == k:
            break
        cur = cur.select(
            "id", "v", F.least("d", dist_to(list(top["v"]))).alias("d")
        ).localCheckpoint(eager=True)
    return picked


def mmr_rerank(
    rel: dict,
    pair_sims: dict,
    k: int = 8,
    lam: float = 0.7,
) -> list:
    """Maximal Marginal Relevance greedy re-ranking (Carbonell &
    Goldstein 1998, public paper) — the standard diversity-aware rerank:
    each round selects argmax over remaining candidates of

        mmr(d) = lam * rel(d) - (1 - lam) * max_{s in S} sim(d, s)

    with ties broken by smaller id. The candidate pool and BOTH score
    tables arrive ALREADY engine-computed and engine-rounded (rel from
    an exact top-k retrieval, pair_sims from an in-engine pairwise
    cosine over the pool), so this driver-side greedy touches only
    pool-sized state (k_pool rows — MMR's own sequential data
    dependency; the distributed work is producing the pool) and its
    arithmetic — IEEE-double multiply/subtract on identical operands —
    replays exactly in sequential SQL. Note (1 - lam) is evaluated HERE
    in IEEE doubles; an oracle must embed repr(1 - lam), not the
    decimal literal, or 0.7 -> 0.30000000000000004 drifts the scores.

    rel: {id: relevance}; pair_sims: {(a, b): sim}, either orientation.
    max_sim accumulates over rounded sims via max (order-free).

    CONVENTION — max-sim floor at 0.0: maxsim initializes to 0.0 (and
    missing pairs read as 0.0), so for pools holding NEGATIVE cosines
    the diversity penalty clamps at 0 instead of rewarding
    anti-similarity — a deliberate deviation from the literal
    Carbonell-Goldstein max (which would start at the true max, i.e.
    possibly negative). The xs34 oracle mirrors it exactly
    (greatest(ms, coalesce(s, 0.0)) seeded from 0.0), so the two
    engines cannot drift; pools from cosine retrieval are near-dup
    heavy and all-positive in practice, where the two conventions
    coincide. Returns [(pick_rank, id, relevance, mmr_score)].
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    one_minus = 1.0 - lam

    def sim(a, b):
        return pair_sims.get((a, b), pair_sims.get((b, a), 0.0))

    maxsim = {i: 0.0 for i in rel}
    remaining = set(rel)
    out = []
    for r in range(1, min(k, len(rel)) + 1):
        best = min(
            remaining,
            key=lambda i: (-(lam * rel[i] - one_minus * maxsim[i]), i),
        )
        out.append((r, best, rel[best], lam * rel[best] - one_minus * maxsim[best]))
        remaining.discard(best)
        for i in remaining:
            s = sim(best, i)
            if s > maxsim[i]:
                maxsim[i] = s
    return out
