"""Semantic tests for the LLM-data-pipeline extensions: planted duplicates
and known-answer inputs (the DuckDB oracles cover engine-vs-engine equality;
these cover 'does the operator actually find what it should')."""

import math

import pytest
from pyspark.sql import Row, functions as F

from presto_workload_analyzer_spark.extensions import (
    dedup,
    multimodal,
    sampling,
    similarity,
    textstats,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest to find some food for the winter"
    )
    near = base.replace("green", "dark")  # one-word change -> near-dup
    other = "completely different content about spark query engines and analytics workloads at scale"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),      # exact dup of 1
        Row(doc_id=3, text=near),      # near dup of 1
        Row(doc_id=4, text=other),
        Row(doc_id=5, text="tiny"),    # shorter than shingle size
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(docs):
    groups = dedup.exact_dedup_groups(docs, ["text"], "doc_id")
    dup = groups.filter(F.col("n_copies") > 1).collect()
    assert len(dup) == 1 and dup[0].canonical_id == 1 and dup[0].n_copies == 2
    kept = dedup.drop_exact_duplicates(docs, ["text"], "doc_id")
    assert kept.count() == 4
    assert {r.doc_id for r in kept.collect()} == {1, 3, 4, 5}


def test_drop_exact_duplicates_null_ids_and_keys(spark):
    # a group whose ids are ALL NULL must still keep exactly one row (a
    # plain `on id` equi-join would drop the whole group — NULL never
    # equi-matches); NULL group keys form their own group like groupBy does
    rows = [
        Row(doc_id=None, text="all null ids"),
        Row(doc_id=None, text="all null ids"),
        Row(doc_id=7, text="mixed"),
        Row(doc_id=None, text="mixed"),   # min ignores NULL -> survivor is 7
        Row(doc_id=2, text=None),
        Row(doc_id=5, text=None),         # NULL key group -> survivor is 2
    ]
    out = dedup.drop_exact_duplicates(spark.createDataFrame(rows), ["text"], "doc_id")
    got = {(r.text, r.doc_id) for r in out.collect()}
    assert got == {("all null ids", None), ("mixed", 7), (None, 2)}


def test_shingles_short_doc(docs):
    sh = dedup.shingles(docs, "doc_id", "text", k=3)
    assert sh.filter(F.col("id") == 5).count() == 0  # 'tiny' has no 3-shingle


def test_minhash_lsh_finds_dups(docs):
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", k=3, num_hashes=16, bands=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got          # identical signatures always collide
    assert (1, 3) in got or (2, 3) in got  # near-dup should band-collide
    assert (1, 4) not in got      # unrelated must not


def test_minhash_xxhash_mode(docs):
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=16, bands=4, mode="xxhash64"
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got


def test_verified_pairs_mode_matches_raw_subset(docs):
    """ngram_jaccard's pair-driven verify join must score candidates
    identically to the raw all-overlapping-pairs mode (same intersection
    counts, just restricted) — the x20 verified-LSH contract."""
    sh = dedup.shingles(docs, "doc_id", "text", k=3)
    cand = dedup.minhash_lsh_pairs(docs, "doc_id", "text", k=3, num_hashes=16, bands=8)
    raw = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard(sh).collect()}
    ver = {(r.id_a, r.id_b): r.jaccard
           for r in dedup.ngram_jaccard(sh, pairs=cand).collect()}
    assert set(ver) <= set(raw)
    for pair, j in ver.items():
        assert math.isclose(j, raw[pair])


def test_verified_dualmode_equivalence(docs):
    """Spark-side dual-run: md5-mode and xxhash64-mode VERIFIED outputs
    (J >= 0.9 after exact-Jaccard scoring) must agree — both candidate
    universes contain every high-J pair at 8 bands x 2 rows, so the
    verified set is hash-mode-independent (the structural property behind
    x20's DuckDB oracle)."""
    sh = dedup.shingles(docs, "doc_id", "text", k=3)

    def verified(mode):
        cand = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=16, bands=8, mode=mode
        )
        return {
            (r.id_a, r.id_b)
            for r in dedup.ngram_jaccard(sh, pairs=cand)
            .filter("jaccard >= 0.9")
            .collect()
        }

    assert verified("md5") == verified("xxhash64")


def test_connected_components(spark):
    # two components: path 1-2-3 and edge 10-11
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=10, id_b=11)]
    )
    got = {r.id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_nonconvergence_raises(spark):
    # a 4-node path needs 3 propagation rounds; max_iter=1 must fail loudly,
    # never return a half-merged clustering
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=3, id_b=4)]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1)


def test_drop_near_duplicates(docs):
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", k=3, num_hashes=16, bands=4)
    kept = dedup.drop_near_duplicates(docs, "doc_id", pairs)
    # docs 1/2/3 form one near-dup component -> canonical 1 survives;
    # 4 and 5 are in no pair and pass through
    assert {r.doc_id for r in kept.collect()} == {1, 4, 5}


def test_ngram_jaccard(docs):
    sh = dedup.shingles(docs, "doc_id", "text", k=3)
    j = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard(sh).collect()}
    assert math.isclose(j[(1, 2)], 1.0)
    assert 0.5 < j[(1, 3)] < 1.0
    assert (1, 4) not in j  # no shared shingle


def test_simhash_similarity(docs):
    sh = {r.id: r.simhash for r in dedup.simhash16(docs, "doc_id", "text").collect()}
    assert sh[1] == sh[2]
    ham_near = bin(sh[1] ^ sh[3]).count("1")
    ham_far = bin(sh[1] ^ sh[4]).count("1")
    assert ham_near < ham_far
    assert ham_near <= 4


@pytest.fixture(scope="module")
def vectors(spark):
    import random

    rnd = random.Random(7)
    rows = []
    base = [rnd.uniform(-1, 1) for _ in range(16)]
    near = list(base)
    near[0] += 0.01
    rows.append(Row(vec_id=0, embedding=[float(x) for x in base]))
    rows.append(Row(vec_id=1, embedding=[float(x) for x in near]))
    for i in range(2, 40):
        rows.append(Row(vec_id=i, embedding=[float(rnd.uniform(-1, 1)) for _ in range(16)]))
    return spark.createDataFrame(rows)


def test_cosine_topk_finds_planted_neighbor(vectors):
    out = similarity.cosine_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=3)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert rows[0].neighbor_id == 1  # the planted near-duplicate
    assert rows[0].cosine > 0.999


def test_embedding_near_dup_pairs(vectors):
    pairs = dedup.embedding_near_dup_pairs(vectors, "vec_id", "embedding", threshold=0.99)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(0, 1)}


def test_lsh_topk_recall_on_planted_pair(vectors):
    out = similarity.lsh_topk(vectors, n_planes=4, k=3)
    mine = [r for r in out.collect() if r.query_id == 0]
    # near-identical vectors agree on every hyperplane sign -> same bucket
    assert any(r.neighbor_id == 1 for r in mine)


def test_blocked_embedding_near_dup_pairs(vectors):
    """The composed scale path: candidates from hyperplane-LSH bands, exact
    cosine verification. Finds the planted near-dup pair (identical sign
    pattern -> same bucket in every band), produces ONLY true positives
    (subset of the exact all-pairs result), and plans no CartesianProduct."""
    blocked = dedup.blocked_embedding_near_dup_pairs(
        vectors, "vec_id", "embedding", threshold=0.99, n_planes=4, n_bands=2
    )
    exact = dedup.embedding_near_dup_pairs(
        vectors, "vec_id", "embedding", threshold=0.99
    )
    got = {(r.id_a, r.id_b) for r in blocked.collect()}
    assert (0, 1) in got
    assert got <= {(r.id_a, r.id_b) for r in exact.collect()}
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_hyperplane_buckets_explicit_dims_and_empty_input(vectors):
    # explicit n_dims must agree with the probed path (same deterministic planes)
    probed = {r.id: r.bucket for r in similarity.hyperplane_buckets(vectors, n_planes=4).collect()}
    explicit = {
        r.id: r.bucket
        for r in similarity.hyperplane_buckets(vectors, n_planes=4, n_dims=16).collect()
    }
    assert probed == explicit
    empty = vectors.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty input"):
        similarity.hyperplane_buckets(empty, n_planes=4)
    # with dims given, empty input is fine (plan-only, no probe)
    assert similarity.hyperplane_buckets(empty, n_planes=4, n_dims=16).count() == 0


def test_hyperplane_coeff_modes_identical_buckets(vectors):
    """literal and hash coefficient modes must assign identical buckets —
    the engine-side md5-parity expression is bit-compatible with hashlib."""
    lit = vectors.select(
        "vec_id",
        similarity.hyperplane_bucket_expr(
            F.col("embedding"), n_planes=6, n_dims=16, plane_offset=3,
            coeff_mode="literal",
        ).alias("b"),
    )
    hsh = vectors.select(
        "vec_id",
        similarity.hyperplane_bucket_expr(
            F.col("embedding"), n_planes=6, n_dims=16, plane_offset=3,
            coeff_mode="hash",
        ).alias("b"),
    )
    assert {(r.vec_id, r.b) for r in lit.collect()} == {
        (r.vec_id, r.b) for r in hsh.collect()
    }
    with pytest.raises(ValueError, match="coeff_mode"):
        similarity.hyperplane_bucket_expr(
            F.col("embedding"), n_planes=2, n_dims=4, coeff_mode="nope"
        )


def test_hyperplane_plan_size_bounded_at_wide_dims(spark):
    """Neither coefficient mode may bloat the plan as n_dims grows: hash
    mode generates signs in-engine (truly constant-size expression);
    literal mode ships ONE array literal per plane — a single expression
    node whose plan rendering Spark truncates — instead of the old
    F.array(*n_dims literals) which was n_dims expression NODES per plane.
    auto must route wide vectors to hash."""
    df = spark.createDataFrame([Row(v=[0.0])])

    def plan_len(dims, mode):
        expr = similarity.hyperplane_bucket_expr(
            F.col("v"), n_planes=4, n_dims=dims, coeff_mode=mode
        )
        return len(df.select(expr.alias("b"))._jdf.queryExecution()
                   .analyzed().toString())

    # hash mode varies only by the digit width of the sequence bound and
    # expr ids — bounded, never O(n_dims)
    assert abs(plan_len(64, "hash") - plan_len(4096, "hash")) < 500
    assert plan_len(4096, "literal") < 20_000
    # auto: literal up to the threshold, hash beyond
    assert abs(plan_len(4096, "auto") - plan_len(4096, "hash")) < 500
    assert plan_len(64, "auto") == plan_len(64, "literal")


def test_cosine_topk_pandas_query_cap_fails_loudly(vectors, monkeypatch):
    # shrink the cap instead of building 100k rows; the 40-row query side
    # must then be rejected before anything is broadcast
    monkeypatch.setattr(similarity, "MAX_COLLECTED_QUERIES", 10)
    with pytest.raises(ValueError, match="query side exceeds 10"):
        similarity.cosine_topk_pandas(vectors, vectors, k=3)


def test_textstats_known_answers(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="The cat, and THE dog!  ")])
    r = df.select(
        textstats.token_count("text").alias("n"),
        textstats.bpe_ish_token_count("text").alias("nb"),
        F.round(textstats.stopword_ratio("text", ["the", "and"]), 6).alias("sw"),
        textstats.fingerprint("text").alias("fp"),
        textstats.language_id("text").alias("lang"),
    ).collect()[0]
    assert r.n == 5  # The/cat,/and/THE/dog!
    assert r.nb == 7  # The cat , and THE dog !
    assert math.isclose(r.sw, 3 / 5)
    assert r.lang == "en"
    # fingerprint invariant under case/punct/whitespace noise
    df2 = spark.createDataFrame([Row(doc_id=2, text="the cat and the dog")])
    fp2 = df2.select(textstats.fingerprint("text").alias("fp")).collect()[0].fp
    assert r.fp == fp2


def test_language_id_german(spark):
    df = spark.createDataFrame([Row(text="der hund und die katze ist ein tier")])
    assert df.select(textstats.language_id("text").alias("l")).collect()[0].l == "de"


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [Row(text="the cat is in the house and it is warm"), Row(text="@@@ ### !!!")]
    )
    rows = df.select(textstats.quality_score("text").alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)
    assert rows[0].q > rows[1].q


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="x" * 100), Row(doc_id=2, text="y" * 10)])
    media = multimodal.attach_binary(df, "doc_id", "text")
    m = {r.doc_id: r for r in media.collect()}
    assert m[1].meta.n_bytes == 100 and m[1].meta.mime == "application/octet-stream"
    decoded = {r.doc_id: r for r in multimodal.decode_media(media).collect()}
    assert decoded[1].n_channels == 3
    assert 0.0 <= decoded[1].mean_intensity <= 1.0
    # deterministic: same payload -> same fake decode
    again = {r.doc_id: r for r in multimodal.decode_media(media).collect()}
    assert again[1] == decoded[1]
    frames = multimodal.frame_sample(media, every_n_bytes=32)
    counts = {r[0]: r[1] for r in frames.groupBy("doc_id").count().collect()}
    assert counts == {1: 4, 2: 1}  # ceil(100/32)=4, ceil(10/32)=1


def test_ivf_topk_structure_and_recall(spark, sf_dir):
    """IVF ANN: valid top-k structure; recall@k vs exact brute force must
    beat random cell assignment by a wide margin; n_probe=n_cells is exact."""
    from presto_workload_analyzer_spark.extensions import similarity as S
    from presto_workload_analyzer_spark.sources.tables import read_sf_table

    emb = read_sf_table(spark, sf_dir, "embeddings").limit(120).cache()
    k = 5
    approx = S.ivf_topk(emb, n_cells=4, n_probe=2, k=k, seed=7)
    rows = approx.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, nbrs in by_q.items():
        ranks = sorted(n.rank for n in nbrs)
        assert ranks == list(range(1, len(nbrs) + 1))
        cosines = [n.cosine for n in sorted(nbrs, key=lambda n: n.rank)]
        assert cosines == sorted(cosines, reverse=True)

    exact = S.cosine_topk(emb, emb, k=k)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for q, true_nbrs in exact_sets.items():
        got = {n.neighbor_id for n in by_q.get(q, [])}
        hits += len(got & true_nbrs)
        total += len(true_nbrs)
    recall = hits / total
    assert recall > 0.35, recall  # 2/4 cells probed

    # probing every cell degenerates to exact search
    full = S.ivf_topk(emb, n_cells=4, n_probe=4, k=k, seed=7)
    full_sets = {}
    for r in full.collect():
        full_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert full_sets == exact_sets


def test_multimodal_resize_contract(spark):
    """resize keeps MEDIA_SCHEMA, makes n_bytes consistent, payload exact."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="hello world " * 10), Row(doc_id=2, text="x")]
    )
    media = multimodal.attach_binary(docs, "doc_id", "text", mime="image/fake")
    resized = multimodal.resize_media(media, 8, 4)
    # same shape; nullability may differ (mapInPandas is permissively nullable)
    assert resized.schema.simpleString() == media.schema.simpleString()
    rows = {r.doc_id: r for r in resized.collect()}
    for r in rows.values():
        assert len(bytes(r.payload)) == 32
        assert r.meta.n_bytes == 32
        assert r.meta.mime == "image/fake"
    assert bytes(rows[1].payload) == b"hello world hello world hello wo"
    assert bytes(rows[2].payload) == b"x" + b"\0" * 31
    # composes with downstream stages
    decoded = multimodal.decode_media(resized)
    assert decoded.count() == 2


def test_hash_split_deterministic_and_complete(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = sampling.hash_split(df, "doc_id")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}  # fractions sum to 1 -> no None
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # reproducible: second run assigns identical labels
    again = {r.doc_id: r.split for r in sampling.hash_split(df, "doc_id").collect()}
    first = {r.doc_id: r.split for r in out.collect()}
    assert first == again
    # composes across tables sharing the id: same rows survive a 10% sample
    s1 = {r.doc_id for r in sampling.hash_sample(df, "doc_id", 0.1).collect()}
    s2 = {r.doc_id for r in sampling.hash_sample(df, "doc_id", 0.1).collect()}
    assert s1 == s2 and 0 < len(s1) < 500


def test_hash_split_rejects_overallocation(spark):
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        sampling.hash_split(df, "doc_id", splits={"a": 0.7, "b": 0.7})


def test_stratified_cap(spark):
    rows = [Row(g="a", i=i) for i in range(10)] + [Row(g="b", i=i) for i in range(3)]
    df = spark.createDataFrame(rows)
    out = sampling.stratified_cap(df, ["g"], "i", cap=5)
    got = {}
    for r in out.collect():
        got.setdefault(r.g, set()).add(r.i)
    assert got["a"] == {0, 1, 2, 3, 4}  # deterministic: the 5 smallest
    assert got["b"] == {0, 1, 2}        # under cap -> untouched


def test_stratified_cap_hierarchical_matches_single_window(spark):
    """The sharded rank path must keep exactly the same rows as the
    single-window formulation, for any shard granularity (including shards
    the cap straddles)."""
    rows = [Row(g="a", i=i) for i in range(10)] + [Row(g="b", i=i) for i in range(3)]
    df = spark.createDataFrame(rows)
    base = {(r.g, r.i) for r in sampling.stratified_cap(df, ["g"], "i", 5).collect()}
    for shard in (1, 2, 3, 100):
        got = {
            (r.g, r.i)
            for r in sampling.stratified_cap(
                df, ["g"], "i", 5, shard_size=shard
            ).collect()
        }
        assert got == base, f"shard_size={shard}"


def test_pack_bins_hierarchical_matches_single_window(spark):
    """pack_bins must assign exactly the naive per-partition running-sum
    bins for any shard granularity (the shard split never reorders the
    sequence)."""
    from pyspark.sql import Window

    from presto_workload_analyzer_spark.extensions.textstats import pack_bins

    rows = [
        Row(src="a", i=i, n=(i * 37) % 90 + 10) for i in range(40)
    ] + [Row(src="b", i=i, n=(i * 53) % 120 + 5) for i in range(25)]
    df = spark.createDataFrame(rows)
    w = (
        Window.partitionBy("src")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    naive = {
        (r.src, r.i): r.bin
        for r in df.withColumn(
            "bin",
            F.floor(
                F.coalesce(F.sum("n").over(w), F.lit(0)) / F.lit(100)
            ).cast("long"),
        ).collect()
    }
    for shard in (1, 4, 7, 1000):
        got = {
            (r.src, r.i): r.bin
            for r in pack_bins(df, "src", "i", "n", 100, shard_size=shard).collect()
        }
        assert got == naive, f"shard_size={shard}"


def test_resample_to_mix_hierarchical_determinism(spark):
    """resample_to_mix's sharded selection must keep exactly the md5-order
    prefix per group (same rows as a driver-side sort of the md5s)."""
    import hashlib

    rows = [Row(g="a", i=i) for i in range(20)] + [Row(g="b", i=i) for i in range(10)]
    df = spark.createDataFrame(rows)
    out = sampling.resample_to_mix(df, "g", "i", {"a": 0.5, "b": 0.5}, total=12)
    got = {}
    for r in out.collect():
        got.setdefault(r.g, set()).add(r.i)
    exp_a = set(
        sorted(range(20), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:6]
    )
    exp_b = set(
        sorted(range(10), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:6]
    )
    assert got == {"a": exp_a, "b": exp_b}


def test_repetition_ratio(spark):
    rows = [
        Row(doc_id=1, text="the cat sat on the mat"),          # no repeated bigram
        Row(doc_id=2, text="buy now buy now buy now"),          # heavy repetition
        Row(doc_id=3, text="word"),                             # too short -> 0
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.doc_id: r.rep
        for r in df.select(
            "doc_id", F.round(textstats.repetition_ratio("text"), 6).alias("rep")
        ).collect()
    }
    assert got[1] == 0.0
    # 5 bigrams, 2 distinct ("buy now", "now buy") -> 3/5 repeats
    assert math.isclose(got[2], 0.6)
    assert got[3] == 0.0


def test_cosine_topk_pandas_matches_column_path(vectors):
    col_path = similarity.cosine_topk(vectors, vectors.filter(F.col("vec_id") < 3), k=4)
    blas_path = similarity.cosine_topk_pandas(vectors, vectors.filter(F.col("vec_id") < 3), k=4)
    a = {(r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 9)) for r in col_path.collect()}
    b = {(r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 9)) for r in blas_path.collect()}
    assert a == b


def test_ivf_index_persist_prune_and_match(spark, tmp_path):
    """Persisted IVF index: pruned scan reads only probed cells, results match
    the in-memory ivf_topk with identical seed/params."""
    sf_dir = "/root/testdata/sf0.001"
    from presto_workload_analyzer_spark.sources.tables import read_sf_table

    emb = read_sf_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, idx, n_cells=8, seed=42, max_iter=8)

    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.ivf_topk_indexed(spark, idx, queries, n_probe=2, k=3)
    direct = similarity.ivf_topk(emb, n_cells=8, n_probe=2, k=3, seed=42, max_iter=8)
    got = {(r.query_id, r.rank): r.neighbor_id for r in out.collect()}
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in direct.collect()
        if r.query_id < 5
    }
    assert got == want and len(got) > 0

    # pruning proof: the corpus scan carries a partition filter on cell_id
    # (inputFiles() can't be used — it lists the FileIndex pre-pruning)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*cell_id[^\]]*)\]", plan)
    assert m and "IN" in m.group(1).upper()


def test_connected_components_matches_union_find(spark):
    """Equivalence vs a reference union-find on seeded random graphs."""
    import random

    for seed in (0, 1, 2):
        rnd = random.Random(seed)
        n = 30
        edges = sorted(
            {
                tuple(sorted(rnd.sample(range(n), 2)))
                for _ in range(25)
            }
        )
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        touched = {v for e in edges for v in e}
        want = {v: min(u for u in touched if find(u) == find(v)) for v in touched}

        pairs = spark.createDataFrame(
            [Row(id_a=a, id_b=b) for a, b in edges]
        )
        got = {r.id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
        assert got == want, f"seed {seed}"


def test_shingle_containment_quote(spark):
    # doc 2 = doc 1's text embedded in a much longer page: Jaccard is low
    # (union dominated by the page) but containment must be ~1
    quoted = "alpha beta gamma delta epsilon zeta"
    page = (
        "lots of surrounding boilerplate text here " + quoted +
        " and then much more unrelated trailing content about other topics entirely"
    )
    rows = [Row(doc_id=1, text=quoted), Row(doc_id=2, text=page),
            Row(doc_id=3, text="wholly distinct words nothing shared")]
    df = spark.createDataFrame(rows)
    sh = dedup.shingles(df, "doc_id", "text", k=3)
    out = {(r.id_a, r.id_b): r.containment
           for r in dedup.shingle_containment(sh).collect()}
    assert out[(1, 2)] == 1.0          # every shingle of the quote is in the page
    assert (1, 3) not in out and (2, 3) not in out
    jac = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard(sh).collect()}
    assert jac[(1, 2)] < 0.5           # the case Jaccard under-reports


def test_tfidf_top_terms(spark):
    rows = [
        Row(doc_id=1, text="spark spark engine"),
        Row(doc_id=2, text="engine tuning"),
        Row(doc_id=3, text="engine"),
    ]
    df = spark.createDataFrame(rows)
    out = textstats.tfidf_top_terms(df, "doc_id", "text", k=2)
    got = {(r.id, r.rank): (r.term, r.tfidf) for r in out.collect()}
    # 'engine' appears in all 3 docs -> idf = ln(1) = 0 everywhere
    # doc 1: spark tf=2, idf=ln(3) -> top; engine scores 0
    term, score = got[(1, 1)]
    assert term == "spark" and abs(score - 2 * math.log(3.0)) < 1e-12
    assert got[(1, 2)][0] == "engine" and got[(1, 2)][1] == 0.0
    # doc 2: tuning (ln 3) beats engine (0)
    assert got[(2, 1)][0] == "tuning"
    # k bounds output per doc; doc 3 has a single term
    assert (3, 2) not in got
    # round_to path keeps the same leaders
    r6 = textstats.tfidf_top_terms(df, "doc_id", "text", k=2, round_to=6)
    assert {(r.id, r.rank): r.term for r in r6.collect()}[(1, 1)] == "spark"


def test_redact_pii(spark):
    rows = [Row(doc_id=1, text="mail a.b+c@x-corp.io or 10.20.30.40 or +49 1234-5678 90 end")]
    out = spark.createDataFrame(rows).select(
        textstats.redact_pii("text").alias("t")
    ).collect()[0].t
    assert out == "mail <EMAIL> or <IP> or <PHONE> end"
    # no PII -> text untouched
    clean = spark.createDataFrame([Row(text="plain words only")]).select(
        textstats.redact_pii("text").alias("t")
    ).collect()[0].t
    assert clean == "plain words only"


def test_latency_percentiles(spark):
    from presto_workload_analyzer_spark.operators.analyzers import latency_percentiles

    rows = [Row(user="u1", elapsed_time=float(v)) for v in range(1, 101)]
    rows += [Row(user="u2", elapsed_time=7.0)]
    df = spark.createDataFrame(rows)
    got = {r.user: r for r in latency_percentiles(df).collect()}
    # 100 evenly spaced values: p50 interpolates to 50.5, p95 to 95.05
    assert got["u1"].n_queries == 100
    assert abs(got["u1"].p50_elapsed - 50.5) < 1e-9
    assert abs(got["u1"].p95_elapsed - 95.05) < 1e-9
    assert got["u2"].p99_elapsed == 7.0  # single-row group: all percentiles collapse


def test_chunk_documents(spark):
    text = " ".join(f"w{i}" for i in range(1, 101))  # 100 tokens
    df = spark.createDataFrame([Row(doc_id=1, text=text), Row(doc_id=2, text="a b")])
    out = textstats.chunk_documents(df, "doc_id", "text", chunk_tokens=64, overlap=16)
    chunks = {(r.id, r.chunk_id): r for r in out.collect()}
    # stride 48: starts at tokens 1, 49, 97
    assert {(cid) for (i, cid) in chunks if i == 1} == {0, 1, 2}
    c0, c1, c2 = (chunks[(1, i)] for i in range(3))
    assert c0.n_tokens == 64 and c0.chunk_text.startswith("w1 ") and c0.chunk_text.endswith(" w64")
    # overlap: chunk 1 re-covers tokens 49..64 (16 tokens) of chunk 0
    assert c1.chunk_text.startswith("w49 ") and c1.n_tokens == 52
    assert c2.chunk_text == "w97 w98 w99 w100" and c2.n_tokens == 4
    # every token is covered
    covered = set()
    for (_, _), r in ((k, v) for k, v in chunks.items() if k[0] == 1):
        covered.update(r.chunk_text.split())
    assert covered == {f"w{i}" for i in range(1, 101)}
    # short doc -> single short chunk
    assert chunks[(2, 0)].chunk_text == "a b" and chunks[(2, 0)].n_tokens == 2
    with pytest.raises(ValueError):
        textstats.chunk_documents(df, "doc_id", "text", chunk_tokens=8, overlap=8)


def test_interval_join_batch_semantics(spark):
    import datetime as dt

    from presto_workload_analyzer_spark.streaming import interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [Row(lu=1, lid=10, lts=t0), Row(lu=2, lid=20, lts=t0)]
    )
    right = spark.createDataFrame(
        [
            Row(ru=1, rid=100, rts=t0 + dt.timedelta(minutes=30)),   # in window
            Row(ru=1, rid=101, rts=t0 + dt.timedelta(hours=3)),      # too late
            Row(ru=1, rid=102, rts=t0 - dt.timedelta(seconds=1)),    # before
            Row(ru=2, rid=200, rts=t0 + dt.timedelta(hours=2)),      # boundary: inclusive
            Row(ru=3, rid=300, rts=t0 + dt.timedelta(minutes=5)),    # no matching key
        ]
    )
    out = interval_join(left, right, [("lu", "ru")], "lts", "rts", upper="2 hours")
    got = {(r.lid, r.rid) for r in out.collect()}
    assert got == {(10, 100), (20, 200)}


def test_chunk_documents_shuffle_free(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma delta " * 30) for i in range(20)]
    )
    out = textstats.chunk_documents(df, "doc_id", "text", chunk_tokens=16, overlap=4)
    out.count()  # materialize so executedPlan is final
    plan = out._jdf.queryExecution().executedPlan().toString()
    # chunking is row-local: no exchange of any kind in the plan
    assert "Exchange" not in plan


def test_decontamination(spark):
    bench = spark.createDataFrame(
        [Row(doc_id=1, text="what is the capital of france paris obviously")]
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark 5-gram "what is the capital of"
            Row(doc_id=10, text="quiz time what is the capital of france asked twice"),
            Row(doc_id=11, text="entirely unrelated training document about spark engines"),
        ]
    )
    hits = {r.id: r.n_hits for r in dedup.contamination_hits(
        corpus, bench, "doc_id", "text", k=5).collect()}
    assert 10 in hits and hits[10] >= 1
    assert 11 not in hits
    kept = dedup.decontaminate(corpus, bench, "doc_id", "text", k=5)
    assert {r.doc_id for r in kept.collect()} == {11}


def test_unigram_logprob(spark):
    import math as m

    df = spark.createDataFrame(
        [Row(doc_id=1, text="common common common"), Row(doc_id=2, text="rare")]
    )
    got = {r.id: r for r in textstats.unigram_logprob(df, "doc_id", "text").collect()}
    # corpus: 'common' x3, 'rare' x1, total 4
    assert got[1].n_tokens == 3 and got[2].n_tokens == 1
    assert abs(got[1].avg_neg_logprob - (-m.log(3 / 4))) < 1e-12
    assert abs(got[2].avg_neg_logprob - (-m.log(1 / 4))) < 1e-12
    # rare-token doc scores strictly higher (worse) than common-token doc
    assert got[2].avg_neg_logprob > got[1].avg_neg_logprob


def _encode_png(width, height, color_type, samples, row_filters=None, palette=None):
    """Test-side PNG encoder: applies real PNG filters forward so the
    decoder's unfilter path is exercised against known pixel truth."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    stride = width * channels
    row_filters = row_filters or [0] * height
    raw = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        line = bytearray(samples[y * stride : (y + 1) * stride])
        f = row_filters[y]
        enc = bytearray(line)
        for x in range(stride):
            a = line[x - channels] if x >= channels else 0
            b = prev[x]
            c = prev[x - channels] if x >= channels else 0
            if f == 1:
                enc[x] = (line[x] - a) & 0xFF
            elif f == 2:
                enc[x] = (line[x] - b) & 0xFF
            elif f == 3:
                enc[x] = (line[x] - ((a + b) >> 1)) & 0xFF
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc[x] = (line[x] - pred) & 0xFF
        raw += bytes([f]) + enc
        prev = line

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">II", width, height) + bytes([8, color_type, 0, 0, 0])
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", bytes(palette))
    out += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    return out


def test_png_decode_real_pixels_all_filters():
    """_decode_png is a real decoder: known pixels, every PNG filter type,
    gray/RGB/RGBA/palette color types — exact dims/channels/means out."""
    from presto_workload_analyzer_spark.extensions.multimodal import _decode_png

    w, h = 8, 5
    rgb = bytes((x * 7 + y * 31 + c * 13) % 256 for y in range(h) for x in range(w) for c in range(3))
    true_mean = sum(rgb) / len(rgb) / 255.0

    for filters in ([0] * h, [1] * h, [2] * h, [3] * h, [4] * h, [0, 1, 2, 3, 4]):
        got = _decode_png(_encode_png(w, h, 2, rgb, row_filters=filters))
        assert got is not None, filters
        gw, gh, gc, gm = got
        assert (gw, gh, gc) == (w, h, 3)
        assert abs(gm - true_mean) < 1e-12, filters

    gray = bytes((x * 11 + y * 3) % 256 for y in range(h) for x in range(w))
    gw, gh, gc, gm = _decode_png(_encode_png(w, h, 0, gray, row_filters=[4] * h))
    assert (gw, gh, gc) == (w, h, 1)
    assert abs(gm - sum(gray) / len(gray) / 255.0) < 1e-12

    rgba = bytes((x + y + c) % 256 for y in range(h) for x in range(w) for c in range(4))
    gw, gh, gc, gm = _decode_png(_encode_png(w, h, 6, rgba, row_filters=[3] * h))
    assert (gw, gh, gc) == (w, h, 4)
    assert abs(gm - sum(rgba) / len(rgba) / 255.0) < 1e-12

    # palette: indices expand through PLTE to RGB samples
    palette = bytes(range(48))  # 16 entries
    idx = bytes((x + y) % 16 for y in range(h) for x in range(w))
    expanded = b"".join(palette[i * 3 : i * 3 + 3] for i in idx)
    gw, gh, gc, gm = _decode_png(_encode_png(w, h, 3, idx, palette=palette))
    assert (gw, gh, gc) == (w, h, 3)
    assert abs(gm - sum(expanded) / len(expanded) / 255.0) < 1e-12


def test_png_decode_unsupported_falls_back():
    """16-bit / interlaced / truncated PNGs return None from _decode_png and
    _decode_bytes degrades to the deterministic fake instead of raising."""
    import struct
    import zlib as _zlib

    from presto_workload_analyzer_spark.extensions.multimodal import (
        _decode_bytes,
        _decode_png,
    )

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", _zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    sixteen_bit = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">II", 4, 4) + bytes([16, 2, 0, 0, 0]))
    )
    interlaced = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">II", 4, 4) + bytes([8, 2, 0, 0, 1]))
    )
    truncated = _encode_png(8, 5, 2, bytes(8 * 5 * 3))[:40]
    # palette image whose indices point past the (truncated) PLTE: must
    # fall back, never return confidently-wrong pixels from short slices
    bad_palette = _encode_png(
        4, 2, 3, bytes([0, 1, 2, 3, 4, 5, 6, 7]), palette=bytes(range(9))  # 3 entries
    )
    for bad in (sixteen_bit, interlaced, truncated, bad_palette, b"junkjunkjunk"):
        assert _decode_png(bad) is None
        assert len(_decode_bytes(bad)) == 4  # fake path, no exception


def test_decode_media_planted_png(spark):
    """DataFrame-level: a planted PNG payload decodes to its true pixels
    through the mapInPandas stage; non-PNG payloads take the fake path."""
    w, h = 6, 3
    rgb = bytes((x * 5 + y * 17 + c) % 256 for y in range(h) for x in range(w) for c in range(3))
    png_bytes = _encode_png(w, h, 2, rgb, row_filters=[0, 4, 2])
    rows = [
        Row(doc_id=1, payload=bytearray(png_bytes)),
        Row(doc_id=2, payload=bytearray(b"opaque non-image payload")),
    ]
    media = spark.createDataFrame(rows).withColumn(
        "meta",
        F.struct(
            F.lit("image/png").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ),
    )
    got = {r.doc_id: r for r in multimodal.decode_media(media).collect()}
    assert (got[1].width, got[1].height, got[1].n_channels) == (w, h, 3)
    assert abs(got[1].mean_intensity - sum(rgb) / len(rgb) / 255.0) < 1e-12
    assert got[2].n_channels == 3  # deterministic fake branch


def test_resample_to_mix(spark):
    rows = [Row(doc_id=i, source="a" if i < 50 else ("b" if i < 60 else "c"))
            for i in range(70)]
    df = spark.createDataFrame(rows)
    out = sampling.resample_to_mix(
        df, "source", "doc_id", {"a": 0.6, "b": 0.4}, total=50
    )
    got = out.groupBy("source").count().collect()
    counts = {r.source: r["count"] for r in got}
    assert counts == {"a": 30, "b": 10}  # a capped at 30; b has only 10 (under-fill)
    # 'c' absent from the target mix -> dropped entirely
    # determinism: identical selection on rerun
    again = sampling.resample_to_mix(
        df, "source", "doc_id", {"a": 0.6, "b": 0.4}, total=50
    )
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in again.collect()}
    with pytest.raises(ValueError):
        sampling.resample_to_mix(df, "source", "doc_id", {}, total=10)


def test_top_ngrams(spark):
    rows = [
        Row(doc_id=1, text="footer text here end of page"),
        Row(doc_id=2, text="content a footer text here more"),
        Row(doc_id=3, text="content b footer text here"),
    ]
    out = textstats.top_ngrams(spark.createDataFrame(rows), "doc_id", "text", n=3, k=2)
    got = {r.rank: r for r in out.collect()}
    # 'footer text here' appears once in all 3 docs -> top by count AND doc_freq
    assert got[1].ngram == "footer text here"
    assert got[1].total_count == 3 and got[1].doc_freq == 3
    assert len(got) == 2  # k bounds output


def test_label_centroids(spark):
    rows = [
        Row(vec_id=1, label=0, embedding=[1.0, 0.0, 2.0]),
        Row(vec_id=2, label=0, embedding=[3.0, 4.0, 0.0]),
        Row(vec_id=3, label=1, embedding=[5.0, 5.0, 5.0]),
    ]
    df = spark.createDataFrame(rows)
    got = {r.label: r for r in similarity.label_centroids(df, "label", "embedding").collect()}
    assert got[0].n == 2 and got[0].centroid == [2.0, 2.0, 1.0]
    assert got[1].n == 1 and got[1].centroid == [5.0, 5.0, 5.0]


def test_simhash_near_dup_pairs(docs):
    # docs fixture: 1 and 2 identical, 3 a one-word edit, 4 unrelated
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dedup.simhash_near_dup_pairs(docs, "doc_id", "text",
                                                   max_hamming=3, bands=4).collect()}
    assert pairs[(1, 2)] == 0                     # identical text -> identical fingerprint
    assert (1, 4) not in pairs and (2, 4) not in pairs
    with pytest.raises(ValueError):
        dedup.simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=4, bands=4)


def test_tfidf_cosine_pairs(spark):
    """Inverted-index TF-IDF cosine: near-identical docs pair high, docs
    sharing only a ubiquitous (max-df-pruned) term do not pair at all, and
    a hand-computed two-doc cosine comes out exact."""
    rows = [
        Row(doc_id=1, text="spark engine shuffle partition"),
        Row(doc_id=2, text="spark engine shuffle partition"),   # exact dup of 1
        Row(doc_id=3, text="the quick brown fox"),
        Row(doc_id=4, text="the lazy dog sleeps"),               # shares only 'the'
        Row(doc_id=5, text="the unrelated verse entirely here"),  # third 'the'
        Row(doc_id=6, text="postgres engine index btree"),       # shares 'engine'
    ]
    df = spark.createDataFrame(rows)
    out_all = {
        (r.id_a, r.id_b): r.cosine
        for r in textstats.tfidf_cosine_pairs(
            df, "doc_id", "text", threshold=0.0, max_df_ratio=0.5
        ).collect()
    }
    assert out_all[(1, 2)] == pytest.approx(1.0)  # identical docs
    # docs 3 and 4 share ONLY 'the' (df 2 of 6, kept at ratio 0.5): the pair
    # exists with positive cosine strictly below the exact-dup pair
    assert 0.0 < out_all[(3, 4)] < out_all[(1, 2)]
    # 'engine' appears in 3 of 6 docs (1, 2, 6): link (1, 6) exists below
    # the dup pair at ratio 0.5 (cut = 3 docs, df 3 kept)
    assert (1, 6) in out_all and out_all[(1, 6)] < 1.0
    # max_df pruning at ratio 0.4 (cut = 2.4 docs): 'the' and 'engine'
    # (df 3) are dropped, so the (3, 4) link disappears; the dup pair still
    # shares spark/shuffle/partition (df 2) and survives.
    pruned = {
        (r.id_a, r.id_b)
        for r in textstats.tfidf_cosine_pairs(
            df, "doc_id", "text", threshold=0.0, max_df_ratio=0.4
        ).collect()
    }
    assert (1, 2) in pruned and (3, 4) not in pruned
    # no cartesian anywhere: posting-list equi-join only
    plan = (
        textstats.tfidf_cosine_pairs(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_k_anonymize(spark):
    from presto_workload_analyzer_spark.privacy.obfuscate import k_anonymize

    rows = [Row(rid=i, city="springfield", age=30 + i % 2) for i in range(8)]
    rows += [Row(rid=100, city="rare-town", age=99)]
    df = spark.createDataFrame(rows)

    kept = k_anonymize(df, ["city", "age"], k=3)
    assert {r.rid for r in kept.collect()} == set(range(8))
    assert kept.schema == df.schema  # suppression keeps the schema


def test_incremental_dedup(spark):
    """New-batch-vs-corpus dedup: exact dup of a corpus doc is dropped,
    near dup (one-word change) is dropped via band collision, novel doc
    survives — and no corpus row is ever compared against the corpus."""
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest to find some food for the winter"
    )
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text="existing corpus document about streaming engines"),
        ]
    )
    new = spark.createDataFrame(
        [
            Row(doc_id=10, text=base),                              # exact dup
            Row(doc_id=11, text=base.replace("green", "dark")),     # near dup
            Row(doc_id=12, text="a completely novel incoming record nothing shares"),
        ]
    )
    kept = dedup.incremental_dedup(corpus, new, "doc_id", "text")
    assert {r.doc_id for r in kept.collect()} == {12}
    assert set(kept.columns) == set(new.columns)


def test_incremental_dedup_null_text_kept(spark):
    """The digest-based exact stage must preserve left_anti NULL
    semantics: a NULL-text new row never equi-matches anything (even a
    NULL-text corpus row), so it survives the exact stage — identical to
    the raw-text anti-join it replaced."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    corpus = spark.createDataFrame([(1, None), (2, "real corpus text here")], schema)
    new = spark.createDataFrame([(10, None), (11, "real corpus text here")], schema)
    kept = dedup.incremental_dedup(corpus, new, "doc_id", "text")
    assert {r.doc_id for r in kept.collect()} == {10}


def test_cosine_topk_quantized_degenerate_codebook_fails_loudly(spark):
    """Constant-component corpus (mn == mx) must raise, never emit NaN or
    flat rankings; empty corpus likewise."""
    flat = spark.createDataFrame(
        [Row(vec_id=i, embedding=[2.5, 2.5, 2.5]) for i in range(4)]
    )
    with pytest.raises(ValueError, match="degenerate codebook"):
        similarity.cosine_topk_quantized(flat, flat.limit(1), k=2)
    empty = flat.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty corpus"):
        similarity.cosine_topk_quantized(empty, empty, k=2)


def test_cosine_topk_quantized(vectors):
    """int8 scalar quantization: codes stay in [0, 255], the planted
    near-duplicate still ranks first for its query, and quantized ranks
    agree closely with the full-precision ranking."""
    bounds = similarity.scalar_quantization_bounds(vectors).collect()[0]
    assert bounds.mn < bounds.mx
    coded = vectors.select(
        similarity.quantize_expr(
            F.col("embedding"), F.lit(bounds.mn), F.lit(bounds.mx)
        ).alias("c")
    )
    mn_code, mx_code = coded.select(
        F.min(F.array_min("c")), F.max(F.array_max("c"))
    ).collect()[0]
    assert 0 <= mn_code and mx_code <= 255

    out = similarity.cosine_topk_quantized(
        vectors, vectors.filter(F.col("vec_id") == 0), k=3
    )
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert rows[0].neighbor_id == 1  # planted near-dup survives quantization
    assert rows[0].qcosine > 0.99


def test_png_decode_property_roundtrip():
    """Property test: ANY 8-bit image encoded with ANY per-row filter
    choice decodes to exactly its source pixels (dims, channels, mean)."""
    from hypothesis import given, settings, strategies as st

    from presto_workload_analyzer_spark.extensions.multimodal import _decode_png

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 8),
        color=st.sampled_from([0, 2, 4, 6]),
        data=st.data(),
    )
    def check(w, h, color, data):
        channels = {0: 1, 2: 3, 4: 2, 6: 4}[color]
        n = w * h * channels
        samples = bytes(
            data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
        )
        filters = data.draw(
            st.lists(st.integers(0, 4), min_size=h, max_size=h)
        )
        got = _decode_png(_encode_png(w, h, color, samples, row_filters=filters))
        assert got is not None
        gw, gh, gc, gm = got
        assert (gw, gh, gc) == (w, h, channels)
        assert abs(gm - sum(samples) / n / 255.0) < 1e-12

    check()


def test_normalize_sql(spark):
    from presto_workload_analyzer_spark.functions import normalize_sql

    rows = [
        Row(q="SELECT * FROM t WHERE id = 42 AND name = 'bob' LIMIT 10"),
        Row(q="SELECT * FROM t WHERE id = 7 AND name = 'alice''s' LIMIT 99"),
        Row(q="INSERT INTO t VALUES (1, 2.5, 'x')"),
    ]
    df = spark.createDataFrame(rows)
    got = [r.s for r in df.select(normalize_sql("q").alias("s")).collect()]
    assert got[0] == "SELECT * FROM t WHERE id = ? AND name = ? LIMIT ?"
    # '' escape splits into two literals under the simple regex — both
    # become ?, the shape is still literal-free and groups consistently
    assert "alice" not in got[1] and "99" not in got[1]
    assert got[2] == "INSERT INTO t VALUES (?, ?, ?)"
    # identifiers keep their digits (user_7 is a name, not a literal)
    one = spark.createDataFrame([Row(q="SELECT x FROM tbl_2024 WHERE y = 5")])
    assert one.select(normalize_sql("q").alias("s")).collect()[0].s == (
        "SELECT x FROM tbl_2024 WHERE y = ?"
    )


def test_profile_columns(spark):
    from presto_workload_analyzer_spark.extensions.profile import profile_columns

    rows = [
        Row(a=1, b="x", c=1.5),
        Row(a=10, b=None, c=-2.25),
        Row(a=9, b="y", c=None),
    ]
    df = spark.createDataFrame(rows)
    got = {r.column: r for r in profile_columns(df).collect()}
    assert got["a"].n_rows == 3 and got["a"].n_nulls == 0
    # native-type ordering: max(a) is 10, not lexicographic "9"
    assert (got["a"].min_value, got["a"].max_value) == ("1", "10")
    assert got["b"].n_nulls == 1 and got["b"].n_distinct == 2
    assert got["c"].min_value == "-2.250000" and got["c"].max_value == "1.500000"


def test_noisy_counts(spark):
    from presto_workload_analyzer_spark.privacy.obfuscate import noisy_counts

    rows = [Row(uid=i % 3, x=i) for i in range(30)]
    df = spark.createDataFrame(rows)
    out = {r.uid: r for r in noisy_counts(df, ["uid"], scale=1.0).collect()}
    assert all(r.n == 10 for r in out.values())
    # noise is nonzero, bounded in practice, and differs across keys
    noises = {uid: r.noisy_n - r.n for uid, r in out.items()}
    assert any(abs(v) > 1e-6 for v in noises.values())
    assert len(set(noises.values())) > 1
    # deterministic: identical release on rerun; different salt -> different
    again = {r.uid: r.noisy_n for r in noisy_counts(df, ["uid"], scale=1.0).collect()}
    assert again == {uid: r.noisy_n for uid, r in out.items()}
    other = {r.uid: r.noisy_n for r in noisy_counts(df, ["uid"], salt="s2").collect()}
    assert other != again


# ---------------------------------------------------------------------------
# round-4 additions: duplicate-ngram fraction, quality logit, ANN recall,
# l-diversity
# ---------------------------------------------------------------------------


def test_duplicate_ngram_fraction_planted(spark):
    rows = [
        Row(doc_id=1, text="a b c d e"),          # trigrams: abc bcd cde
        Row(doc_id=2, text="a b c x y"),          # shares 'a b c' with 1
        Row(doc_id=3, text="p q r s t"),          # unique
        Row(doc_id=4, text="a b"),                # < k words: no shingles
    ]
    out = {
        r["id"]: (r["n_shingles"], r["n_dup"], r["dup_frac"])
        for r in textstats.duplicate_ngram_fraction(
            spark.createDataFrame(rows), "doc_id", "text", k=3
        ).collect()
    }
    assert out[1] == (3, 1, round(1 / 3, 6))
    assert out[2] == (3, 1, round(1 / 3, 6))
    assert out[3] == (3, 0, 0.0)
    assert 4 not in out  # too short: drops out, same as the oracle


def test_quality_logit_feature_directions(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat is in the hat and it is a good day"),
            Row(doc_id=2, text="!!! ### $$$ %%% ^^^ &&& *** ((( )))"),
        ]
    )
    out = {
        r["doc_id"]: r["q"]
        for r in df.select(
            "doc_id", textstats.quality_logit("text").alias("q")
        ).collect()
    }
    assert 0.0 < out[2] < out[1] < 1.0  # prose beats punctuation spam


def test_ann_recall_counts_overlap_and_misses(spark):
    exact = spark.createDataFrame(
        [Row(query_id=1, neighbor_id=n, rank=i + 1) for i, n in enumerate([10, 11, 12])]
        + [Row(query_id=2, neighbor_id=n, rank=i + 1) for i, n in enumerate([20, 21, 22])]
    )
    ann = spark.createDataFrame(
        # query 1: 2 of 3 right; query 2: nothing returned at all
        [Row(query_id=1, neighbor_id=n, rank=i + 1) for i, n in enumerate([10, 12, 99])]
    )
    out = {
        r["query_id"]: (r["n_hits"], r["recall"])
        for r in similarity.ann_recall(ann, exact, k=3).collect()
    }
    assert out[1] == (2, round(2 / 3, 6))
    assert out[2] == (0, 0.0)  # missed queries still reported


def test_ann_recall_ignores_rows_beyond_k(spark):
    exact = spark.createDataFrame([Row(query_id=1, neighbor_id=10, rank=1)])
    ann = spark.createDataFrame(
        [Row(query_id=1, neighbor_id=99, rank=1), Row(query_id=1, neighbor_id=10, rank=2)]
    )
    [row] = similarity.ann_recall(ann, exact, k=1).collect()
    assert (row["n_hits"], row["recall"]) == (0, 0.0)


def test_ann_recall_short_exact_set_can_reach_one(spark):
    """When the corpus holds fewer than k exact neighbors for a query, the
    denominator is the per-query exact-set size, not k — an ANN that finds
    all of them scores 1.0 (it used to be capped at n/k forever)."""
    exact = spark.createDataFrame(
        [Row(query_id=1, neighbor_id=10, rank=1), Row(query_id=1, neighbor_id=11, rank=2)]
    )
    ann = spark.createDataFrame(
        [Row(query_id=1, neighbor_id=10, rank=1), Row(query_id=1, neighbor_id=11, rank=2)]
    )
    [row] = similarity.ann_recall(ann, exact, k=5).collect()
    assert (row["n_hits"], row["recall"]) == (2, 1.0)


def test_referential_audit_rejects_empty_pairs():
    from presto_workload_analyzer_spark.extensions.profile import referential_audit

    with pytest.raises(ValueError, match="non-empty"):
        referential_audit([])


def test_l_diversity_flags_homogeneous_groups(spark):
    from presto_workload_analyzer_spark.privacy.obfuscate import l_diversity

    df = spark.createDataFrame(
        [Row(u=1, s="a"), Row(u=1, s="b"), Row(u=1, s="c"),
         Row(u=2, s="a"), Row(u=2, s="a"), Row(u=2, s="a")]
    )
    out = {
        r["u"]: (r["group_size"], r["n_sensitive"], r["meets_l"])
        for r in l_diversity(df, ["u"], "s", l=3).collect()
    }
    assert out[1] == (3, 3, True)
    assert out[2] == (3, 1, False)  # large but homogeneous: leaks


def test_strip_duplicate_spans_planted(spark):
    rows = [
        # "x y z" is shared between 1 and 2 -> stripped from both;
        # within-doc repeat "r s t ... r s t" in 3 -> both occurrences go
        Row(doc_id=1, text="a b c x y z d e f"),
        Row(doc_id=2, text="p q x y z"),
        Row(doc_id=3, text="r s t u v w r s t"),
        Row(doc_id=4, text="completely unique words here now"),
    ]
    out = {
        r["id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in dedup.strip_duplicate_spans(
            spark.createDataFrame(rows), "doc_id", "text", k=3
        ).collect()
    }
    assert out[1] == (9, 3, "a b c d e f")
    assert out[2] == (5, 3, "p q")
    assert out[3] == (9, 6, "u v w")
    assert out[4] == (5, 0, "completely unique words here now")


def test_strip_duplicate_spans_overlapping_grams_cover_union(spark):
    # "a b c d" duplicated as a 4-token run: trigrams "a b c" and "b c d"
    # both dup'd; covered positions are the UNION, not double-removed
    rows = [
        Row(doc_id=1, text="a b c d x"),
        Row(doc_id=2, text="y a b c d"),
    ]
    out = {
        r["id"]: (r["n_removed"], r["clean_text"])
        for r in dedup.strip_duplicate_spans(
            spark.createDataFrame(rows), "doc_id", "text", k=3
        ).collect()
    }
    assert out[1] == (4, "x")
    assert out[2] == (4, "y")


def test_referential_audit_counts_orphans(spark):
    from presto_workload_analyzer_spark.extensions.profile import referential_audit

    child = spark.createDataFrame(
        [Row(rid=1, fk=10), Row(rid=2, fk=10), Row(rid=3, fk=99),
         Row(rid=4, fk=None)]
    )
    parent = spark.createDataFrame([Row(pk=10), Row(pk=11)])
    [row] = referential_audit([("c->p", child, "fk", parent, "pk")]).collect()
    # 4 rows; 1 NULL (not an orphan); fk=99 is the one orphan row
    assert (row["relation"], row["n_rows"], row["n_null_fk"], row["n_orphans"]) == (
        "c->p", 4, 1, 1
    )
    assert row["orphan_rate"] == 0.25


def test_resize_media_real_nearest_neighbor_png(spark):
    """resize_media is REAL for PNGs: known 4x4 RGB pixels (encoded with
    the independent test-side encoder, Paeth-filtered) downsample 2x2 to
    exactly the nearest-neighbor pixels, re-encoded as a valid PNG."""
    from presto_workload_analyzer_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        _decode_png_pixels,
        resize_media,
    )

    # 4x4 RGB: pixel (x, y) = (10x, 10y, x+y)
    px = bytearray()
    for y in range(4):
        for x in range(4):
            px += bytes([10 * x, 10 * y, x + y])
    payload = _encode_png(4, 4, 2, px, row_filters=[4, 1, 2, 3])
    media = spark.createDataFrame(
        [{"doc_id": 1, "payload": bytearray(payload),
          "meta": {"mime": "image/png", "n_bytes": len(payload)}}],
        MEDIA_SCHEMA,
    )
    [row] = resize_media(media, 2, 2).collect()
    w, h, ch, got = _decode_png_pixels(bytes(row["payload"]))
    assert (w, h, ch) == (2, 2, 3)
    # NN mapping: dst 0 -> src 0, dst 1 -> src 2
    expect = bytearray()
    for sy in (0, 2):
        for sx in (0, 2):
            expect += bytes([10 * sx, 10 * sy, sx + sy])
    assert bytes(got) == bytes(expect)
    assert row["meta"]["n_bytes"] == len(row["payload"])


def test_encode_png_roundtrips_through_decoder():
    from presto_workload_analyzer_spark.extensions.multimodal import (
        _decode_png_pixels,
        _encode_png as enc,
    )

    for channels in (1, 2, 3, 4):
        samples = bytes(range(0, 3 * 5 * channels))  # 3x5, known bytes
        w, h, ch, got = _decode_png_pixels(enc(3, 5, channels, samples))
        assert (w, h, ch) == (3, 5, channels)
        assert bytes(got) == samples


def test_resize_media_non_png_keeps_deterministic_fake(spark):
    from presto_workload_analyzer_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        resize_media,
    )

    raw = b"not an image at all"
    media = spark.createDataFrame(
        [{"doc_id": 1, "payload": bytearray(raw),
          "meta": {"mime": "application/octet-stream", "n_bytes": len(raw)}}],
        MEDIA_SCHEMA,
    )
    [row] = resize_media(media, 4, 4).collect()
    assert bytes(row["payload"]) == raw[:16].ljust(16, b"\0")


def test_interval_join_left_outer_batch_semantics(spark):
    import datetime as dt

    from presto_workload_analyzer_spark.streaming import interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [Row(lu=1, lid=10, lts=t0), Row(lu=9, lid=90, lts=t0)]  # 9: no match
    )
    right = spark.createDataFrame(
        [Row(ru=1, rid=100, rts=t0 + dt.timedelta(minutes=30))]
    )
    out = interval_join(
        left, right, [("lu", "ru")], "lts", "rts", upper="2 hours", how="left_outer"
    )
    got = {(r.lid, r.rid) for r in out.collect()}
    assert got == {(10, 100), (90, None)}  # unmatched left survives with NULLs


def test_generalize_quasi_bands(spark):
    from presto_workload_analyzer_spark.privacy.obfuscate import generalize_quasi

    df = spark.createDataFrame([Row(v=0), Row(v=9), Row(v=10), Row(v=137)])
    got = [r["b"] for r in df.select(generalize_quasi(F.col("v"), 10).alias("b")).collect()]
    assert got == ["0-9", "0-9", "10-19", "130-139"]


# ---------------------------------------------------------------------------
# round-4 self-review regressions: NULL-key survival in the hierarchical
# prefix-sum joins, inverted intervals, duplicate candidate pairs
# ---------------------------------------------------------------------------


def test_stratified_cap_keeps_null_group_rows(spark):
    rows = [Row(g="a", i=1), Row(g="a", i=2), Row(g=None, i=3), Row(g=None, i=4)]
    out = sampling.stratified_cap(
        spark.createDataFrame(rows), ["g"], "i", cap=1, shard_size=2
    )
    got = {(r["g"], r["i"]) for r in out.collect()}
    # NULL forms its own group, exactly like the single-window formulation
    assert got == {("a", 1), (None, 3)}


def test_pack_bins_keeps_null_part_rows(spark):
    rows = [
        Row(src="a", doc_id=1, n=5),
        Row(src=None, doc_id=2, n=5),
        Row(src=None, doc_id=3, n=5),
    ]
    out = textstats.pack_bins(
        spark.createDataFrame(rows), "src", "doc_id", "n", budget=7, shard_size=2
    )
    got = {(r["src"], r["doc_id"], r["bin"]) for r in out.collect()}
    # doc 3's EXCLUSIVE prefix within the NULL partition is 5 < budget 7
    assert got == {("a", 1, 0), (None, 2, 0), (None, 3, 0)}


def test_sweep_concurrency_drops_inverted_intervals(spark):
    import datetime as dt

    from presto_workload_analyzer_spark.extensions import temporal as T

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    iv = spark.createDataFrame(
        [
            Row(s=t0, e=t0 + dt.timedelta(hours=1)),
            Row(s=t0, e=t0 - dt.timedelta(days=2)),  # inverted: ignored
        ]
    )
    rows = [tuple(r) for r in T.sweep_concurrency(iv, "s", "e").collect()]
    assert rows == [(dt.date(2024, 1, 1), 1, 1)]


def test_ngram_jaccard_idempotent_under_duplicate_pairs(spark):
    sh = dedup.shingles(
        spark.createDataFrame(
            [Row(doc_id=1, text="a b c d e"), Row(doc_id=2, text="a b c x y")]
        ),
        "doc_id", "text", k=3,
    )
    once = spark.createDataFrame([Row(id_a=1, id_b=2)])
    twice = once.unionByName(once)
    j1 = dedup.ngram_jaccard(sh, pairs=once).collect()[0]["jaccard"]
    j2 = dedup.ngram_jaccard(sh, pairs=twice).collect()[0]["jaccard"]
    assert j1 == j2 == pytest.approx(1 / 5)


def test_strip_duplicate_spans_agrees_with_python_reference(spark):
    """Randomized batch check: the distributed span dedup equals a direct
    Python reference implementation on 60 small random documents drawn
    from a 12-word vocabulary (dense gram collisions, within- and
    cross-document)."""
    import random

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(12)]
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 12)))
        for i in range(60)
    }
    k = 3

    # independent reference: count gram instances, cover, rebuild
    from collections import Counter

    gram_counts = Counter()
    doc_grams = {}
    for i, t in texts.items():
        w = t.split()
        grams = [tuple(w[j : j + k]) for j in range(len(w) - k + 1)]
        doc_grams[i] = grams
        gram_counts.update(grams)
    expected = {}
    for i, t in texts.items():
        w = t.split()
        covered = set()
        for j, g in enumerate(doc_grams[i]):
            if gram_counts[g] >= 2:
                covered.update(range(j, j + k))
        kept = [tok for j, tok in enumerate(w) if j not in covered]
        expected[i] = (len(w), len(w) - len(kept), " ".join(kept))

    out = {
        r["id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in dedup.strip_duplicate_spans(
            spark.createDataFrame(
                [Row(doc_id=i, text=t) for i, t in texts.items()]
            ),
            "doc_id", "text", k=k,
        ).collect()
    }
    assert out == expected


def test_pmi_collocations_hand_computed(spark):
    import math

    rows = [
        Row(doc_id=1, text="new york"),
        Row(doc_id=2, text="new york"),
        Row(doc_id=3, text="new york"),
        Row(doc_id=4, text="new car"),
        Row(doc_id=5, text="old york"),
    ]
    df = spark.createDataFrame(rows)
    out = textstats.pmi_collocations(df, "doc_id", "text", min_count=3, top=5).collect()
    # only (new, york) reaches min_count; tp=5 bigrams, tu=10 unigrams,
    # n_new=4, n_york=4 -> pmi = ln((3/5)/((4/10)*(4/10)))
    assert len(out) == 1
    r = out[0]
    assert (r.w1, r.w2, r.n_pair) == ("new", "york", 3)
    assert r.pmi == pytest.approx(math.log((3 / 5) / (0.4 * 0.4)))
    # min_count=1 surfaces the rare pairs too, ranked below
    all_pairs = {
        (r.w1, r.w2)
        for r in textstats.pmi_collocations(
            df, "doc_id", "text", min_count=1, top=10
        ).collect()
    }
    assert {("new", "york"), ("new", "car"), ("old", "york")} <= all_pairs


def test_zipf_slope_power_law_and_flat(spark):
    import math

    import numpy as np

    # source a: counts 4/2/1 over three terms; source b: flat spectrum
    rows = [Row(doc_id=i, source="a", text="x") for i in range(4)]
    rows += [Row(doc_id=10 + i, source="a", text="y") for i in range(2)]
    rows += [Row(doc_id=20, source="a", text="z")]
    rows += [Row(doc_id=30, source="b", text="p q"), Row(doc_id=31, source="b", text="q p")]
    df = spark.createDataFrame(rows)
    got = {r.source: r for r in textstats.zipf_slope(df, "source", "text").collect()}
    assert got["a"].n_terms == 3 and got["b"].n_terms == 2
    # expected slope of ln(cnt) on ln(rank) for (1,4),(2,2),(3,1)
    lx = np.log([1.0, 2.0, 3.0]); ly = np.log([4.0, 2.0, 1.0])
    exp = ((lx - lx.mean()) * (ly - ly.mean())).sum() / ((lx - lx.mean()) ** 2).sum()
    assert got["a"].zipf_slope == pytest.approx(exp)
    assert got["b"].zipf_slope == pytest.approx(0.0)  # flat spectrum
    # hierarchical rank == single-window rank (exactness of the decomposition)
    from pyspark.sql import Window as W

    counts = (
        df.select("source", F.explode(textstats.tokens("text")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    naive = counts.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("source").orderBy(F.desc("cnt"), F.asc("term"))
        ),
    )
    from presto_workload_analyzer_spark.extensions.sampling import (
        _hierarchical_row_number,
    )

    hier = _hierarchical_row_number(
        counts,
        ["source"],
        [F.desc("cnt"), F.asc("term")],
        -F.floor(F.log2(F.col("cnt"))),
        "rank",
    )
    assert {(r.source, r.term, r.rank) for r in naive.collect()} == {
        (r.source, r.term, r.rank) for r in hier.collect()
    }
    # materialize_input=False (the r15 SNM heavy-payload path) is a pure
    # plan-shape choice: ranks must be byte-identical to the default form
    hier_nomat = _hierarchical_row_number(
        counts,
        ["source"],
        [F.desc("cnt"), F.asc("term")],
        -F.floor(F.log2(F.col("cnt"))),
        "rank",
        materialize_input=False,
    )
    assert {(r.source, r.term, r.rank) for r in hier.collect()} == {
        (r.source, r.term, r.rank) for r in hier_nomat.collect()
    }


def test_vocab_coverage_hand_computed(spark):
    # source a: x×4 y×2 z×1 -> top-1 covers 4/7; top-2 covers 6/7
    rows = [Row(doc_id=i, source="a", text="x") for i in range(4)]
    rows += [Row(doc_id=10 + i, source="a", text="y") for i in range(2)]
    rows += [Row(doc_id=20, source="a", text="z")]
    df = spark.createDataFrame(rows)
    got = textstats.vocab_coverage(df, "source", "text", tops=(1, 2, 5)).collect()[0]
    assert got.n_terms == 3
    assert got.cov_1 == pytest.approx(4 / 7)
    assert got.cov_2 == pytest.approx(6 / 7)
    assert got.cov_5 == pytest.approx(1.0)


def test_near_dedup_keep_best_survivor_policy(spark):
    from presto_workload_analyzer_spark.extensions import dedup as D

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="short", score=1),
            Row(doc_id=2, text="the longest copy", score=9),
            Row(doc_id=3, text="medium one", score=5),
            Row(doc_id=4, text="unrelated island", score=2),
        ]
    )
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3)]  # {1,2,3} one component
    )
    kept = sorted(
        r.doc_id
        for r in D.drop_near_duplicates_by(docs, "doc_id", pairs, F.col("score")).collect()
    )
    assert kept == [2, 4]  # best-score survivor + the singleton
    # tie on score -> highest id wins (deterministic struct-max)
    docs2 = docs.withColumn("score", F.lit(7))
    kept2 = sorted(
        r.doc_id
        for r in D.drop_near_duplicates_by(docs2, "doc_id", pairs, F.col("score")).collect()
    )
    assert kept2 == [3, 4]


def test_ivf_topk_leaves_no_cached_data(spark):
    """ivf_topk releases its KMeans training cache after the fit and reads
    its twice-used cell ranking from a checkpoint, so the session's cache
    manager holds nothing new after the query ran."""
    import random

    rng = random.Random(3)
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    )
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    similarity.ivf_topk(emb, n_cells=4, n_probe=4, k=3, seed=1, max_iter=5).collect()
    assert cache.isEmpty()


def test_ivf_filtered_ann_matches_filtered_brute_force(spark):
    import random

    rng = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)], label=i % 3)
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows)
    out = similarity.ivf_topk(
        emb, n_cells=4, n_probe=4, k=3, seed=1, max_iter=5,
        corpus_filter=F.col("label") == 0,
    )
    got = {(r.query_id, r.rank): r.neighbor_id for r in out.collect()}
    # every returned neighbor satisfies the predicate
    ok_ids = {r.vec_id for r in emb.filter(F.col("label") == 0).collect()}
    assert set(got.values()) <= ok_ids
    # full-probe filtered IVF == filtered brute force (exactness reduction)
    bf = similarity.ivf_topk(
        emb.filter(F.col("label") == 0), n_cells=4, n_probe=4, k=3,
        seed=1, max_iter=5,
    )
    bf_got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in bf.collect()
        # brute-force twin only defines rows for label-0 queries; compare those
    }
    for key, nb in bf_got.items():
        assert got[key] == nb


def test_bigram_logprob_order_sensitivity_and_hand_check(spark):
    import math

    rows = [
        Row(doc_id=1, text="a b"),
        Row(doc_id=2, text="a b"),
        Row(doc_id=3, text="b a"),   # same unigrams, reversed order
    ]
    df = spark.createDataFrame(rows)
    got = {r.id: r for r in textstats.bigram_logprob(df, "doc_id", "text", lam=0.5).collect()}
    # corpus: unigrams a=3, b=3, N=6; bigrams (a,b)=2, (b,a)=1
    # doc1: first 'a' -> -ln(3/6); then b|a -> -ln(.5*2/3 + .5*3/6)
    exp1 = (-math.log(0.5) - math.log(0.5 * 2 / 3 + 0.5 * 0.5)) / 2
    exp3 = (-math.log(0.5) - math.log(0.5 * 1 / 3 + 0.5 * 0.5)) / 2
    assert got[1].n_tokens == 2 and got[1].avg_neg_logprob == pytest.approx(exp1)
    assert got[3].avg_neg_logprob == pytest.approx(exp3)
    # the rarer order scores WORSE despite identical unigrams
    assert got[3].avg_neg_logprob > got[1].avg_neg_logprob
    # a doc with NULL text produces no row
    df2 = spark.createDataFrame(rows + [Row(doc_id=9, text=None)])
    ids = {r.id for r in textstats.bigram_logprob(df2, "doc_id", "text").collect()}
    assert 9 not in ids


def test_distinctive_terms_fighting_words(spark):
    # source A is about spark, source B about cooking; shared filler 'the'
    rows = [Row(doc_id=i, source="A", text="the spark engine shuffles the spark data") for i in range(3)]
    rows += [Row(doc_id=10 + i, source="B", text="the recipe simmers the onion broth slowly") for i in range(3)]
    df = spark.createDataFrame(rows)
    out = textstats.distinctive_terms(df, "source", "text", top=3).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.source, []).append((r.rank, r.term, r.z))
    a_terms = [t for _, t, _ in sorted(by_grp["A"])]
    b_terms = [t for _, t, _ in sorted(by_grp["B"])]
    assert "spark" in a_terms and "spark" not in b_terms
    assert any(t in b_terms for t in ("recipe", "onion", "broth", "simmers"))
    # the shared filler word never tops either list
    assert "the" != a_terms[0] and "the" != b_terms[0]
    # z scores are positive for the top distinctive terms and ranks are 1..3
    assert all(rk in (1, 2, 3) for rk, _, _ in by_grp["A"])
    assert sorted(rk for rk, _, _ in by_grp["A"]) == [1, 2, 3]
    assert by_grp["A"][0][2] > 0


def test_winnowing_guarantee_and_density(spark):
    shared = "one two three four five six seven eight nine ten"
    rows = [
        Row(doc_id=1, text=shared + " alpha beta gamma"),
        Row(doc_id=2, text="xx yy " + shared),     # same long run, shifted
        Row(doc_id=3, text="completely different words everywhere here now"),
        Row(doc_id=4, text="tiny doc"),            # < k words -> no grams
    ]
    df = spark.createDataFrame(rows)
    fp = textstats.winnowing_fingerprints(df, "doc_id", "text", k=5, w=4)
    by_id = {}
    for r in fp.collect():
        by_id.setdefault(r.id, set()).add(r.fp)
    # winnowing theorem: a shared run of >= w+k-1 = 8 tokens (here 10)
    # guarantees a shared fingerprint
    assert by_id[1] & by_id[2]
    assert not (by_id[1] & by_id.get(3, set()))
    assert 4 not in by_id                          # no k-grams at all
    # density: selected fingerprints are far fewer than grams (~2/(w+1))
    n_grams_1 = len(rows[0].text.split()) - 4
    assert len(by_id[1]) < n_grams_1
    # position robustness: doc 2's shift does not change the shared picks
    with pytest.raises(ValueError, match="hash mode"):
        textstats.winnowing_fingerprints(df, "doc_id", "text", mode="sha9")


# ------------------------------------------------------- truncation dedup


def test_truncation_dedup_catches_mid_body_corruption(spark):
    head = "H" * 70
    tail = "T" * 70
    rows = [
        Row(doc_id=1, text=head + "ORIGINAL MIDDLE BODY " * 5 + tail),
        Row(doc_id=2, text=head + " [snip] " + tail),          # corrupted twin
        Row(doc_id=3, text="X" + head + "whatever" + tail),    # head differs
        Row(doc_id=4, text=head + "another body entirely" + tail),  # triplet
    ]
    out = dedup.truncation_dedup_groups(
        spark.createDataFrame(rows), "doc_id", "text", head=64, tail=64
    ).collect()
    assert len(out) == 1
    assert out[0].n_docs == 3 and out[0].min_id == 1


def test_truncation_dedup_no_false_groups(spark):
    rows = [Row(doc_id=i, text=f"unique document number {i} " * 10) for i in range(20)]
    out = dedup.truncation_dedup_groups(
        spark.createDataFrame(rows), "doc_id", "text"
    ).collect()
    assert out == []


# ------------------------------------------------------------- FD audit


def test_fd_audit_holds_and_violations(spark):
    from presto_workload_analyzer_spark.extensions import profile

    rows = [
        Row(a="x", b="p"), Row(a="x", b="p"),      # group x: consistent
        Row(a="y", b="p"), Row(a="y", b="q"),      # group y: violated (2 rows)
        Row(a="z", b="r"),                          # singleton: consistent
    ]
    df = spark.createDataFrame(rows)
    r = profile.fd_audit(df, "a", "b", "a->b").collect()[0]
    assert r.fd == "a->b"
    assert r.n_groups == 3 and r.n_violating == 1 and r.rows_in_violating == 2
    # the reverse FD b->r: b=p maps to {x, y} -> violated with 3 rows
    r2 = profile.fd_audit(df, "b", "a", "b->a").collect()[0]
    assert r2.n_groups == 3 and r2.n_violating == 1 and r2.rows_in_violating == 3


def test_prefix_filter_join_is_lossless_vs_brute_force(spark):
    """The prefix filter must return EXACTLY the all-pairs answer: every
    pair with shingle-set Jaccard >= t, none below, exact scores."""
    from itertools import combinations

    from presto_workload_analyzer_spark.extensions.dedup import (
        prefix_filter_jaccard_join,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "the quick brown fox jumps over the lazy dog tonight",  # near-dup of 1
        3: "the quick brown fox jumps over the lazy dog today",  # exact dup of 1
        4: "completely different words about training data pipelines here now",
        5: "entirely unrelated sentence mentioning spark catalyst and tungsten",
        6: "short text",  # < k words -> zero shingles, must not crash
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], ["doc_id", "text"]
    )
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_jaccard_join(
            df, "doc_id", "text", k=4, threshold=0.5
        ).collect()
    }

    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 4]) for i in range(len(w) - 3)}

    expect = {}
    for a, b in combinations(sorted(texts), 2):
        sa, sb = sh(texts[a]), sh(texts[b])
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.5:
            expect[(a, b)] = round(j, 6)
    assert out == expect  # completeness AND soundness AND exact scores
    assert (1, 3) in out and out[(1, 3)] == 1.0


def test_prefix_filter_join_prunes_hot_shingles(spark):
    """A boilerplate shingle shared by every doc must not appear in any
    prefix (it is the globally most frequent), so candidate generation
    stays far below all-pairs even on a template-heavy corpus."""
    from presto_workload_analyzer_spark.extensions.dedup import shingles

    from pyspark.sql import functions as F

    # 8 shared boilerplate words, then 10 per-doc-unique words: each doc
    # has >= 10 df=1 shingles, comfortably more than its prefix length
    # p = m - ceil(0.5 m) + 1, so the frequency ordering can always fill
    # the prefix with rare shingles.
    boiler = "standard header line for every document corpus intro"
    rows = [
        (i, boiler + " " + " ".join(f"w{i}t{j}" for j in range(10)))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    toks = shingles(df, "doc_id", "text", k=4, distinct=True)
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("m"))
    dfreq = toks.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    ranked = (
        toks.join(dfreq, "shingle")
        .join(sizes, "id")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("id").orderBy("df", "shingle")),
        )
        .withColumn("p", (F.col("m") - F.ceil(F.col("m") * 0.5 - 1e-9) + 1))
    )
    prefix = ranked.filter(F.col("rn") <= F.col("p"))
    # every fully-shared boilerplate shingle (df == 30) must be pruned
    assert prefix.filter(F.col("df") == 30).count() == 0


def test_bpe_merges_hand_checked(spark):
    """Classic BPE example, hand-computed: counts low:3 lower:1
    newest:2 give pair counts {l o:4, o w:4, w e:3, ...}; ties break
    pair-ascending ('l o' < 'o w'), then the merged symbol chains."""
    from presto_workload_analyzer_spark.extensions.textstats import bpe_merges

    df = spark.createDataFrame(
        [(1, "low low low lower newest newest")], ["doc_id", "text"]
    )
    got = bpe_merges(df, "text", rounds=3, top_words=10)
    # round 3: merging 'low' consumed lower's (w, e), so five pairs tie
    # at 2 and the ascending tie-break picks 'e s'
    assert got == [
        (1, "l", "o", "lo", 4),
        (2, "lo", "w", "low", 4),
        (3, "e", "s", "es", 2),
    ]


def test_bpe_merge_application_greedy_left(spark):
    """Greedy left-to-right non-overlap: 'a a a' merges (a,a) ONCE into
    'aa a', never the overlapping middle pair."""
    from presto_workload_analyzer_spark.extensions.textstats import bpe_merges

    df = spark.createDataFrame([(1, "aaa aaa aa")], ["doc_id", "text"])
    got = bpe_merges(df, "text", rounds=2, top_words=10)
    # round 1: pairs 'a a' count 2*2 + 1 = 5 -> merge (a, a) -> aa.
    # 'aaa' becomes [aa, a] (one merge, greedy-left), 'aa' becomes [aa].
    assert got[0] == (1, "a", "a", "aa", 5)
    # round 2: only 'aaa' has an adjacent pair now: (aa, a) with count 2
    assert got[1] == (2, "aa", "a", "aaa", 2)


def test_dhash_perceptual_invariance_and_discrimination(spark):
    """The same logical picture at two sizes hashes identically (the
    whole point of a perceptual key); a different picture does not; a
    non-image payload yields null."""
    from presto_workload_analyzer_spark.extensions.multimodal import dhash_media

    _enc = _encode_png  # the test-local all-filters encoder (this module)

    def gradient_png(w, h):
        # horizontal ramp: dHash bits depend on gradient SIGN, which is
        # size-invariant under nearest-neighbor sampling
        rgb = bytearray()
        for y in range(h):
            for x in range(w):
                v = (x * 255) // max(1, w - 1)
                rgb += bytes((v, v, v))
        return _enc(w, h, 2, bytes(rgb), row_filters=[0] * h)

    def reverse_png(w, h):
        rgb = bytearray()
        for y in range(h):
            for x in range(w):
                v = 255 - (x * 255) // max(1, w - 1)
                rgb += bytes((v, v, v))
        return _enc(w, h, 2, bytes(rgb), row_filters=[0] * h)

    rows = [
        (1, bytearray(gradient_png(32, 32))),
        (2, bytearray(gradient_png(64, 48))),   # same picture, other size
        (3, bytearray(reverse_png(32, 32))),    # different picture
        (4, bytearray(b"not an image at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: (r.container, r.dhash) for r in dhash_media(df).collect()}
    assert got[1][0] == "png" and got[1][1] is not None
    assert got[1][1] == got[2][1]          # scale-invariant
    assert got[3][1] != got[1][1]          # discriminates
    assert got[4] == (None, None)          # loud absence for non-images


def test_shared_lsh_cache_is_per_sf_and_reused(spark):
    """The session-scoped LSH pair cache must key on the sf dir (no
    cross-SF contamination) and return the SAME persisted frame on
    repeat calls (that is the point of the cache)."""
    from presto_workload_analyzer_spark import driver_queries as dq

    a1 = dq.shared_lsh_pairs(spark, "/root/testdata/sf0.001")
    a2 = dq.shared_lsh_pairs(spark, "/root/testdata/sf0.001")
    b = dq.shared_lsh_pairs(spark, "/root/testdata/sf0.01")
    assert a1 is a2          # cached object reused
    assert b is not a1       # different sf -> different cache entry
    assert a1.count() != b.count() or a1.count() >= 0  # both evaluable


def test_shared_silver_caches_reuse_and_schema(spark):
    """Every round-6 shared silver (triangles, prefix pairs, embedding
    pairs) follows the same contract as shared_lsh_pairs: object-reused
    per (session, sf), distinct keys per builder, and the schema its
    consumers depend on."""
    from presto_workload_analyzer_spark import driver_queries as dq

    sf = "/root/testdata/sf0.001"
    for fn, cols in [
        (dq.shared_dup_triangles, {"id", "n_triangles"}),
        (dq.shared_prefix_pairs, {"id_a", "id_b", "jaccard"}),
        (dq.shared_embedding_pairs, {"id_a", "id_b"}),
    ]:
        first = fn(spark, sf)
        assert fn(spark, sf) is first, fn.__name__
        assert cols <= set(first.columns), (fn.__name__, first.columns)
    # distinct builders never collide in the cache
    assert dq.shared_dup_triangles(spark, sf) is not dq.shared_prefix_pairs(spark, sf)


def _mk_box(typ: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + typ + payload


def _mk_mp4(timescale=1000, duration=5000, w=320, h=240, v1=False):
    if v1:
        mvhd = bytes([1, 0, 0, 0]) + b"\x00" * 16 + timescale.to_bytes(4, "big") + duration.to_bytes(8, "big") + b"\x00" * 80
        tkhd = bytes([1, 0, 0, 0]) + b"\x00" * 84 + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
    else:
        mvhd = bytes([0, 0, 0, 0]) + b"\x00" * 8 + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big") + b"\x00" * 76
        tkhd = bytes([0, 0, 0, 0]) + b"\x00" * 72 + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
    trak = _mk_box(b"trak", _mk_box(b"tkhd", tkhd))
    moov = _mk_box(b"moov", _mk_box(b"mvhd", mvhd) + trak)
    return _mk_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov


def test_mp4_meta_parse_v0_and_v1():
    from presto_workload_analyzer_spark.extensions.multimodal import _parse_mp4_meta

    d, w, h, n = _parse_mp4_meta(_mk_mp4())
    assert (d, w, h, n) == (5.0, 320, 240, 1)
    d, w, h, n = _parse_mp4_meta(_mk_mp4(timescale=600, duration=900, w=1920, h=1080, v1=True))
    assert (d, w, h, n) == (1.5, 1920, 1080, 1)
    assert _parse_mp4_meta(b"not a video") is None
    assert _parse_mp4_meta(_mk_mp4()[:20]) is None  # truncated -> None


def test_video_meta_kernel(spark):
    from presto_workload_analyzer_spark.extensions.multimodal import video_meta

    rows = [
        (1, bytearray(_mk_mp4())),
        (2, bytearray(b"\x89PNG\r\n\x1a\nnot mp4")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: (r.container, r.duration_s, r.width, r.height, r.n_tracks)
           for r in video_meta(df).collect()}
    assert got[1] == ("mp4", 5.0, 320, 240, 1)
    assert got[2] == (None, None, None, None, None)


def test_wav_meta_parse_and_kernel(spark):
    from presto_workload_analyzer_spark.extensions.multimodal import (
        _parse_wav_meta,
        audio_meta,
    )

    def mk_wav(rate=16000, ch=1, bits=16, n_samples=16000, extra_chunk=True):
        fmt = (
            (1).to_bytes(2, "little") + ch.to_bytes(2, "little")
            + rate.to_bytes(4, "little")
            + (rate * ch * bits // 8).to_bytes(4, "little")
            + (ch * bits // 8).to_bytes(2, "little") + bits.to_bytes(2, "little")
        )
        data = b"\x00" * (n_samples * ch * bits // 8)
        chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        if extra_chunk:  # a LIST chunk with odd size exercises padding
            chunks += b"LIST" + (3).to_bytes(4, "little") + b"abc\x00"
        chunks += b"data" + len(data).to_bytes(4, "little") + data
        return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks

    assert _parse_wav_meta(mk_wav()) == (16000, 1, 16, 1.0)
    assert _parse_wav_meta(mk_wav(rate=44100, ch=2, bits=16, n_samples=44100)) == (
        44100, 2, 16, 1.0,
    )
    assert _parse_wav_meta(b"RIFFxxxxNOPE") is None

    df = spark.createDataFrame(
        [(1, bytearray(mk_wav())), (2, bytearray(b"not audio"))],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: (r.container, r.sample_rate, r.duration_s)
           for r in audio_meta(df).collect()}
    assert got[1] == ("wav", 16000, 1.0)
    assert got[2] == (None, None, None)


def test_mjpeg_avi_real_frame_decode(spark):
    """Round-5 verdict item 7: REAL video frame pixel decode for
    MJPEG-in-AVI. Synthesize frames through the real JPEG encoder with
    known flat intensities, wrap them in a structurally real RIFF-AVI
    (encode_avi_mjpeg), extract + decode through mjpeg_frame_stats, and
    check dimensions, frame count, sampling stride, and per-frame mean
    intensity against closed forms. A broken RIFF walk, JPEG decode, or
    stride bug fails a concrete assertion."""
    from pyspark.sql import Row
    from presto_workload_analyzer_spark.extensions.jpegcodec import encode_jpeg

    # 5 frames, 16x8 grayscale, flat intensity 40*i (JPEG is lossy but a
    # FLAT image quantizes near-exactly: DC-only blocks)
    frames = [
        encode_jpeg(16, 8, 1, bytes([40 * i] * (16 * 8))) for i in range(5)
    ]
    avi = multimodal.encode_avi_mjpeg(frames, fps=10, width=16, height=8)
    # the container is a real RIFF: the walker finds exactly the 5 frames
    assert list(multimodal._iter_avi_mjpeg_frames(avi)) == list(enumerate(frames))
    # non-AVI input -> no frames, no exception
    assert list(multimodal._iter_avi_mjpeg_frames(b"not an avi")) == []
    assert list(multimodal._iter_avi_mjpeg_frames(avi[:20])) == []
    # the walker's stride yields only every-Nth frame, indices preserved
    assert [i for i, _ in multimodal._iter_avi_mjpeg_frames(avi, step=2)] == [0, 2, 4]
    # spec-required stream headers are present (ADVICE r6): one strl per
    # declared stream, a vids/MJPG strh and a BITMAPINFOHEADER strf
    assert avi.count(b"strl") == 1 and b"strh" in avi and b"strf" in avi
    assert b"vids" in avi and avi.count(b"MJPG") == 2  # strh handler + strf biCompression

    media = spark.createDataFrame(
        [Row(doc_id=1, payload=bytearray(avi)),
         Row(doc_id=2, payload=bytearray(b"\x00" * 64))]  # non-video payload
    )
    out = multimodal.mjpeg_frame_stats(media).collect()
    rows = sorted((r for r in out), key=lambda r: r.frame_idx)
    assert [r.doc_id for r in rows] == [1] * 5  # non-AVI emits nothing
    assert [r.frame_idx for r in rows] == [0, 1, 2, 3, 4]
    for i, r in enumerate(rows):
        assert (r.width, r.height, r.channels) == (16, 8, 1)
        # flat-field JPEG round-trip: mean within 2/255 of the source
        assert abs(r.mean_intensity - (40 * i) / 255.0) < 2 / 255.0

    # stride: every 2nd frame
    sampled = multimodal.mjpeg_frame_stats(media, every_n_frames=2).collect()
    assert sorted(r.frame_idx for r in sampled) == [0, 2, 4]


def test_mjpeg_avi_rec_interleave_lists(spark):
    """ADVICE r6: standard interleaved AVIs wrap frame chunks in
    LIST('rec ') sub-lists inside movi. Rewrap encode_avi_mjpeg's output
    into rec groups (frames 0-1 in one rec, frame 2 direct, frames 3-4 in
    another rec) and check the walker still yields all frames IN STREAM
    ORDER, and that the stride samples across the rec boundaries."""
    import struct

    from presto_workload_analyzer_spark.extensions.jpegcodec import encode_jpeg

    frames = [
        encode_jpeg(16, 8, 1, bytes([40 * i] * (16 * 8))) for i in range(5)
    ]

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\0" if len(body) & 1 else b"")

    def rec(sub_frames):
        return chunk(b"LIST", b"rec " + b"".join(chunk(b"00dc", f) for f in sub_frames))

    plain = multimodal.encode_avi_mjpeg(frames, fps=10, width=16, height=8)
    movi_body = (
        b"movi" + rec(frames[:2]) + chunk(b"00dc", frames[2]) + rec(frames[3:])
    )
    # splice: everything up to the movi LIST, then the rec-grouped movi
    movi_at = plain.find(b"LIST", plain.find(b"movi") - 12)
    head = plain[12:movi_at]
    body = b"AVI " + head + chunk(b"LIST", movi_body)
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    assert list(multimodal._iter_avi_mjpeg_frames(avi)) == list(enumerate(frames))
    assert [i for i, _ in multimodal._iter_avi_mjpeg_frames(avi, step=2)] == [0, 2, 4]

    from pyspark.sql import Row

    media = spark.createDataFrame([Row(doc_id=7, payload=bytearray(avi))])
    out = multimodal.mjpeg_frame_stats(media, every_n_frames=2).collect()
    assert sorted(r.frame_idx for r in out) == [0, 2, 4]
    for r in out:
        assert abs(r.mean_intensity - (40 * r.frame_idx) / 255.0) < 2 / 255.0


def test_batched_rows_gen_flushes_at_hint():
    """The shared media-kernel generator flushes output every
    _OUTPUT_BATCH_ROWS (1024) rows: an exploding row_fn (1 input -> 10
    outputs) over 300 inputs must yield ceil(3000/1024) frames of <= 1024
    rows each, in order, with nothing lost."""
    import pandas as pd

    from presto_workload_analyzer_spark.extensions.multimodal import (
        _OUTPUT_BATCH_ROWS,
        _batched_rows_gen,
    )

    def explode10(doc_id, payload):
        for j in range(10):
            yield (doc_id, j)

    gen = _batched_rows_gen(["doc_id", "j"], explode10)
    pdf_in = pd.DataFrame(
        {"doc_id": list(range(300)), "payload": [b"x"] * 300}
    )
    frames = list(gen(iter([pdf_in])))
    assert all(len(f) <= _OUTPUT_BATCH_ROWS for f in frames)
    assert sum(len(f) for f in frames) == 3000
    assert len(frames) == -(-3000 // _OUTPUT_BATCH_ROWS)  # ceil: the flush binds
    flat = pd.concat(frames, ignore_index=True)
    assert flat["doc_id"].tolist() == [i for i in range(300) for _ in range(10)]
    assert flat["j"].tolist() == list(range(10)) * 300


def test_connected_components_long_chain_converges(spark):
    """Pointer jumping (round 7): a 200-node path (diameter 199) must
    converge in O(log n) rounds — plain neighbor-min propagation needed
    199 rounds and hit the max_iter=25 RuntimeError. The SNM blocking
    shape (a run of sorted near-dups linked w apart) is exactly this
    graph, so convergence here is a production contract, not a bonus."""
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(199)]
    )
    got = dedup.connected_components(pairs).collect()
    assert len(got) == 200
    assert {r.cluster_id for r in got} == {0}


# ---- staged registry candidates (round-9+: registry frozen through the
# ---- consolidation window; library + tests land now, registration later)


def test_cluster_scoped_cosine_pairs_and_semantic_dedup(spark):
    """SemDeDup shape: pairs only WITHIN a cluster, exact cosine verify,
    survivor = min id per semantic component; cross-cluster near-identical
    vectors must never pair (the cluster scope is the contract)."""
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import dedup

    rows = [
        # cluster 0: 1 and 2 identical, 3 orthogonal
        R(vec_id=1, embedding=[1.0, 0.0, 0.0], label=0),
        R(vec_id=2, embedding=[2.0, 0.0, 0.0], label=0),
        R(vec_id=3, embedding=[0.0, 1.0, 0.0], label=0),
        # cluster 1: 4 identical to 1/2 in VALUE but scoped apart
        R(vec_id=4, embedding=[1.0, 0.0, 0.0], label=1),
        R(vec_id=5, embedding=[0.0, 0.0, 1.0], label=1),
    ]
    emb = spark.createDataFrame(rows)
    pairs = dedup.cluster_scoped_cosine_pairs(
        emb, "vec_id", "embedding", "label", threshold=0.99
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert abs(pairs[0].cosine - 1.0) < 1e-9

    kept = dedup.semantic_dedup(
        emb, "vec_id", "embedding", "label", threshold=0.99
    )
    assert {r.vec_id for r in kept.collect()} == {1, 3, 4, 5}


def test_cluster_scoped_guard_matches_exact_connectivity(spark):
    """The mega-cluster star guard: 200 identical vectors in one cluster
    emit the root star (n-1 pairs) instead of ~n^2/2, the survivor set is
    identical to the exact run, and a below-cap run IS the exact run."""
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import dedup

    mega = [R(vec_id=i, embedding=[1.0, 2.0, 3.0], label=7) for i in range(200)]
    other = [R(vec_id=1000 + i, embedding=[float(i + 1), 1.0, 0.0], label=8)
             for i in range(20)]
    emb = spark.createDataFrame(mega + other)
    guarded = dedup.cluster_scoped_cosine_pairs(
        emb, "vec_id", "embedding", "label", threshold=0.999, max_cluster_size=50
    )
    g = guarded.collect()
    assert {(r.id_a, r.id_b) for r in g if r.id_b < 1000} == {
        (0, i) for i in range(1, 200)
    }
    exact_kept = {
        r.vec_id
        for r in dedup.semantic_dedup(
            emb, "vec_id", "embedding", "label", threshold=0.999
        ).collect()
    }
    guarded_kept = {
        r.vec_id
        for r in dedup.semantic_dedup(
            emb, "vec_id", "embedding", "label", threshold=0.999,
            max_cluster_size=50,
        ).collect()
    }
    assert exact_kept == guarded_kept

    small = spark.createDataFrame(mega[:10] + other)
    noop = dedup.cluster_scoped_cosine_pairs(
        small, "vec_id", "embedding", "label", threshold=0.999,
        max_cluster_size=10_000,
    )
    ex = dedup.cluster_scoped_cosine_pairs(
        small, "vec_id", "embedding", "label", threshold=0.999
    )
    assert {(r.id_a, r.id_b) for r in noop.collect()} == {
        (r.id_a, r.id_b) for r in ex.collect()
    }


def test_dsir_log_weights_hand_computed(spark):
    """DSIR importance weights against a hand-computed closed form on a
    collision-free vocabulary (aa, bb and cc hash to md5 prefixes 412,
    21a and e03: three distinct features of the 4096)."""
    import math

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import sampling

    source = spark.createDataFrame([
        R(doc_id=1, text="aa aa bb"),
        R(doc_id=2, text="bb cc"),
        R(doc_id=3, text="   "),          # tokenless: no output row
    ])
    target = spark.createDataFrame([R(doc_id=9, text="aa cc cc")])
    D, a = 4096, 1.0
    out = {r.doc_id: r for r in sampling.dsir_log_weights(
        source, target, "doc_id", "text"
    ).collect()}
    S, T = 5, 3  # total source / target tokens
    def lr(ct, cs):
        return (math.log(ct + a) - math.log(T + a * D)) - (
            math.log(cs + a) - math.log(S + a * D))
    want1 = 2 * lr(1, 2) + 1 * lr(0, 2)   # aa aa bb
    want2 = 1 * lr(0, 2) + 1 * lr(2, 1)   # bb cc
    assert set(out) == {1, 2}
    assert abs(out[1].log_w - want1) < 1e-4
    assert abs(out[2].log_w - want2) < 1e-4
    assert (out[1].n_tokens, out[2].n_tokens) == (3, 2)


def test_dsir_md5_mode_and_plan_shape(spark):
    """DSIR ranks a target-like doc above a target-unlike doc, and the
    scoring plan stays JVM-side (no
    Python row eval) with the ratio table broadcast."""
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import sampling

    source = spark.createDataFrame([
        R(doc_id=1, text="curated clean prose sentence"),
        R(doc_id=2, text="zz9 qq8 xx7 vv6"),
    ])
    target = spark.createDataFrame([
        R(doc_id=9, text="curated clean prose sentence curated clean"),
    ])
    df = sampling.dsir_log_weights(source, target, "doc_id", "text")
    out = {r.doc_id: r.log_w for r in df.collect()}
    assert out[1] > out[2]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_dsir_self_target_is_zero(spark):
    """Invariant: when target == source, every feature's smoothed ratio
    is exactly zero (T == S, ct == cs), so every document's log weight is
    0 — the selection signal vanishes when there is nothing to select
    toward."""
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import sampling

    docs = spark.createDataFrame([
        R(doc_id=1, text="alpha beta beta"),
        R(doc_id=2, text="gamma alpha"),
    ])
    out = sampling.dsir_log_weights(docs, docs, "doc_id", "text")
    assert {r.doc_id: r.log_w for r in out.collect()} == {1: 0.0, 2: 0.0}


def test_cluster_pairs_blas_matches_expr(spark):
    """The BLAS physical strategy (xs1's scale path: per-cluster Gram
    matmul in applyInPandas) must produce the SAME logical result as the
    expr join baseline — pair set identical on the real corpus, cosines
    equal to fp-reorder tolerance, and the guard (star) path identical
    too. The 473 s -> seconds speedup at 10x data is only admissible
    because this equivalence holds."""
    from presto_workload_analyzer_spark.extensions import dedup
    from presto_workload_analyzer_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001/embeddings.parquet")
    expr = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.cluster_scoped_cosine_pairs(
            emb, "vec_id", "embedding", "label", threshold=0.4, impl="expr"
        ).collect()
    }
    blas = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.cluster_scoped_cosine_pairs(
            emb, "vec_id", "embedding", "label", threshold=0.4, impl="blas"
        ).collect()
    }
    assert set(expr) == set(blas)
    assert expr  # the corpus must actually exercise the threshold
    for k, v in expr.items():
        assert abs(v - blas[k]) < 1e-9, k

    # guard path: oversized cluster -> root star, identical on both impls
    from pyspark.sql import Row as R

    mega = [R(vec_id=i, embedding=[1.0, 2.0, 3.0], label=7) for i in range(60)]
    other = [R(vec_id=1000 + i, embedding=[float(i + 1), 1.0, 0.0], label=8)
             for i in range(10)]
    both = spark.createDataFrame(mega + other)
    g_expr = {
        (r.id_a, r.id_b)
        for r in dedup.cluster_scoped_cosine_pairs(
            both, "vec_id", "embedding", "label",
            threshold=0.999, max_cluster_size=20,
        ).collect()
    }
    g_blas = {
        (r.id_a, r.id_b)
        for r in dedup.cluster_scoped_cosine_pairs(
            both, "vec_id", "embedding", "label",
            threshold=0.999, max_cluster_size=20, impl="blas",
        ).collect()
    }
    assert g_expr == g_blas


def test_cluster_pairs_blas_row_block_streaming_matches_single_matmul(spark):
    """The row-block streaming path (_cluster_pairs_blas kernels for
    clusters larger than `row_block` — the O(block*n) memory posture
    that removes the unguarded n x n Gram cliff, r10 ADVICE item 2)
    must emit the SAME pair set and cosines as the single-matmul fast
    path: same dot products, just computed panel-by-panel. Forced onto
    the streaming path with row_block=7 against a 40-vector cluster
    (6 panels, one ragged), plus a second cluster and a singleton so
    the group boundary behavior is covered."""
    import numpy as np
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import dedup

    rng = np.random.default_rng(8128)
    rows = [
        R(vec_id=i, embedding=[float(x) for x in rng.normal(size=8)], label=int(i >= 40))
        for i in range(70)
    ] + [R(vec_id=999, embedding=[1.0] * 8, label=5)]
    emb = spark.createDataFrame(rows)
    single = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup._cluster_pairs_blas(
            emb, "vec_id", "embedding", "label", 0.2, None
        ).collect()
    }
    blocked = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup._cluster_pairs_blas(
            emb, "vec_id", "embedding", "label", 0.2, None, row_block=7
        ).collect()
    }
    assert single and set(single) == set(blocked)
    for k, v in single.items():
        assert abs(v - blocked[k]) < 1e-12, k
    # the guard still outranks the block path on an oversized cluster
    star = dedup._cluster_pairs_blas(
        emb, "vec_id", "embedding", "label", -1.0, 10, row_block=7
    ).collect()
    roots = {r.id_a for r in star if r.id_a < 40 or 40 <= r.id_a < 70}
    assert roots <= {0, 40}  # min-id star roots only


def test_xs1_threshold_margin_on_corpus():
    """xs1 runs impl='blas' (BLAS-summed cosine) against a DuckDB oracle
    that folds in order; the gate compare only holds because no corpus
    pair sits within fp-reorder distance of _XS1_SEMDEDUP_THRESHOLD. Pin
    that: if a regenerated embeddings fixture lands a within-cluster pair
    near the threshold, fail HERE with a self-diagnosing message instead
    of a sporadic driver hash mismatch. Pure numpy — exhaustive over all
    within-cluster pairs at both gate SFs."""
    import numpy as np
    import pandas as pd

    from presto_workload_analyzer_spark.driver_queries import (
        _XS1_SEMDEDUP_THRESHOLD as thr,
    )

    for sf in ("0.001", "0.01"):
        pdf = pd.read_parquet(
            f"/root/testdata/sf{sf}/embeddings.parquet",
            columns=["embedding", "label"],
        )
        min_gap = np.inf
        for _, grp in pdf.groupby("label"):
            V = np.array(grp["embedding"].tolist(), dtype=np.float64)
            if len(V) < 2:
                continue
            G = V @ V.T
            d = np.sqrt(np.diag(G))
            ia, ib = np.triu_indices(len(V), k=1)
            cos = G[ia, ib] / (d[ia] * d[ib])
            min_gap = min(min_gap, float(np.abs(cos - thr).min()))
        assert min_gap > 1e-6, (
            f"sf{sf}: a within-cluster pair's cosine sits {min_gap:.2e} from "
            f"_XS1_SEMDEDUP_THRESHOLD={thr} — inside fp-reorder distance, so "
            "the xs1 blas-vs-oracle gate can flip on summation order. "
            "Recalibrate _XS1_SEMDEDUP_THRESHOLD away from the corpus pairs "
            "(driver_queries.py) before trusting the driver gate."
        )


def test_unimax_mix_hand_computed(spark):
    """Closed form vs a hand-walked greedy: sizes (10, 100, 1000), B=330,
    E=2 — the small source caps at 2 epochs (20 tokens), the remaining
    310 splits evenly (155 each, feasible under both caps)."""
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import sampling

    per = spark.createDataFrame(
        [R(source="s", t=10), R(source="m", t=100), R(source="l", t=1000)]
    )
    out = {
        r.source: r
        for r in sampling.unimax_mix(
            per, "source", "t", budget=330.0, epoch_cap=2.0
        ).collect()
    }
    assert out["s"].capped and not out["m"].capped and not out["l"].capped
    assert abs(out["s"].tokens_allocated - 20.0) < 1e-6
    assert abs(out["m"].tokens_allocated - 155.0) < 1e-6
    assert abs(out["l"].tokens_allocated - 155.0) < 1e-6
    assert abs(out["s"].epochs - 2.0) < 1e-6
    assert abs(out["m"].epochs - 1.55) < 1e-6
    assert abs(out["l"].epochs - 0.155) < 1e-6


def test_unimax_mix_matches_sequential_greedy(spark):
    """The closed form IS the paper's sequential greedy: walk sources by
    ascending size, cap any source whose uniform share of the remaining
    budget exceeds E*t, redistribute — property-checked on an adversarial
    size vector (ties, a giant, several cappable smalls)."""
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import sampling

    sizes = {"a": 5, "b": 5, "c": 7, "d": 50, "e": 300, "f": 300, "g": 4000}
    B, E = 900.0, 1.5

    # reference greedy (driver-side, test-only)
    order = sorted(sizes.items(), key=lambda kv: (kv[1], kv[0]))
    remaining, left, alloc = B, len(order), {}
    for src, t in order:
        share = remaining / left
        if E * t < share:
            alloc[src] = E * t
        else:
            alloc[src] = share
        remaining -= alloc[src]
        left -= 1

    per = spark.createDataFrame([R(source=k, t=v) for k, v in sizes.items()])
    out = {
        r.source: r
        for r in sampling.unimax_mix(
            per, "source", "t", budget=B, epoch_cap=E
        ).collect()
    }
    assert set(out) == set(alloc)
    for src, want in alloc.items():
        assert abs(out[src].tokens_allocated - want) < 1e-6, (src, want, out[src])
    assert abs(sum(r.tokens_allocated for r in out.values()) - B) < 1e-6


def test_heldout_bigram_nll_hand_computed(spark):
    """Train 'a b a', held-out 'a b c': N=3, V=2 —
    first 'a': p = 3/6; (a,b): 0.7*(1/2) + 0.3*(2/6) = 0.45;
    (b,c) unseen bigram, OOV 'c': 0.7*0 + 0.3*(1/6) = 0.05."""
    import math

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    df = spark.createDataFrame(
        [R(doc_id=1, text="a b a"), R(doc_id=2, text="a b c")]
    )
    rows = textstats.heldout_bigram_nll(
        df, "doc_id", "text", holdout=F.col("doc_id") == 2, lam=0.7
    ).collect()
    assert len(rows) == 1 and rows[0].id == 2
    want = -(math.log(0.5) + math.log(0.45) + math.log(0.05))
    assert rows[0].n_scored == 3
    assert abs(rows[0].sum_nll - want) < 1e-9


def test_cluster_balanced_sample_hand_computed(spark):
    """A 3-member cluster keeps its 2 lowest-md5 members at ranks 1-2
    with size 3; singletons keep themselves at rank 1 size 1."""
    import hashlib

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import sampling

    docs = spark.createDataFrame([R(doc_id=i) for i in (1, 2, 3, 10)])
    cc = spark.createDataFrame(
        [R(id=1, cluster_id=1), R(id=2, cluster_id=1), R(id=3, cluster_id=1)]
    )
    out = sampling.cluster_balanced_sample(docs, "doc_id", cc, m=2).collect()
    by_cl = {}
    for r in out:
        by_cl.setdefault(r.cluster_id, []).append(r)
    assert {r.doc_id for r in by_cl[10]} == {10}
    assert by_cl[10][0].cluster_size == 1 and by_cl[10][0].pick_rank == 1
    kept = sorted(by_cl[1], key=lambda r: r.pick_rank)
    assert len(kept) == 2 and all(r.cluster_size == 3 for r in kept)
    want = sorted(
        (1, 2, 3), key=lambda i: hashlib.md5(str(i).encode()).hexdigest()
    )[:2]
    assert [r.doc_id for r in kept] == want


def test_temperature_mix_hand_computed(spark):
    """Cube sizes (1, 8, 27) at T=3: cube roots 1/2/3, Z=6 — weights
    1/6, 1/3, 1/2; budget 600 allocates 100/200/300."""
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import sampling

    per = spark.createDataFrame(
        [R(source="a", t=1), R(source="b", t=8), R(source="c", t=27)]
    )
    out = {
        r.source: r
        for r in sampling.temperature_mix(
            per, "source", "t", budget=600.0, temperature=3.0
        ).collect()
    }
    for src, w, alloc, ep in (
        ("a", 1 / 6, 100.0, 100.0),
        ("b", 1 / 3, 200.0, 25.0),
        ("c", 1 / 2, 300.0, 300.0 / 27),
    ):
        assert abs(out[src].weight - round(w, 6)) < 2e-6, src
        assert abs(out[src].tokens_allocated - alloc) < 2e-6, src
        assert abs(out[src].epochs - ep) < 2e-6, src


def test_gopher_rules_hand_computed(spark):
    """Each Gopher rule exercised by a purpose-built document — the
    synthetic corpus only discriminates on word count and stopwords, so
    the bullet/ellipsis/symbol/alpha rules are pinned here."""
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    good = "the cat sat with all of them " * 8  # 56 words, 2+ stopwords
    bullets = "\n".join(["- item one here", "* item two here", "• third"])
    ellipsis = "first line...\nsecond line...\nthird stays"
    symbols = "# " * 30 + "word " * 30
    digits = "12 34 56 78 90 " * 12  # 60 words, zero alphabetic
    docs = spark.createDataFrame(
        [
            R(doc_id=1, text=good.strip()),
            R(doc_id=2, text=bullets),
            R(doc_id=3, text=ellipsis),
            R(doc_id=4, text=symbols.strip()),
            R(doc_id=5, text=digits.strip()),
            R(doc_id=6, text="too short"),
        ]
    )
    out = {
        r.id: r for r in textstats.gopher_rules(docs, "doc_id", "text").collect()
    }
    assert out[1].keep and out[1].n_words == 56 and out[1].n_stopwords >= 2
    assert abs(out[1].mean_word_len - (len(good.strip().replace(" ", "")) / 56)) < 1e-6
    # all three lines start with a bullet glyph -> 1.0 > 0.9
    assert out[2].bullet_frac == 1.0 and not out[2].ok_bullets
    # 2 of 3 lines end with '...' -> 0.666667 > 0.3
    assert abs(out[3].ellipsis_frac - 0.666667) < 1e-6 and not out[3].ok_ellipsis
    # 30 '#' chars / 60 words = 0.5 > 0.1; zero '...' -> ellipsis side ok
    assert abs(out[4].hash_ratio - 0.5) < 1e-6 and not out[4].ok_hash_ratio
    assert out[4].ellipsis_ratio == 0.0 and out[4].ok_ellipsis_ratio
    # zero alphabetic words -> alpha fraction 0 < 0.8
    assert out[5].alpha_word_frac == 0.0 and not out[5].ok_alpha_words
    assert not out[6].ok_word_count and not out[6].keep


def test_gopher_repetition_hand_computed(spark):
    """Positional dup coverage and top-gram tie-break pinned by
    constructed docs (the synthetic corpus has no repeated 5-grams):
    - doc 1 'a b a b a b c d e f g h i j': top 2-gram 'a b' x3,
      2 chars -> 6/14;
    - doc 2 repeats a 5-gram: occurrences cover positions 0-9 of 11
      one-char tokens -> dup5 10/11;
    - doc 3 ties 'a b' and 'b c' at 2 -> lexicographic min 'a b'."""
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    docs = spark.createDataFrame(
        [
            R(doc_id=1, text="a b a b a b c d e f g h i j"),
            R(doc_id=2, text="v w x y z v w x y z q"),
            R(doc_id=3, text="a b c a b c"),
        ]
    )
    out = {
        r.id: r
        for r in textstats.gopher_repetition(docs, "doc_id", "text").collect()
    }
    assert abs(out[1].top2_frac - round(6 / 14 + 1e-9, 6)) < 1e-9
    assert abs(out[2].dup5_frac - round(10 / 11 + 1e-9, 6)) < 1e-9
    assert out[1].dup5_frac == 0.0 and out[1].dup10_frac == 0.0
    # tie at count 2: both 'a b' and 'b c'; min gram 'a b' -> 2*2/6
    assert abs(out[3].top2_frac - round(4 / 6 + 1e-9, 6)) < 1e-9
    # doc 2's top 2-gram: 'v w' 'w x' 'x y' 'y z' each x2, 'z v' 'z q' x1
    # -> tie at 2, min 'v w', frac 2*2/11
    assert abs(out[2].top2_frac - round(4 / 11 + 1e-9, 6)) < 1e-9


def test_xs12_threshold_margin_on_corpus():
    """xs12's keep flag compares round(ppl, 6) < _XS12_PPL_THRESHOLD on
    both engines; the compare is safe only while no doc's perplexity
    sits near the threshold. Pin the margin (currently 0.0178 at both
    gate SFs — seven orders above exp/ln cross-engine drift) so a
    regenerated documents fixture fails HERE with a self-diagnosing
    message instead of a sporadic driver hash mismatch. DuckDB replays
    the exact oracle arithmetic; also asserts the threshold still
    BIFURCATES (some kept, some dropped) so the gate keeps hashing a
    real decision."""
    import duckdb

    from presto_workload_analyzer_spark.driver_queries import (
        _XS12_PPL_THRESHOLD as thr,
        _xs12_sql,
    )

    sql = _xs12_sql().split(" SELECT id AS doc_id,")[0] + (
        " SELECT exp(snll / ns) AS ppl FROM perdoc"
    )
    for sf in ("0.001", "0.01"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf{sf}/documents.parquet')"
        )
        vals = [v for (v,) in con.sql(sql).fetchall()]
        gap = min(abs(v - thr) for v in vals)
        kept = sum(v < thr for v in vals)
        assert gap > 1e-4, (
            f"sf{sf}: a held-out doc's perplexity sits {gap:.2e} from "
            f"_XS12_PPL_THRESHOLD={thr} — within fp-drift distance, so the "
            "keep flag can flip across engines. Recalibrate the threshold "
            "into a wider corpus gap (driver_queries.py) before trusting "
            "the gate."
        )
        assert 0 < kept < len(vals), (
            f"sf{sf}: threshold no longer bifurcates ({kept}/{len(vals)} "
            "kept) — the gate would hash a constant flag; recalibrate."
        )


def test_cluster_balanced_sample_hierarchical_matches_single_window(spark):
    """The two-level pick rank must equal the single-window formulation
    — pinned on a 400-member cluster whose members spread across many
    hash-prefix shards (the monotone-shard precondition is what makes
    the ranks identical), plus singletons."""
    from pyspark.sql import Row as R, Window
    from pyspark.sql import functions as F

    from presto_workload_analyzer_spark.extensions import sampling

    docs = spark.createDataFrame([R(doc_id=i) for i in range(450)])
    cc = spark.createDataFrame(
        [R(id=i, cluster_id=0) for i in range(400)]
    )
    got = {
        (r.doc_id, r.cluster_id, r.cluster_size, r.pick_rank)
        for r in sampling.cluster_balanced_sample(docs, "doc_id", cc, m=3).collect()
    }
    key = F.md5(F.col("doc_id").cast("string"))
    full = docs.join(
        cc.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    w = Window.partitionBy("cluster_id").orderBy(key.asc(), F.col("doc_id").asc())
    wsz = Window.partitionBy("cluster_id")
    want = {
        (r.doc_id, r.cluster_id, r.cluster_size, r.pick_rank)
        for r in full.withColumn("pick_rank", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wsz))
        .filter(F.col("pick_rank") <= 3)
        .collect()
    }
    assert got == want


def test_gopher_repetition_random_vs_python_reference(spark):
    """gopher_repetition vs an independent brute-force Python reference
    on 120 seeded random docs (repeats planted, lengths spanning the
    shorter-than-n edge): top-gram count/tie-break and positional dup
    coverage must agree within rounding distance on every doc."""
    import random

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    rng = random.Random(41012)
    vocab = ["ab", "cde", "f", "ghij", "k", "lmn"]
    docs = []
    for i in range(120):
        n = rng.randint(1, 15)
        toks = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.5 and n >= 6:
            # plant a repeated span to exercise the dup rules
            span = toks[: rng.randint(2, min(6, n // 2))]
            toks = toks + span + toks[:3] + span
        docs.append((i, " ".join(toks)))
    sdf = spark.createDataFrame([R(doc_id=i, text=t) for i, t in docs])
    got = {
        r.id: r
        for r in textstats.gopher_repetition(sdf, "doc_id", "text").collect()
    }

    def ref(text):
        toks = text.strip().lower().split()
        total = sum(len(t) for t in toks)
        out = {}
        for n in (2, 3, 4):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            if not grams:
                out[f"top{n}"] = 0.0
                continue
            counts = {}
            for g in grams:
                counts[g] = counts.get(g, 0) + 1
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            out[f"top{n}"] = best[1] * (len(best[0]) - (n - 1)) / total
        for n in (5, 10):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            counts = {}
            for g in grams:
                counts[g] = counts.get(g, 0) + 1
            covered = set()
            for i, g in enumerate(grams):
                if counts[g] >= 2:
                    covered.update(range(i, i + n))
            out[f"dup{n}"] = (
                sum(len(toks[j]) for j in covered) / total if covered else 0.0
            )
        return out

    for i, t in docs:
        want = ref(t)
        for k in ("top2", "top3", "top4", "dup5", "dup10"):
            gotv = getattr(got[i], f"{k}_frac")
            assert abs(gotv - want[k]) < 6e-7, (i, k, gotv, want[k], t)


def test_heldout_bigram_nll_random_vs_python_reference(spark):
    """heldout_bigram_nll vs an independent Python reference on a seeded
    random corpus: train counts, add-1 OOV floor, zeroed bigram term for
    unseen history, and the first-token convention must all agree to
    1e-9 on every held-out doc."""
    import math
    import random

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    rng = random.Random(77310)
    vocab = ["aa", "b", "ccc", "dd", "e", "ffff", "g"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        for i in range(80)
    ]
    sdf = spark.createDataFrame([R(doc_id=i, text=t) for i, t in docs])
    lam = 0.7
    got = {
        r.id: r
        for r in textstats.heldout_bigram_nll(
            sdf, "doc_id", "text", holdout=F.col("doc_id") % 3 == 0, lam=lam
        ).collect()
    }

    train = [t.lower().split() for i, t in docs if i % 3 != 0]
    uni, bi = {}, {}
    for toks in train:
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    N, V = sum(uni.values()), len(uni)

    def p_uni(w):
        return (uni.get(w, 0) + 1.0) / (N + V + 1.0)

    for i, t in docs:
        if i % 3 != 0:
            assert i not in got
            continue
        toks = t.lower().split()
        nll = [-math.log(p_uni(toks[0]))]
        for a, b in zip(toks, toks[1:]):
            bt = bi.get((a, b), 0) / uni[a] if uni.get(a, 0) > 0 else 0.0
            nll.append(-math.log(lam * bt + (1 - lam) * p_uni(b)))
        assert got[i].n_scored == len(nll), i
        assert abs(got[i].sum_nll - sum(nll)) < 1e-9, i


def test_gopher_rules_random_vs_python_reference(spark):
    """gopher_rules vs an independent Python reference on seeded random
    docs mixing clean words, stopwords, digits, '#' runs and bullet /
    ellipsis lines — every measured value and every flag must agree."""
    import random

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    rng = random.Random(90125)
    words = ["alpha", "be", "the", "x1", "42", "###", "of", "zz"]
    docs = []
    for i in range(100):
        n = rng.randint(1, 80)
        toks = [rng.choice(words) for _ in range(n)]
        lines = [" ".join(toks)]
        if rng.random() < 0.4:
            lines.append("- a bullet line")
        if rng.random() < 0.4:
            lines.append("trailing thought...")
        docs.append((i, "\n".join(lines)))
    sdf = spark.createDataFrame([R(doc_id=i, text=t) for i, t in docs])
    got = {
        r.id: r for r in textstats.gopher_rules(sdf, "doc_id", "text").collect()
    }
    stopset = ("the", "be", "to", "of", "and", "that", "have", "with")
    bullets = ("•", "‣", "▶", "-", "*")
    for i, t in docs:
        toks = t.strip().split()
        n_words = len(toks)
        mean_len = sum(len(w) for w in toks) / n_words
        n_hash = t.count("#")
        n_ell = len(t.split("...")) - 1
        lines = t.split("\n")
        bf = sum(
            1 for ln in lines if any(ln.strip().startswith(b) for b in bullets)
        ) / len(lines)
        ef = sum(
            1
            for ln in lines
            if ln.strip().endswith("...") or ln.strip().endswith("…")
        ) / len(lines)
        af = sum(1 for w in toks if any(c.isalpha() and c.isascii() for c in w)) / n_words
        ns = sum(1 for w in stopset if w in [x.lower() for x in toks])
        r = got[i]
        assert r.n_words == n_words, i
        assert abs(r.mean_word_len - mean_len) < 6e-7, i
        assert abs(r.hash_ratio - n_hash / n_words) < 6e-7, i
        assert abs(r.ellipsis_ratio - n_ell / n_words) < 6e-7, i
        assert abs(r.bullet_frac - bf) < 6e-7, i
        assert abs(r.ellipsis_frac - ef) < 6e-7, i
        assert abs(r.alpha_word_frac - af) < 6e-7, i
        assert r.n_stopwords == ns, i
        want_keep = (
            50 <= n_words <= 100_000
            and 3.0 <= round(mean_len + 1e-9, 6) <= 10.0
            and round(n_hash / n_words + 1e-9, 6) <= 0.1
            and round(n_ell / n_words + 1e-9, 6) <= 0.1
            and round(bf + 1e-9, 6) <= 0.9
            and round(ef + 1e-9, 6) <= 0.3
            and round(af + 1e-9, 6) >= 0.8
            and ns >= 2
        )
        assert r.keep == want_keep, (i, t[:60])


def test_c4_line_stats_hand_computed(spark):
    """Each C4 rule exercised by a purpose-built document: terminal
    punctuation (period / bang / end-quote kept, bare line dropped),
    the < 3-word line drop, the 'javascript' line drop, and the three
    page-grain rules (>= 5 kept lines, lorem ipsum, curly brace)."""
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    docs = spark.createDataFrame(
        [
            R(doc_id=1, text='good line one here.\nshort.\nno punct line here'
                             '\nanother fine line!\nquoted line "'
                             '\nmore good text here.\nlast one ok.'),
            R(doc_id=2, text="lorem ipsum dolor sit.\nfine line here."
                             "\nok line two here.\nok line three here."
                             "\nok line four here.\nok line five here."),
            R(doc_id=3, text="var x = {\na good line here."
                             "\nthis uses JavaScript here.\nok two here."
                             "\nok three here.\nok four here.\nok five here."),
            R(doc_id=4, text="only four lines kept one.\nkept two here."
                             "\nkept three here.\nkept four here.\nnope"),
        ]
    )
    out = {
        r.id: r
        for r in textstats.c4_line_stats(docs, "doc_id", "text").collect()
    }
    # doc 1: 7 lines; 'short.' (<3 words) and 'no punct line here' drop
    assert out[1].n_lines == 7 and out[1].n_kept_lines == 5
    assert out[1].keep and not out[1].has_lorem_ipsum
    assert abs(out[1].kept_frac - round(5 / 7 + 1e-9, 6)) < 1e-9
    # doc 2: every line keeps, but the page has lorem ipsum
    assert out[2].n_kept_lines == 6 and out[2].ok_min_lines
    assert out[2].has_lorem_ipsum and not out[2].keep
    # doc 3: curly page + case-insensitive javascript line drop
    assert out[3].has_curly_brace and not out[3].keep
    assert out[3].n_kept_lines == 5  # js line dropped at line grain
    # doc 4: clean page but only 4 kept lines -> min-lines rule fails
    assert out[4].n_kept_lines == 4
    assert not out[4].ok_min_lines and not out[4].keep


def test_c4_line_stats_random_vs_python_reference(spark):
    """c4_line_stats vs an independent Python reference on seeded random
    multi-line docs mixing punctuation endings, short lines, javascript
    mentions and page-grain triggers — every value and flag must agree."""
    import random

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    rng = random.Random(6502)
    docs = []
    for i in range(80):
        lines = []
        for _ in range(rng.randint(1, 9)):
            ws = [rng.choice(["aa", "bb", "cc", "javascript"])
                  for _ in range(rng.randint(1, 5))]
            end = rng.choice([".", "!", "?", '"', "", " "])
            lines.append(" ".join(ws) + end)
        if rng.random() < 0.15:
            lines.append("lorem ipsum block")
        if rng.random() < 0.15:
            lines.append("code { here }.")
        docs.append((i, "\n".join(lines)))
    sdf = spark.createDataFrame([R(doc_id=i, text=t) for i, t in docs])
    got = {
        r.id: r
        for r in textstats.c4_line_stats(sdf, "doc_id", "text").collect()
    }
    for i, t in docs:
        lines = t.split("\n")
        kept = [
            ln
            for ln in lines
            if ln.strip().endswith((".", "!", "?", '"'))
            and len(ln.strip().split()) >= 3
            and "javascript" not in ln.lower()
        ]
        lorem = "lorem ipsum" in t.lower()
        curly = "{" in t
        r = got[i]
        assert r.n_lines == len(lines), i
        assert r.n_kept_lines == len(kept), i
        assert abs(r.kept_frac - round(len(kept) / len(lines) + 1e-9, 6)) < 1e-9, i
        assert r.has_lorem_ipsum == lorem and r.has_curly_brace == curly, i
        assert r.keep == (len(kept) >= 5 and not lorem and not curly), i


def test_duplicated_line_removal_hand_computed(spark):
    """First-occurrence-wins semantics and the byte-exact cleaned md5
    witness, pinned on planted duplicates: 'bbb' appears in docs 1, 2
    and 3 (doc 1 line 1 is the global first), 'aaa' in docs 1 and 3."""
    import hashlib

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import dedup

    docs = spark.createDataFrame(
        [
            R(doc_id=1, text="aaa\nbbb\nccc"),
            R(doc_id=2, text="bbb\nddd"),
            R(doc_id=3, text="bbb\naaa\neee"),
        ]
    )
    out = {
        r.id: r
        for r in dedup.duplicated_line_removal(docs, "doc_id", "text").collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[1].n_dropped == 0 and out[1].cleaned_digest == md5("aaa\nbbb\nccc")
    assert out[2].n_dropped == 1 and out[2].cleaned_digest == md5("ddd")
    assert out[3].n_dropped == 2 and out[3].cleaned_digest == md5("eee")
    assert abs(out[3].kept_frac - round(1 / 3 + 1e-9, 6)) < 1e-9
    # a doc whose every line duplicates earlier content hashes md5('')
    allgone = spark.createDataFrame(
        [R(doc_id=1, text="xx\nyy"), R(doc_id=2, text="yy\nxx")]
    )
    out2 = {
        r.id: r
        for r in dedup.duplicated_line_removal(allgone, "doc_id", "text").collect()
    }
    assert out2[2].n_dropped == 2 and out2[2].cleaned_digest == md5("")


def test_duplicated_line_removal_random_vs_python_reference(spark):
    """duplicated_line_removal vs an independent Python replay on seeded
    random docs over a tiny line vocabulary (heavy cross-doc duplication
    by construction) — counts, fractions and cleaned digests must all
    agree."""
    import hashlib
    import random

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import dedup

    rng = random.Random(1729)
    vocab = [f"line {i} text" for i in range(12)]
    docs = [
        (i, "\n".join(rng.choice(vocab) for _ in range(rng.randint(1, 6))))
        for i in range(60)
    ]
    sdf = spark.createDataFrame([R(doc_id=i, text=t) for i, t in docs])
    got = {
        r.id: r
        for r in dedup.duplicated_line_removal(sdf, "doc_id", "text").collect()
    }
    first: dict[str, tuple] = {}
    counts: dict[str, int] = {}
    for i, t in docs:
        for j, ln in enumerate(t.split("\n")):
            counts[ln] = counts.get(ln, 0) + 1
            if ln not in first or (i, j) < first[ln]:
                first[ln] = (i, j)
    for i, t in docs:
        lines = t.split("\n")
        kept = [
            ln
            for j, ln in enumerate(lines)
            if counts[ln] == 1 or first[ln] == (i, j)
        ]
        r = got[i]
        assert r.n_lines == len(lines), i
        assert r.n_dropped == len(lines) - len(kept), i
        assert r.cleaned_digest == hashlib.md5(
            "\n".join(kept).encode()
        ).hexdigest(), i
    # conservation invariant: first-occurrence-wins keeps EXACTLY one
    # occurrence per distinct line value, so the corpus-wide kept total
    # must equal the number of distinct line strings — any over- or
    # under-dropping breaks this regardless of which occurrence survives
    total_kept = sum(r.n_lines - r.n_dropped for r in got.values())
    assert total_kept == len(counts)


def test_bm25_scores_random_vs_python_reference(spark):
    """bm25_scores vs a from-scratch Python Okapi implementation on
    seeded random docs — scores equal to fp tolerance, non-matching
    docs absent, k1/b actually exercised (non-default values)."""
    import math
    import random

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    rng = random.Random(31337)
    words = ["spark", "join", "filter", "other", "words", "here"]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 30))))
        for i in range(120)
    ]
    terms, k1, b = ("spark", "filter"), 1.5, 0.6
    sdf = spark.createDataFrame([R(doc_id=i, text=t) for i, t in docs])
    got = {
        r.id: r.bm25
        for r in textstats.bm25_scores(
            sdf, "doc_id", "text", terms, k1=k1, b=b
        ).collect()
    }
    n = len(docs)
    dls = {i: len(t.split()) for i, t in docs}
    avgdl = sum(dls.values()) / n
    dfs = {t: sum(1 for _, txt in docs if t in txt.split()) for t in terms}
    for i, t in docs:
        toks = t.split()
        score = 0.0
        for q in terms:
            tf = toks.count(q)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - dfs[q] + 0.5) / (dfs[q] + 0.5))
            score += idf * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dls[i] / avgdl)
            )
        if score == 0.0:
            assert i not in got, i
        else:
            assert i in got and abs(got[i] - round(score + 1e-9, 6)) < 1e-9, i


def test_duplicated_line_removal_regex_special_delimiter(spark):
    """r11 ADVICE item 1: a regex-special delimiter ('.', '|') must split
    LITERALLY — before the \\Q..\\E quoting, F.split treated it as a
    Java regex ('.' split on every character) while the cleaned_digest
    rejoin used the literal, silently producing wrong hashes."""
    import hashlib

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import dedup

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    for delim in (".", "|", "||", "a\\Eb"):
        docs = spark.createDataFrame(
            [
                R(doc_id=1, text=delim.join(["aaa", "bbb", "ccc"])),
                R(doc_id=2, text=delim.join(["bbb", "ddd"])),
            ]
        )
        out = {
            r.id: r
            for r in dedup.duplicated_line_removal(
                docs, "doc_id", "text", delimiter=delim
            ).collect()
        }
        assert out[1].n_lines == 3 and out[1].n_dropped == 0, delim
        assert out[1].cleaned_digest == md5(delim.join(["aaa", "bbb", "ccc"])), delim
        assert out[2].n_lines == 2 and out[2].n_dropped == 1, delim
        assert out[2].cleaned_digest == md5("ddd"), delim


def test_bm25_scores_mixed_case_query_terms(spark):
    """r11 ADVICE item 3: corpus tokens are lowercased, so mixed-case
    query terms must be lowercased too (previously 'Spark' silently
    matched nothing); duplicate terms after folding collapse to one."""
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    sdf = spark.createDataFrame(
        [
            R(doc_id=1, text="Spark joins the filter stream"),
            R(doc_id=2, text="no query words at all"),
            R(doc_id=3, text="spark spark filter"),
        ]
    )
    lower = {
        r.id: r.bm25
        for r in textstats.bm25_scores(
            sdf, "doc_id", "text", ("spark", "filter")
        ).collect()
    }
    mixed = {
        r.id: r.bm25
        for r in textstats.bm25_scores(
            sdf, "doc_id", "text", ("Spark", "FILTER", "spark")
        ).collect()
    }
    assert lower and mixed == lower
    assert 2 not in lower


def test_bfd_packing_hand_computed(spark):
    """Best-fit semantics pinned on a constructed group where BFD and
    first-fit diverge: sizes [6,5,4,3,2] budget 8 ->
      6 -> bin0 (rem 2); 5 -> bin1 (rem 3); 4 -> bin2 (rem 4);
      3 -> bin1 (best fit rem 3; FIRST fit would pick bin2's rem 4);
      2 -> bin0 (rem 2 exactly).
    Plus an oversized item getting its own never-reused bin."""
    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    rows = [R(src="a", doc_id=i, sz=s) for i, s in enumerate([6, 5, 4, 3, 2])]
    rows.append(R(src="b", doc_id=0, sz=99))  # oversized vs budget 8
    rows.append(R(src="b", doc_id=1, sz=5))
    df = spark.createDataFrame(rows)
    out = {
        (r.part, r.id): r.bin
        for r in textstats.best_fit_decreasing_pack(
            df, "src", "doc_id", "sz", budget=8, shard_size=1000
        ).collect()
    }
    assert out[("a", 0)] == 0 and out[("a", 1)] == 1 and out[("a", 2)] == 2
    assert out[("a", 3)] == 1  # BEST fit (first fit would say bin 2)
    assert out[("a", 4)] == 0
    # oversized doc 0 packs first (largest), owns bin 0 with negative
    # remainder; doc 1 cannot reuse it and opens bin 1
    assert out[("b", 0)] == 0 and out[("b", 1)] == 1


def test_bfd_packing_random_vs_python_reference(spark):
    """best_fit_decreasing_pack vs an independent Python BFD replay on
    seeded random sizes across several parts and shards — every
    assignment must agree (ties and new-bin indices included)."""
    import bisect
    import random

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    rng = random.Random(4004)
    rows = [
        R(src=f"s{rng.randint(0, 2)}", doc_id=i, sz=rng.randint(1, 40))
        for i in range(300)
    ]
    budget, shard_size = 100, 64
    df = spark.createDataFrame(rows)
    got = {
        (r.part, r.shard, r.id): r.bin
        for r in textstats.best_fit_decreasing_pack(
            df, "src", "doc_id", "sz", budget=budget, shard_size=shard_size
        ).collect()
    }
    groups: dict[tuple, list] = {}
    for r in rows:
        groups.setdefault((r.src, r.doc_id // shard_size), []).append(
            (r.sz, r.doc_id)
        )
    for (src, sh), items in groups.items():
        bins: list[tuple[int, int]] = []
        n_bins = 0
        for sz, did in sorted(items, key=lambda t: (-t[0], t[1])):
            pos = bisect.bisect_left(bins, (sz, -1))
            if pos < len(bins):
                rem, idx = bins.pop(pos)
                bisect.insort(bins, (rem - sz, idx))
            else:
                idx = n_bins
                n_bins += 1
                bisect.insort(bins, (budget - sz, idx))
            assert got[(src, sh, did)] == idx, (src, sh, did)


def test_xs17_best_fit_discriminates_on_corpus():
    """xs17's calibration pin (the xs12-margin-test pattern): at budget
    _XS17_BUDGET the corpus must make best-fit diverge from FIRST-fit in
    at least one (source, shard) group at both gate SFs — otherwise the
    gate would hash a packing any greedy rule produces and a regenerated
    fixture could silently stop exercising the best-fit choice. Pure
    DuckDB + python, no Spark session."""
    import bisect

    import duckdb

    from presto_workload_analyzer_spark.driver_queries import (
        _XS17_BUDGET as B,
        _XS17_SHARD as SH,
    )

    for sf in ("0.001", "0.01"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf{sf}/documents.parquet')"
        )
        g = con.sql(
            "SELECT source, doc_id, CAST(len(string_split_regex(trim(text),"
            " '\\s+')) AS BIGINT) AS sz FROM documents"
        ).fetchall()
        groups: dict[tuple, list] = {}
        for src, did, sz in g:
            groups.setdefault((src, did // SH), []).append((int(sz), int(did)))
        diverged = 0
        for items in groups.values():
            order = sorted(items, key=lambda t: (-t[0], t[1]))
            bins: list[tuple[int, int]] = []
            nb = 0
            bfd = []
            for sz, _ in order:
                pos = bisect.bisect_left(bins, (sz, -1))
                if pos < len(bins):
                    rem, idx = bins.pop(pos)
                    bisect.insort(bins, (rem - sz, idx))
                else:
                    idx = nb
                    nb += 1
                    bisect.insort(bins, (B - sz, idx))
                bfd.append(idx)
            rem2: list[int] = []
            ffd = []
            for sz, _ in order:
                for i, r in enumerate(rem2):
                    if r >= sz:
                        rem2[i] -= sz
                        ffd.append(i)
                        break
                else:
                    rem2.append(B - sz)
                    ffd.append(len(rem2) - 1)
            if bfd != ffd:
                diverged += 1
        assert diverged > 0, (
            f"sf{sf}: best-fit never diverges from first-fit at budget {B} "
            "— recalibrate _XS17_BUDGET so the gate hashes the best-fit rule."
        )


def test_xs18_unimax_threshold_margin_on_corpus():
    """xs18's capped/uncapped split compares exact-integer L_i against
    _XS18_BUDGET on both engines; pin (a) that the threshold still
    BIFURCATES the surviving sources (some capped, some not — otherwise
    the gate hashes a constant branch) and (b) that no L_i sits within
    fp distance of the budget (min margin currently 71 tokens at
    sf0.001, 693 at sf0.01), so a regenerated documents fixture fails
    HERE instead of flipping a strict < across engines. Pure DuckDB,
    replaying the oracle's own survivor CTEs."""
    import duckdb

    from presto_workload_analyzer_spark.driver_queries import (
        _XS18_BUDGET as B,
        _XS18_EPOCH_CAP as E,
        _xs18_sql,
    )

    head = _xs18_sql().split(" r AS (SELECT source, t,")[0].rstrip().rstrip(",")
    for sf in ("0.001", "0.01"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf{sf}/documents.parquet')"
        )
        rows = sorted(
            con.sql(head + " SELECT t, source FROM per").fetchall()
        )
        n = len(rows)
        cum = 0
        capped = 0
        margins = []
        for i, (t, _src) in enumerate(rows, start=1):
            load = E * (t * (n - i + 1) + cum)
            margins.append(abs(load - B))
            if load < B:
                capped += 1
            cum += t
        assert 0 < capped < n, (
            f"sf{sf}: budget {B} no longer bifurcates ({capped}/{n} capped) "
            "— recalibrate _XS18_BUDGET."
        )
        assert min(margins) > 1.0, (
            f"sf{sf}: a source load sits {min(margins):.2e} tokens from the "
            "budget — within fp-flip distance; recalibrate _XS18_BUDGET."
        )


def _py_dup_spans(docs, k, min_len):
    """Independent Python replay of the gram-anchored maximal-span
    definition: corpus-duplicated k-grams -> per-doc position runs with
    gap <= k merged -> [start, end] intervals, filtered to >= min_len."""
    from collections import Counter

    grams = Counter()
    per_doc = {}
    for i, t in docs:
        toks = t.split()
        per_doc[i] = toks
        for p in range(max(len(toks) - k + 1, 0)):
            grams[" ".join(toks[p : p + k])] += 1
    spans = {}
    for i, toks in per_doc.items():
        dup_pos = [
            p
            for p in range(max(len(toks) - k + 1, 0))
            if grams[" ".join(toks[p : p + k])] >= 2
        ]
        runs = []
        for p in dup_pos:
            if runs and p - runs[-1][1] <= k:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        ivals = [
            (st, en + k - 1)
            for st, en in runs
            if (en + k - 1) - st + 1 >= min_len
        ]
        spans[i] = ivals
    return per_doc, spans


def test_maximal_duplicate_spans_hand_computed(spark):
    """A 12-token boilerplate block pasted into two otherwise-unique docs
    must come back as ONE maximal >= 10-token span per doc (not a pile
    of trigram fragments), with matching span digests across the two
    occurrences; a doc sharing only a single trigram reports nothing at
    min_len=10."""
    import hashlib

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import dedup

    block = " ".join(f"b{j}" for j in range(12))
    docs = spark.createDataFrame(
        [
            R(doc_id=1, text=f"u1 u2 {block} u3"),
            R(doc_id=2, text=f"v1 {block} v2 v3 v4"),
            R(doc_id=3, text="w1 b0 b1 b2 w2 w3"),  # lone shared trigram
        ]
    )
    out = dedup.maximal_duplicate_spans(docs, "doc_id", "text", k=3, min_len=10)
    rows = {r.id: r for r in out.collect()}
    assert set(rows) == {1, 2}
    dig = hashlib.md5(block.encode()).hexdigest()
    assert rows[1].span_start == 2 and rows[1].span_end == 13
    assert rows[2].span_start == 1 and rows[2].span_end == 12
    assert rows[1].span_len == 12 == rows[2].span_len
    assert rows[1].span_digest == dig == rows[2].span_digest


def test_exactsubstr_removal_hand_computed(spark):
    """Removal strips exactly the >= min_len spans (every occurrence),
    keeps sub-threshold duplication, and the cleaned digest is the
    byte-exact md5 of the surviving tokens."""
    import hashlib

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import dedup

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    block = " ".join(f"b{j}" for j in range(12))
    docs = spark.createDataFrame(
        [
            R(doc_id=1, text=f"u1 u2 {block} u3"),
            R(doc_id=2, text=f"v1 {block} v2 v3 v4"),
            R(doc_id=3, text="w1 b0 b1 b2 w2 w3"),
        ]
    )
    out = {
        r.id: r
        for r in dedup.exactsubstr_removal(
            docs, "doc_id", "text", k=3, min_len=10
        ).collect()
    }
    assert out[1].n_tokens == 15 and out[1].n_removed == 12
    assert out[1].cleaned_digest == md5("u1 u2 u3")
    assert out[2].n_tokens == 16 and out[2].n_removed == 12
    assert out[2].cleaned_digest == md5("v1 v2 v3 v4")
    assert out[3].n_tokens == 6 and out[3].n_removed == 0
    assert out[3].cleaned_digest == md5("w1 b0 b1 b2 w2 w3")


def test_dup_spans_random_vs_python_reference(spark):
    """maximal_duplicate_spans + exactsubstr_removal vs the independent
    Python replay on seeded random docs built from a tiny vocabulary
    with planted shared blocks (heavy gram duplication by construction):
    span sets, removal counts and cleaned digests must all agree."""
    import hashlib
    import random

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import dedup

    rng = random.Random(4242)
    vocab = [f"w{i}" for i in range(40)]
    blocks = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 14)))
        for _ in range(4)
    ]
    docs = []
    for i in range(50):
        parts = [rng.choice(vocab) for _ in range(rng.randint(3, 10))]
        if rng.random() < 0.6:
            parts.insert(rng.randrange(len(parts) + 1), rng.choice(blocks))
        docs.append((i, " ".join(" ".join(parts).split())))
    k, L = 3, 8
    per_doc, ref_spans = _py_dup_spans(docs, k, L)
    sdf = spark.createDataFrame([R(doc_id=i, text=t) for i, t in docs])
    got_spans = {}
    for r in dedup.maximal_duplicate_spans(
        sdf, "doc_id", "text", k=k, min_len=L
    ).collect():
        got_spans.setdefault(r.id, []).append(
            (r.span_start, r.span_end, r.span_len, r.span_digest)
        )
    for i in range(50):
        want = [
            (
                st,
                en,
                en - st + 1,
                hashlib.md5(" ".join(per_doc[i][st : en + 1]).encode()).hexdigest(),
            )
            for st, en in ref_spans[i]
        ]
        assert sorted(got_spans.get(i, [])) == sorted(want), i
    got_rm = {
        r.id: r
        for r in dedup.exactsubstr_removal(
            sdf, "doc_id", "text", k=k, min_len=L
        ).collect()
    }
    for i, toks in per_doc.items():
        covered = set()
        for st, en in ref_spans[i]:
            covered.update(range(st, en + 1))
        kept = [t for j, t in enumerate(toks) if j not in covered]
        r = got_rm[i]
        assert r.n_tokens == len(toks) and r.n_removed == len(covered), i
        assert r.cleaned_digest == hashlib.md5(
            " ".join(kept).encode()
        ).hexdigest(), i


def test_reference_delta_scores_random_vs_python_reference(spark):
    """reference_delta_scores vs an independent Python replay: two JM
    bigram LMs fit on DISJOINT slices (target %10==0, base %5!=0),
    candidates (%5==0 and %10!=0) scored under both, delta = per-token
    NLL difference — sums and deltas agree to 1e-9 on every candidate,
    and no non-candidate row appears."""
    import math
    import random

    from pyspark.sql import Row as R

    from presto_workload_analyzer_spark.extensions import textstats

    rng = random.Random(60901)
    vocab = ["aa", "b", "ccc", "dd", "e", "ffff", "g", "hh"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        for i in range(120)
    ]
    sdf = spark.createDataFrame([R(doc_id=i, text=t) for i, t in docs])
    lam = 0.7
    cand = (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 10 != 0)
    got = {
        r.id: r
        for r in textstats.reference_delta_scores(
            sdf,
            "doc_id",
            "text",
            candidates=cand,
            target_train=F.col("doc_id") % 10 == 0,
            base_train=F.col("doc_id") % 5 != 0,
            lam=lam,
        ).collect()
    }

    def fit(pred):
        uni, bi = {}, {}
        for i, t in docs:
            if not pred(i):
                continue
            toks = t.lower().split()
            for w in toks:
                uni[w] = uni.get(w, 0) + 1
            for a, b in zip(toks, toks[1:]):
                bi[(a, b)] = bi.get((a, b), 0) + 1
        return uni, bi, sum(uni.values()), len(uni)

    def score(toks, uni, bi, N, V):
        p_uni = lambda w: (uni.get(w, 0) + 1.0) / (N + V + 1.0)  # noqa: E731
        nll = [-math.log(p_uni(toks[0]))]
        for a, b in zip(toks, toks[1:]):
            bt = bi.get((a, b), 0) / uni[a] if uni.get(a, 0) > 0 else 0.0
            nll.append(-math.log(lam * bt + (1 - lam) * p_uni(b)))
        return sum(nll), len(nll)

    base_lm = fit(lambda i: i % 5 != 0)
    tgt_lm = fit(lambda i: i % 10 == 0)
    for i, t in docs:
        if not (i % 5 == 0 and i % 10 != 0):
            assert i not in got
            continue
        toks = t.lower().split()
        sb, ns = score(toks, *base_lm)
        st, _ = score(toks, *tgt_lm)
        r = got[i]
        assert r.n_scored == ns, i
        assert abs(r.sum_nll_base - sb) < 1e-9, i
        assert abs(r.sum_nll_target - st) < 1e-9, i
        assert abs(r.delta - (sb - st) / ns) < 1e-9, i


def _staged_con(sf):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('/root/testdata/sf{sf}/documents.parquet')"
    )
    return con


def test_xs20_span_threshold_bifurcates_on_corpus():
    """xs20/xs23's calibration pin: at k=3 the corpus must hold maximal
    dup spans BOTH below and at/above the 10-token threshold at both
    gate SFs (otherwise the gate hashes a vacuous filter), and the
    removal must leave some docs untouched while touching others."""
    from presto_workload_analyzer_spark.driver_queries import (
        _XS20_MIN_LEN as L,
        _span_sql_head,
        xs23_sql,
    )

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        lens = [
            r[0]
            for r in con.sql(
                _span_sql_head() + " SELECT en - st + 1 FROM sp"
            ).fetchall()
        ]
        assert any(x < L for x in lens) and any(x >= L for x in lens), (
            f"sf{sf}: span lengths {sorted(set(lens))[:5]}.. do not straddle "
            f"min_len={L} — recalibrate _XS20_MIN_LEN."
        )
        touched, untouched = con.sql(
            "SELECT sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END),"
            " sum(CASE WHEN n_removed = 0 THEN 1 ELSE 0 END) FROM ("
            + xs23_sql()
            + ")"
        ).fetchall()[0]
        assert touched > 0 and untouched > 0, f"sf{sf}: removal is vacuous"


def test_xs21_votes_bifurcate_on_corpus():
    """xs21's calibration pin: the three ensemble signals must disagree
    enough that votes land on BOTH sides of the majority threshold at
    both gate SFs — otherwise the gate hashes a constant keep column."""
    from presto_workload_analyzer_spark.driver_queries import xs21_sql

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        votes = dict(
            con.sql(
                "SELECT votes, count(*) FROM (" + xs21_sql() + ") GROUP BY 1"
            ).fetchall()
        )
        low = sum(v for k, v in votes.items() if k < 2)
        high = sum(v for k, v in votes.items() if k >= 2)
        assert low > 0 and high > 0, f"sf{sf}: majority vote is constant ({votes})"
        assert len(votes) >= 3, f"sf{sf}: votes collapsed to {votes}"


def test_xs22_funnel_strictly_shrinks_on_corpus():
    """xs22's calibration pin: every funnel stage must drop at least one
    document corpus-wide at both gate SFs — a non-shrinking stage means
    its gate stopped discriminating (e.g. a regenerated fixture without
    the lang mix) and the funnel hash would no longer witness it."""
    from presto_workload_analyzer_spark.driver_queries import xs22_sql

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        rows = dict(
            con.sql(
                "SELECT stage_idx, sum(n_docs) FROM ("
                + xs22_sql()
                + ") GROUP BY 1"
            ).fetchall()
        )
        seq = [rows[i] for i in range(5)]
        assert all(a > b for a, b in zip(seq, seq[1:])), (
            f"sf{sf}: funnel does not strictly shrink: {seq}"
        )


def test_xs24_delta_margin_on_corpus():
    """xs24's selection boundary compares the ROUNDED per-token delta
    against 0 on both engines; pin (a) that selection bifurcates and
    (b) that no candidate's delta sits within fp-flip distance of 0 at
    both gate SFs."""
    from presto_workload_analyzer_spark.driver_queries import xs24_sql

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        rows = con.sql(
            "SELECT delta, selected FROM (" + xs24_sql() + ")"
        ).fetchall()
        sel = sum(1 for _, s in rows if s)
        assert 0 < sel < len(rows), f"sf{sf}: selection is constant ({sel}/{len(rows)})"
        margin = min(abs(d) for d, _ in rows)
        assert margin > 1e-3, (
            f"sf{sf}: a delta sits {margin:.2e} from the selection boundary "
            "— within fp-flip distance; recalibrate the xs24 slices."
        )


def test_xs25_contamination_bifurcates_on_corpus():
    """xs25's calibration pin: the 8-gram overlap against the %10==0
    eval slice must flag SOME but not ALL pool docs at both gate SFs
    (7/450 and 6/450 as staged) — a regenerated fixture where templates
    stop aligning would zero it out and the gate would hash a constant
    flag column."""
    from presto_workload_analyzer_spark.driver_queries import xs25_sql

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        hit, pool = con.sql(
            "SELECT sum(CASE WHEN contaminated THEN 1 ELSE 0 END),"
            " count(*) FROM (" + xs25_sql() + ")"
        ).fetchall()[0]
        assert 0 < hit < pool, f"sf{sf}: contamination constant ({hit}/{pool})"


def test_xs26_weights_spread_on_corpus():
    """xs26's calibration pin: the delta-softmax must produce genuinely
    non-uniform weights over many sources at both gate SFs — (a) >= 10
    sources hold candidates (the %7 slice is coprime with the source
    cycle), (b) weights sum to 1, (c) max/min weight ratio >= 2 (neither
    uniform nor a degenerate 2-source split like the %5 slice would
    give)."""
    from presto_workload_analyzer_spark.driver_queries import xs26_sql

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        rows = con.sql(
            "SELECT source, weight FROM (" + xs26_sql() + ")"
        ).fetchall()
        ws = [w for _, w in rows]
        assert len(ws) >= 10, f"sf{sf}: only {len(ws)} sources hold candidates"
        assert abs(sum(ws) - 1.0) < 1e-4, f"sf{sf}: weights sum to {sum(ws)}"
        assert max(ws) / min(ws) >= 2.0, (
            f"sf{sf}: weights nearly uniform ({min(ws)}..{max(ws)}) — "
            "recalibrate _XS26_T."
        )


def test_xs27_chain_discriminates_on_corpus():
    """xs27's calibration pin: the chained gates must genuinely prune —
    (a) some but not all sources survive to the mix (18/20 as staged),
    (b) surviving token totals vary >= 1.5x (so the power-law weights
    are not uniform) at both gate SFs."""
    from presto_workload_analyzer_spark.driver_queries import xs27_sql

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        rows = con.sql(
            "SELECT source, tokens_available FROM (" + xs27_sql() + ")"
        ).fetchall()
        n_src = con.sql("SELECT count(DISTINCT source) FROM documents").fetchall()[0][0]
        toks = [t for _, t in rows]
        assert 0 < len(rows) < n_src, f"sf{sf}: chain prunes nothing ({len(rows)}/{n_src})"
        assert max(toks) / min(toks) >= 1.5, (
            f"sf{sf}: survivor totals nearly uniform ({min(toks)}..{max(toks)})"
        )


def test_xs28_tertiles_cover_all_languages_on_corpus():
    """xs28's calibration pin: every language must fill all three
    perplexity tertiles at both gate SFs (5 langs x 3 buckets = 15
    rows), and the corpus ppl range must be genuinely non-degenerate —
    a collapsed range would make the tertile boundaries hash-fragile."""
    from presto_workload_analyzer_spark.driver_queries import xs28_sql

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        n, langs, lo, hi = con.sql(
            "SELECT count(*), count(DISTINCT lang), min(ppl_min),"
            " max(ppl_max) FROM (" + xs28_sql() + ")"
        ).fetchall()[0]
        assert n == 3 * langs, f"sf{sf}: {n} rows for {langs} langs"
        assert langs == 5, f"sf{sf}: {langs} languages"
        assert hi - lo > 0.5, f"sf{sf}: ppl range degenerate ({lo}..{hi})"


def _staged_emb_con(sf):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf{sf}/{t}.parquet')"
        )
    return con


def test_xs29_prototype_ranks_discriminate_on_corpus():
    """xs29's calibration pin: at least one embedding near-dup cluster
    must hold a genuine cos-to-centroid SPREAD at both gate SFs (>= 0.01
    between its most and least prototypical member; measured ~0.66) —
    all-equal cosines would make proto_rank a pure id-order artifact."""
    from presto_workload_analyzer_spark.driver_queries import xs29_sql

    for sf in ("0.001", "0.01"):
        con = _staged_emb_con(sf)
        spread = con.sql(
            "SELECT max(cos_centroid) - min(cos_centroid) FROM ("
            + xs29_sql()
            + ") GROUP BY cluster_id ORDER BY 1 DESC LIMIT 1"
        ).fetchall()[0][0]
        assert spread > 0.01, f"sf{sf}: max within-cluster spread {spread}"


def test_xs30_deciles_carry_nll_signal_on_corpus():
    """xs30's calibration pin: the logit deciles must (a) actually
    split the held-out slice (>= 8 distinct deciles — quantile ties can
    merge at most a couple) and (b) carry non-constant LM signal
    (avg_nll spread > 0.005 nats; measured ~0.03) at both gate SFs —
    a flat profile would hash a vacuous calibration table."""
    from presto_workload_analyzer_spark.driver_queries import xs30_sql

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        spread, n = con.sql(
            "SELECT max(avg_nll) - min(avg_nll), count(DISTINCT decile)"
            " FROM (" + xs30_sql() + ")"
        ).fetchall()[0]
        assert n >= 8, f"sf{sf}: only {n} deciles"
        assert spread > 0.005, f"sf{sf}: avg_nll spread {spread}"


def test_xs30_decile_boundaries_match_cross_engine(spark):
    """xs30's decile boundaries come from Spark approx_percentile, the
    oracle's from DuckDB quantile_disc — two independent rank
    conventions that can pick ADJACENT elements for the same percentile
    on some slice sizes (an off-by-one the downstream bucketing would
    silently shift a boundary doc across). Pin the conventions AGREEING
    element-for-element at all three gate SFs (held-out slices of 100 /
    100 / 900 docs) before xs30 registers; a corpus size where they
    diverge must fail here, not hash-mismatch in the driver gate."""
    from presto_workload_analyzer_spark.driver_queries import _X43_Z
    from presto_workload_analyzer_spark.extensions import textstats
    from presto_workload_analyzer_spark.sources import read_table
    from presto_workload_analyzer_spark.driver_queries import _XS30_DECILES

    for sf in ("0.001", "0.01", "0.1"):
        docs = read_table(spark, f"/root/testdata/sf{sf}/documents.parquet")
        lg = docs.filter(F.col("doc_id") % 5 == 0).select(
            F.round(
                textstats.quality_logit("text") + F.lit(1e-9), 6
            ).alias("__q")
        )
        accuracy = min(max(1_000_000, 10 * lg.count()), 10_000_000)
        pcts = ", ".join(f"{p}D" for p in _XS30_DECILES)
        spark_b = lg.select(
            F.expr(f"approx_percentile(__q, array({pcts}), {accuracy})")
        ).collect()[0][0]
        qpcts = ", ".join(repr(p) for p in _XS30_DECILES)
        con = _staged_con(sf)
        duck_b = con.sql(
            f"SELECT quantile_disc(q, [{qpcts}]) FROM ("
            f"SELECT round(1.0 / (1.0 + exp(-{_X43_Z})) + 1e-9, 6) AS q"
            " FROM documents WHERE doc_id % 5 = 0)"
        ).fetchone()[0]
        assert list(spark_b) == list(duck_b), (
            f"sf{sf}: decile boundary conventions diverge —"
            f" spark {spark_b} vs duckdb {duck_b}"
        )


def test_xs31_purity_discriminates_on_corpus():
    """xs31's calibration pin: the label-purity diagnostic must have
    something to say at both gate SFs — every near-dup cluster on this
    corpus mixes >= 2 labels (the synthetic labels are independent of
    the near-dup structure, so a PURE cluster would be suspicious), and
    majority shares must genuinely vary (not all minimal, not all 1)."""
    from presto_workload_analyzer_spark.driver_queries import xs31_sql

    for sf in ("0.001", "0.01"):
        con = _staged_emb_con(sf)
        lo_l, lo_s, hi_s = con.sql(
            "SELECT min(n_labels), min(majority_share), max(majority_share)"
            " FROM (" + xs31_sql() + ")"
        ).fetchall()[0]
        assert lo_l >= 2, f"sf{sf}: a pure near-dup cluster appeared ({lo_l})"
        assert hi_s < 1.0, f"sf{sf}: majority share hit 1.0"
        assert hi_s - lo_s > 0.1, f"sf{sf}: shares flat ({lo_s}..{hi_s})"


def test_xs32_greedy_radius_invariants_on_corpus():
    """xs32's calibration pin + the k-center INVARIANT: the covering
    radius (each pick's max-min distance) is non-increasing by round —
    true for ANY corpus, so a violation is an implementation bug, not a
    fixture change — and on this corpus all 8 picks are distinct with
    strictly positive radii (measured 1.37 -> 0.97)."""
    from presto_workload_analyzer_spark.driver_queries import xs32_sql

    for sf in ("0.001", "0.01"):
        con = _staged_emb_con(sf)
        rows = con.sql(
            "SELECT pick_round, vec_id, dist FROM (" + xs32_sql() + ")"
            " ORDER BY pick_round"
        ).fetchall()
        assert [r[0] for r in rows] == list(range(1, 9))
        assert len({r[1] for r in rows}) == 8, f"sf{sf}: duplicate pick"
        d = [r[2] for r in rows[1:]]
        assert all(x > 0.5 for x in d), f"sf{sf}: degenerate radii {d}"
        assert all(a >= b for a, b in zip(d, d[1:])), (
            f"sf{sf}: covering radius increased: {d}"
        )


def test_xs33_kl_spreads_on_corpus():
    """xs33's calibration pin: per-source KL must be strictly positive
    everywhere (add-1 smoothing vs corpus MLE cannot coincide) and
    genuinely spread (max/min >= 1.5; measured ~2.4-3.7x) at both gate
    SFs — a flat KL table would hash no drift signal."""
    from presto_workload_analyzer_spark.driver_queries import xs33_sql

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        lo, hi, n = con.sql(
            "SELECT min(kl_nats), max(kl_nats), count(*) FROM ("
            + xs33_sql() + ")"
        ).fetchall()[0]
        assert n == 20, f"sf{sf}: {n} sources"
        assert lo > 0, f"sf{sf}: non-positive KL {lo}"
        assert hi / lo >= 1.5, f"sf{sf}: KL flat ({lo}..{hi})"


def test_xs34_mmr_margins_and_diversification_on_corpus():
    """xs34's margin pin (the xs24 pattern for an ITERATIVE selection):
    rebuild the rounded rel/pairwise-sim tables the oracle uses, replay
    the greedy with similarity.mmr_rerank, and assert (a) every round's
    winner beats the runner-up by > 1e-9 (so IEEE vs engine rounding
    cannot flip a pick), (b) the MMR order differs from the pure
    relevance order at both gate SFs (diversification actually fired),
    (c) the replay's pick sequence equals the oracle's."""
    from presto_workload_analyzer_spark.extensions.similarity import mmr_rerank
    from presto_workload_analyzer_spark.driver_queries import (
        _XS34_K,
        _XS34_LAM,
        _XS34_POOL,
        _XS34_QUERY,
        xs34_sql,
    )

    cos = (
        "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b})))"
    )
    for sf in ("0.001", "0.01"):
        con = _staged_emb_con(sf)
        cand = con.sql(
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
            " FROM embeddings),"
            f" qv AS (SELECT v FROM e WHERE vec_id = {_XS34_QUERY}),"
            f" sc AS (SELECT e.vec_id, {cos.format(a='e.v', b='qv.v')} AS c"
            f"  FROM e, qv WHERE e.vec_id <> {_XS34_QUERY}),"
            " rk AS (SELECT vec_id, c, row_number()"
            "  OVER (ORDER BY c DESC, vec_id) AS r FROM sc)"
            " SELECT vec_id, round(c + 1e-9, 6) AS rel FROM rk"
            f" WHERE r <= {_XS34_POOL}"
        ).fetchall()
        rel = dict(cand)
        ids = ", ".join(str(i) for i in rel)
        ps = con.sql(
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
            f" FROM embeddings WHERE vec_id IN ({ids}))"
            f" SELECT a.vec_id, b.vec_id,"
            f"  round({cos.format(a='a.v', b='b.v')} + 1e-9, 6)"
            " FROM e a JOIN e b ON a.vec_id < b.vec_id"
        ).fetchall()
        psim = {(a, b): s for a, b, s in ps}
        picks = mmr_rerank(rel, psim, k=_XS34_K, lam=_XS34_LAM)
        oracle = [r[0] for r in con.sql(
            "SELECT vec_id FROM (" + xs34_sql() + ") ORDER BY pick_rank"
        ).fetchall()]
        assert [p[1] for p in picks] == oracle, f"sf{sf}: replay != oracle"
        by_rel = [i for i, _ in sorted(rel.items(), key=lambda kv: (-kv[1], kv[0]))]
        assert [p[1] for p in picks] != by_rel[:_XS34_K], (
            f"sf{sf}: MMR never diverged from pure relevance"
        )
        # margin audit: replay each round tracking the runner-up gap
        maxsim = {i: 0.0 for i in rel}
        remaining = set(rel)
        one_minus = 1.0 - _XS34_LAM
        for _rank, best, _r, _s in picks:
            scores = sorted(
                (_XS34_LAM * rel[i] - one_minus * maxsim[i], -i)
                for i in remaining
            )
            if len(scores) >= 2:
                gap = scores[-1][0] - scores[-2][0]
                assert gap > 1e-9, f"sf{sf}: pick margin {gap:.2e}"
            remaining.discard(best)
            for i in remaining:
                s = psim.get((best, i), psim.get((i, best), 0.0))
                if s > maxsim[i]:
                    maxsim[i] = s


def test_s21_contamination_nonvacuous_on_corpus():
    """s21's calibration pin: the streaming decontamination drain must
    flag SOME pool docs at both gate SFs (7 and 6 as staged) — zero
    rows would turn the stream-vs-batch oracle compare vacuous."""
    from presto_workload_analyzer_spark.driver_queries import s21_sql

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        n = con.sql("SELECT count(*) FROM (" + s21_sql() + ")").fetchall()[0][0]
        assert n >= 2, f"sf{sf}: only {n} contaminated docs"


def test_kcenter_matches_python_reference(spark):
    """similarity.kcenter_coreset vs a pure-python greedy replay with
    the identical rounding contract (round(1-cos+1e-9, 6) per pair,
    running min, argmax ties to smaller id) on a seeded random frame —
    one divergence at any round (seed, argmax, tie, radius) fails."""
    import math
    import random

    from presto_workload_analyzer_spark.extensions.similarity import (
        kcenter_coreset,
    )

    rng = random.Random(443)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(40)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    got = kcenter_coreset(df, "vec_id", "embedding", k=6)

    def dist(a, b):
        num = sum(x * y for x, y in zip(vecs[a], vecs[b]))
        den = math.sqrt(sum(x * x for x in vecs[a])) * math.sqrt(
            sum(x * x for x in vecs[b])
        )
        return round(1.0 - num / den + 1e-9, 6)

    sel = [min(vecs)]
    want = [(1, sel[0], 0.0)]
    mind = {i: dist(i, sel[0]) for i in vecs}
    for r in range(2, 7):
        nxt = min(vecs, key=lambda i: (-mind[i], i))
        want.append((r, nxt, mind[nxt]))
        for i in vecs:
            d = dist(i, nxt)
            if d < mind[i]:
                mind[i] = d
    assert [(r, i) for r, i, _ in got] == [(r, i) for r, i, _ in want]
    for (_, _, dg), (_, _, dw) in zip(got, want):
        assert abs(dg - dw) < 1e-12, (dg, dw)


def test_mmr_rerank_properties():
    """mmr_rerank unit contract: (a) lam=1 is pure relevance order with
    id tie-break, (b) a near-duplicate of the top pick is deferred when
    lam<1 while an orthogonal lower-relevance item jumps it, (c) scores
    reported are lam*rel-(1-lam)*maxsim at selection time."""
    from presto_workload_analyzer_spark.extensions.similarity import mmr_rerank

    rel = {1: 0.9, 2: 0.89, 3: 0.5}
    sims = {(1, 2): 0.99, (1, 3): 0.0, (2, 3): 0.0}
    pure = mmr_rerank(rel, sims, k=3, lam=1.0)
    assert [p[1] for p in pure] == [1, 2, 3]
    div = mmr_rerank(rel, sims, k=3, lam=0.7)
    assert [p[1] for p in div] == [1, 3, 2], div
    r2 = div[2]
    assert abs(r2[3] - (0.7 * 0.89 - (1.0 - 0.7) * 0.99)) < 1e-15
    ties = mmr_rerank({7: 0.5, 4: 0.5}, {}, k=2, lam=1.0)
    assert [p[1] for p in ties] == [4, 7]


def test_kcenter_refuses_zero_radius(spark):
    """kcenter_coreset with k beyond the corpus's distinct directions
    must raise (covering radius 0 would re-pick a selected id and emit
    duplicate rows the SQL oracle could never reproduce), not silently
    degrade."""
    import pytest as _pytest

    from presto_workload_analyzer_spark.extensions.similarity import (
        kcenter_coreset,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [2.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    # three points, two distinct directions: round 3 hits radius 0
    with _pytest.raises(ValueError, match="covering radius 0"):
        kcenter_coreset(df, "vec_id", "embedding", k=3)


def test_kcenter_empty_input_raises_named_error(spark):
    """An empty embeddings input must fail with the module's loud,
    named ValueError (the cosine_topk_quantized convention), not an
    opaque IndexError off `collect()[0]`."""
    import pytest as _pytest

    from presto_workload_analyzer_spark.extensions.similarity import (
        kcenter_coreset,
    )

    df = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    with _pytest.raises(ValueError, match="empty input"):
        kcenter_coreset(df, "vec_id", "embedding", k=2)


def test_kneser_ney_matches_python_reference(spark):
    """heldout_jm_kn_nll's KN sums (the scorer xs36 ships) vs a
    pure-python interpolated-KN replay (discount 0.75, continuation distribution with the add-1 unseen
    slot, unseen-prev backoff to p_cont, first token under p_cont) on a
    seeded random corpus — any divergence in a count table, the
    discount arithmetic, or the slice convention fails."""
    import math
    import random

    from presto_workload_analyzer_spark.extensions.textstats import (
        heldout_jm_kn_nll,
    )
    from pyspark.sql import functions as F

    rng = random.Random(991)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {
        r["id"]: (r["n_scored"], r["sum_nll_kn"])
        for r in heldout_jm_kn_nll(
            df, "doc_id", "text", holdout=F.col("doc_id") % 5 == 0
        ).collect()
    }

    d = 0.75
    train = [t.split() for i, t in docs if i % 5 != 0]
    held = [(i, t.split()) for i, t in docs if i % 5 == 0]
    c2: dict = {}
    for toks in train:
        for a, b in zip(toks, toks[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
    cl: dict = {}
    n1l: dict = {}
    n1r: dict = {}
    for (a, b), c in c2.items():
        cl[a] = cl.get(a, 0) + c
        n1l[a] = n1l.get(a, 0) + 1
        n1r[b] = n1r.get(b, 0) + 1
    t_types = sum(n1r.values())
    v = len({w for toks in train for w in toks})

    def p_cont(w):
        return (n1r.get(w, 0) + 1.0) / (t_types + v + 1.0)

    for i, toks in held:
        nll = -math.log(p_cont(toks[0]))
        ns = 1
        for a, b in zip(toks, toks[1:]):
            if cl.get(a, 0) > 0:
                p = max(c2.get((a, b), 0) - d, 0.0) / cl[a] + (
                    d * n1l[a] / cl[a]
                ) * p_cont(b)
            else:
                p = p_cont(b)
            nll += -math.log(p)
            ns += 1
        assert got[i][0] == ns, i
        assert abs(got[i][1] - nll) < 1e-9, (i, got[i][1], nll)


def test_xs35_ring_property_on_corpus():
    """xs35's calibration pin + the ring INVARIANT: no anchor pairs with
    itself (CC clusters are >= 2 by construction), every member appears
    exactly once as anchor and exactly once as positive (a permutation
    within each cluster), at both gate SFs."""
    from presto_workload_analyzer_spark.driver_queries import xs35_sql

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        rows = con.sql(
            "SELECT anchor_id, positive_id, cluster_size FROM ("
            + xs35_sql() + ")"
        ).fetchall()
        assert rows, f"sf{sf}: no dup clusters"
        assert all(a != p for a, p, _ in rows), f"sf{sf}: self-pair"
        assert all(s >= 2 for _, _, s in rows), f"sf{sf}: singleton cluster"
        anchors = [a for a, _, _ in rows]
        positives = [p for _, p, _ in rows]
        assert sorted(anchors) == sorted(set(anchors)), f"sf{sf}: anchor dup"
        assert sorted(positives) == sorted(anchors), (
            f"sf{sf}: ring is not a permutation"
        )


def test_xs36_smoothings_disagree_on_corpus():
    """xs36's calibration pin: the KN and JM scores must genuinely
    disagree — per-doc deltas on BOTH sides of zero at both gate SFs
    (54/100 and 58/100 positive as staged) — otherwise the comparison
    column hashes a constant sign and the gate stops witnessing the
    smoothing difference."""
    from presto_workload_analyzer_spark.driver_queries import xs36_sql

    for sf in ("0.001", "0.01"):
        con = _staged_con(sf)
        pos, n = con.sql(
            "SELECT sum(CAST(jm_minus_kn_nll > 0 AS INT)), count(*)"
            " FROM (" + xs36_sql() + ")"
        ).fetchall()[0]
        assert 0 < pos < n, f"sf{sf}: delta sign constant ({pos}/{n})"


def test_fused_lm_scorer_equals_standalones(spark):
    """heldout_jm_kn_nll (the fused one-pass JM+KN scorer xs36 ships)
    must reproduce the standalone JM scorer exactly — same docs, same
    token counts, sums equal to fp-sum-order noise (< 1e-9, far below
    the 6dp oracle rounding). Its KN sums are checked against a Python
    replay in test_kneser_ney_matches_python_reference."""
    import random

    from presto_workload_analyzer_spark.extensions.textstats import (
        heldout_bigram_nll,
        heldout_jm_kn_nll,
    )
    from pyspark.sql import functions as F

    rng = random.Random(1213)
    vocab = [f"t{i}" for i in range(15)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
        for i in range(80)
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    ho = F.col("doc_id") % 5 == 0
    fused = {
        r["id"]: r
        for r in heldout_jm_kn_nll(df, "doc_id", "text", holdout=ho).collect()
    }
    jm = {r["id"]: r for r in heldout_bigram_nll(df, "doc_id", "text", holdout=ho).collect()}
    assert set(fused) == set(jm)
    for i, r in fused.items():
        assert r["n_scored"] == jm[i]["n_scored"], i
        assert abs(r["sum_nll_jm"] - jm[i]["sum_nll"]) < 1e-9, i


def test_fused_reference_delta_equals_two_heldout_calls(spark):
    """reference_delta_scores (r16: fused two-model single-pass form)
    must reproduce the composition it replaced — two independent
    heldout_bigram_nll fits joined at doc grain — exactly: same docs,
    same n_scored, per-model sums equal to fp-sum-order noise (< 1e-9,
    far below the 6dp oracle rounding). Slices deliberately OVERLAP
    (base ⊃ target here) so the conditional-count path is exercised on
    rows that train both models."""
    import random

    from presto_workload_analyzer_spark.extensions.textstats import (
        heldout_bigram_nll,
        reference_delta_scores,
    )
    from pyspark.sql import functions as F

    rng = random.Random(1617)
    vocab = [f"t{i}" for i in range(15)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
        for i in range(80)
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    cand = F.col("doc_id") % 5 == 0
    tgt = F.col("doc_id") % 10 == 3
    bas = F.col("doc_id") % 5 != 0
    fused = {
        r["id"]: r
        for r in reference_delta_scores(
            df, "doc_id", "text", candidates=cand,
            target_train=tgt, base_train=bas,
        ).collect()
    }
    b = {
        r["id"]: r
        for r in heldout_bigram_nll(
            df, "doc_id", "text", holdout=cand, train=bas
        ).collect()
    }
    t = {
        r["id"]: r
        for r in heldout_bigram_nll(
            df, "doc_id", "text", holdout=cand, train=tgt
        ).collect()
    }
    assert set(fused) == set(b) == set(t)
    for i, r in fused.items():
        assert r["n_scored"] == b[i]["n_scored"] == t[i]["n_scored"], i
        assert abs(r["sum_nll_base"] - b[i]["sum_nll"]) < 1e-9, i
        assert abs(r["sum_nll_target"] - t[i]["sum_nll"]) < 1e-9, i
        want = (b[i]["sum_nll"] - t[i]["sum_nll"]) / r["n_scored"]
        assert abs(r["delta"] - want) < 1e-9, i


def test_frame_sample_zero_byte_payload(spark):
    """Regression for the descending-sequence trap: a zero-byte payload
    made frame_sample's sequence(0, ceil(0/64)-1) count DOWN ([0, -1] —
    two phantom frames). Empty and NULL payloads must contribute no
    frame rows; short payloads exactly ceil(n_bytes/every)."""
    from presto_workload_analyzer_spark.extensions import multimodal

    df = spark.createDataFrame(
        [(1, "x" * 100), (2, ""), (3, "abc"), (4, None)],
        "doc_id long, text string",
    )
    media = multimodal.attach_binary(df, "doc_id", "text", mime="text/plain")
    got = {
        r.doc_id: r.n
        for r in multimodal.frame_sample(media, every_n_bytes=64)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {1: 2, 3: 1}, got


def test_gopher_repetition_zero_char_docs(spark):
    """Regression for the ANSI divide-by-zero: a doc whose text
    tokenizes to zero token chars (empty or whitespace-only) must score
    0.0 on every fraction (the oracle's x/0 -> NULL -> coalesce(., 0)
    semantics), not throw."""
    from presto_workload_analyzer_spark.extensions import textstats

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, ""), (3, "   "), (4, "\t \n ")],
        "id long, text string",
    )
    out = {
        r.id: r
        for r in textstats.gopher_repetition(df, "id", "text").collect()
    }
    assert set(out) == {1, 2, 3, 4}
    for i in (2, 3, 4):
        for c in ("top2_frac", "top3_frac", "top4_frac",
                  "dup5_frac", "dup10_frac"):
            assert abs(getattr(out[i], c)) < 1e-6, (i, c, out[i])
    assert out[1].top2_frac > 0


def test_cosine_expr_null_on_zero_norm(spark):
    """Regression for the ANSI DIVIDE_BY_ZERO class the degenerate-
    embeddings gate caught across seven ANN queries: cosine against a
    NULL or zero-norm vector must be NULL (the DuckDB x/0 -> NULL
    convention), never a thrown DIVIDE_BY_ZERO; indexable_expr is the
    ingest-side predicate that excludes exactly those rows."""
    from presto_workload_analyzer_spark.extensions import similarity

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, None), (4, [0.0, 2.0])],
        "id long, v array<double>",
    )
    got = {
        r.id: (r.cos, r.ok)
        for r in df.select(
            "id",
            similarity.cosine_expr(
                F.col("v"), F.array(F.lit(1.0), F.lit(0.0))
            ).alias("cos"),
            similarity.indexable_expr(F.col("v")).alias("ok"),
        ).collect()
    }
    assert got[1] == (1.0, True)
    assert got[2] == (None, False)
    assert got[3][0] is None and not got[3][1]
    assert got[4] == (0.0, True)


def test_cosine_topk_pandas_drops_non_indexable(spark):
    """The BLAS top-k path must neither crash on a NULL vector (ragged
    .tolist() cannot build the matrix) nor rank a zero-norm one; both
    are dropped from corpus AND query sides, matching indexable_expr."""
    from presto_workload_analyzer_spark.extensions import similarity

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
        (3, None), (4, [0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.cosine_topk_pandas(emb, emb, k=2).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert ids <= {0, 1, 2}, out
    assert {r.query_id for r in out} == {0, 1, 2}


def test_cluster_pairs_blas_null_vector(spark):
    """cluster_scoped_cosine_pairs (blas impl) with a NULL vector in a
    cluster: the kernel drops it (it is not pairable) and still pairs
    the rest; a zero-norm member yields NaN cosines which fail the
    threshold — no pair, no crash."""
    from presto_workload_analyzer_spark.extensions import dedup

    emb = spark.createDataFrame(
        [
            (0, 7, [1.0, 0.0]), (1, 7, [1.0, 1e-4]),
            (2, 7, None), (3, 7, [0.0, 0.0]),
        ],
        "vec_id long, label long, embedding array<double>",
    )
    got = dedup.cluster_scoped_cosine_pairs(
        emb, "vec_id", "embedding", "label", threshold=0.9, impl="blas"
    ).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(0, 1)], got


def test_zorder_key_null_dimension(spark):
    """A row missing a quantized dimension gets a NULL Morton key (no
    position in that dimension's order), while out-of-range values still
    raise — the degenerate-events gate caught assert_true throwing on
    the NULL comparison itself."""
    from presto_workload_analyzer_spark.extensions import profile

    df = spark.createDataFrame(
        [(0, 3), (1, None), (None, 2), (None, None)],
        "a int, b int",
    )
    key = profile.zorder_key(["a", "b"], bits=2)
    got = [r.k for r in df.select(key.alias("k")).collect()]
    assert got[0] is not None and got[1:] == [None, None, None], got
    bad = spark.createDataFrame([(7, 1)], "a int, b int")
    import pytest as _pytest
    with _pytest.raises(Exception, match="zorder_key"):
        bad.select(profile.zorder_key(["a", "b"], bits=2).alias("k")).collect()


def test_histogram_quantiles_ignores_null_values(spark):
    """NULL metric values are unmeasurable, not histogram cells: they
    must not shift any readout (a NULL bin cumulates NULLS-FIRST in
    Spark but NULLS-LAST in ANSI engines) and n counts measured rows
    only — standard percentile semantics."""
    from presto_workload_analyzer_spark.extensions import sketches

    rows = [("a", v) for v in (1.0, 2.0, 3.0, None, None)]
    df = spark.createDataFrame(rows, "g string, value double")
    out = sketches.histogram_quantiles(df, "g", "value", qs=(0.5, 0.99))
    r = out.collect()[0]
    assert (r.n, r.p50, r.p99) == (3, 2.0, 3.0), r


def test_language_id_argmax_equals_old_fold(spark):
    """r16 shape fix pin: the array_max struct argmax must reproduce the
    original when/otherwise fold exactly — highest marker ratio wins,
    ties break to LIST ORDER, NULL text yields the LAST language."""
    from presto_workload_analyzer_spark.extensions.textstats import (
        LANG_MARKERS,
        language_scores,
    )

    def old_fold(text):
        scores = language_scores(text)
        langs = list(scores)
        expr = F.lit(langs[-1])
        best = scores[langs[-1]]
        for lang in reversed(langs[:-1]):
            cond = scores[lang] >= best
            expr = F.when(cond, F.lit(lang)).otherwise(expr)
            best = F.when(cond, scores[lang]).otherwise(best)
        return expr

    rows = [
        Row(doc_id=0, text=None),                      # NULL -> last lang
        Row(doc_id=1, text=""),                        # all-zero tie -> first
        Row(doc_id=2, text="zzz qqq xxx"),             # no markers -> first
        Row(doc_id=3, text="the of and to in is it"),  # en
        Row(doc_id=4, text="der die das und ist"),     # de
        Row(doc_id=5, text="le la les et est une"),    # fr
        Row(doc_id=6, text="el los y es una no"),      # es
        Row(doc_id=7, text="de shi le bu wo"),         # zh markers alias de/fr
        Row(doc_id=8, text="the der le el de"),        # cross-language tie mix
        Row(doc_id=9, text="la le de"),                # fr/es/zh collision
    ]
    df = spark.createDataFrame(rows)
    out = df.select(
        "doc_id",
        textstats.language_id("text").alias("new"),
        old_fold("text").alias("old"),
    ).collect()
    for r in out:
        assert r.new == r.old, (r.doc_id, r.new, r.old)
    assert [r.new for r in out if r.doc_id == 0] == [list(LANG_MARKERS)[-1]]


def test_xs25_gram_hoist_parity(spark):
    """r16 hoist pin: grams built from the pre-projected __toks column
    equal grams built by slicing a raw split() expression in-lambda."""
    from presto_workload_analyzer_spark.driver_queries import _XS25_K, _toked, _xs25_grams

    rows = [
        Row(doc_id=1, text="a b c d e f g h i j k"),
        Row(doc_id=2, text="  one   two\tthree "),
        Row(doc_id=3, text="short"),
        Row(doc_id=4, text=""),
        Row(doc_id=5, text=None),
    ]
    df = spark.createDataFrame(rows)
    k = _XS25_K
    raw_toks = F.split(F.trim(F.col("text")), r"\s+")
    m = F.size(raw_toks) - (k - 1)
    raw_grams = F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(0), m - 1),
            lambda i: F.array_join(F.slice(raw_toks, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    a = sorted(
        (r.doc_id, r.g)
        for r in df.select("doc_id", F.explode(raw_grams).alias("g")).collect()
    )
    b = sorted(
        (r.doc_id, r.g)
        for r in _toked(df, "doc_id")
        .select("doc_id", F.explode(_xs25_grams()).alias("g"))
        .collect()
    )
    assert a == b


def test_bigram_toks_resplit_equivalence(spark):
    """r16 pin: gram_array_of(_bigram_toks(toks), 2) must equal the
    historical string path gram_array(array_join(toks, ' '), 2) for
    every token-array shape tokens() can produce — including the
    whitespace-only ['',''] artifact (trim trims spaces only) whose
    phantom ' ' bigram shifted the KN count tables on the degenerate
    corpus when the direct path skipped the join-resplit collapse."""
    from presto_workload_analyzer_spark.extensions.dedup import (
        gram_array,
        gram_array_of,
    )
    from presto_workload_analyzer_spark.extensions.textstats import (
        _bigram_toks,
        tokens,
    )

    rows = [
        Row(doc_id=1, text="a b c d"),
        Row(doc_id=2, text="one"),
        Row(doc_id=3, text=""),
        Row(doc_id=4, text="   "),
        Row(doc_id=5, text="\t \n "),       # the degen-gate witness
        Row(doc_id=6, text=" x \t y "),
        Row(doc_id=7, text=None),
        Row(doc_id=8, text="a b c"),   # non-ASCII ws stays in-token
    ]
    df = spark.createDataFrame(rows)
    lower = F.transform(tokens("text"), lambda t: F.lower(t))
    base = df.select("doc_id", lower.alias("__toks"))
    a = sorted(
        (r.doc_id, r.bg)
        for r in base.select(
            "doc_id",
            F.explode(
                gram_array(F.array_join(F.col("__toks"), " "), 2)
            ).alias("bg"),
        ).collect()
    )
    b = sorted(
        (r.doc_id, r.bg)
        for r in base.select(
            "doc_id",
            F.explode(
                gram_array_of(_bigram_toks(F.col("__toks")), 2)
            ).alias("bg"),
        ).collect()
    )
    assert a == b, (a, b)
