"""Text-analysis operators: tokenization, quality, language-ID, fingerprints.

All pure Column expressions (JVM-side, codegen'd, no UDFs) — at 100 TB these
run at parquet scan speed with full column pruning. Every function is
deterministic and has an exact ANSI-SQL twin for the DuckDB oracle.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window, functions as F

from presto_workload_analyzer_spark.materialize import materialize

# tiny per-language marker lists for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "une", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "no"],
    "zh": ["de", "shi", "le", "bu", "wo"],  # pinyin-ish markers for latinized text
}

_BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed text."""
    col = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(col), r"\s+")


def _lower_tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens."""
    return F.transform(tokens(text), F.lower)


def _bigram_toks(toks: Column) -> Column:
    """Normalize a token array to what join-then-resplit would yield —
    the exact input the LM scorers' historical bigram builder
    (gram_array(array_join(toks, ' '), 2)) saw. trim() trims SPACES
    only, so whitespace-only text tokenizes to ['', ''] (leading split
    artifact survives a \\t/\\n edge); the joined string ' ' then
    re-trimmed/re-split collapsed every empty token, i.e.
    resplit(join(toks)) == [t for t in toks if t != ''] or [''].
    Replicating that with one filter keeps the r16 gram_array_of
    switch (no join + k+1 re-splits per row) bit-identical on the
    degenerate corpus, where the divergence produced a phantom
    ' ' bigram that shifted every KN count (caught by the degen gate).
    NULL arrays pass through NULL (grams become [] either way)."""
    kept = F.filter(toks, lambda t: t != "")
    return F.when(F.size(kept) > 0, kept).otherwise(F.slice(toks, 1, 1))


def token_count(text: Column | str) -> Column:
    """Whitespace token count (empty string counts 1 split artifact like SQL)."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token estimate: count of letter-runs / digits / symbols.

    A BPE tokenizer splits roughly at letter-run, digit and punctuation
    boundaries; counting matches of that regex is a cheap, deterministic
    proxy usable at scan speed.
    """
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(col, F.lit(_BPE_ISH_PATTERN))


def stopword_ratio(text: Column | str, words: list[str]) -> Column:
    """Fraction of whitespace tokens found in `words` (lowercased)."""
    toks = _lower_tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*words)))
    return hits.cast("double") / F.size(toks)


def mean_token_length(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.size(toks)


def punct_ratio(text: Column | str) -> Column:
    """Fraction of non-space characters that are not alphanumeric."""
    col = F.col(text) if isinstance(text, str) else text
    nonspace = F.length(F.regexp_replace(col, r"\s", ""))
    punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return F.when(nonspace > 0, punct.cast("double") / nonspace).otherwise(0.0)


def repetition_ratio(text: Column | str, n: int = 2) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram.

    The Gopher-style repetition quality signal: boilerplate / spam /
    template text repeats phrases, natural prose mostly doesn't.
    1 - distinct_ngrams/total_ngrams; 0.0 for docs too short to have an
    n-gram. Pure Column expressions (array transform + array_distinct).
    """
    toks = tokens(text)
    m = F.size(toks) - (n - 1)
    # shift-and-zip: gram i = toks[i..i+n-1] built by folding n shifted
    # slices with zip_with — O(n*len) per doc, vs O(len^2) for the naive
    # per-position slice inside transform (measured 5x on the sf0.1 bench)
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams, F.slice(toks, 1 + j, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(
        F.size(toks) >= n,
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / m,
    ).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1].

    0.4 * english-stopword ratio (capped at 0.25 then rescaled)
    + 0.3 * (1 - min(5 * punct_ratio, 1))
    + 0.3 * min(mean_token_length / 8, 1).
    Deterministic arithmetic — the exact formula is the contract.
    """
    stop = F.least(stopword_ratio(text, LANG_MARKERS["en"]) / 0.25, F.lit(1.0))
    punct = F.lit(1.0) - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    mlen = F.least(mean_token_length(text) / 8.0, F.lit(1.0))
    return 0.4 * stop + 0.3 * punct + 0.3 * mlen


def language_scores(text: Column | str) -> dict[str, Column]:
    return {lang: stopword_ratio(text, words) for lang, words in LANG_MARKERS.items()}


def language_id(text: Column | str) -> Column:
    """Argmax marker-word ratio over LANG_MARKERS; ties break by list order.

    A deterministic n-gram-style heuristic (the classic stopword-profile
    language detector); on corpora with no marker hits everything scores 0
    and the first language wins.

    r16 shape fix: the previous when/otherwise fold embedded the running
    `best` tree TWICE per language (once in the comparison, once in the
    otherwise branch), so the expression tree — and the per-row work,
    since each score re-tokenizes the text — grew 2^(N-1)-fold. One
    array_max over (score, -index, lang) structs references each score
    once: struct comparison is lexicographic, so the max is the highest
    score with ties to the smallest index — exactly the old fold's
    "first language whose score >= max of all later scores". NULL text
    (all scores NULL) returned the LAST language under the old fold
    (every NULL comparison fell through to the initializer); the
    explicit isNull guard preserves that.
    """
    scores = language_scores(text)
    langs = list(scores)
    items = [
        F.struct(
            s.alias("s"), F.lit(-i).alias("ni"), F.lit(lang).alias("l")
        )
        for i, (lang, s) in enumerate(scores.items())
    ]
    best = F.array_max(F.array(*items))["l"]
    return F.when(scores[langs[0]].isNull(), F.lit(langs[-1])).otherwise(best)


def normalized_text(text: Column | str) -> Column:
    """lowercase, strip non-alphanumerics, collapse whitespace."""
    col = F.col(text) if isinstance(text, str) else text
    out = F.lower(col)
    out = F.regexp_replace(out, r"[^a-z0-9\s]", "")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3,
    round_to: int | None = None,
) -> DataFrame:
    """Per-document top-k terms by TF-IDF: (id, term, tfidf, rank).

    tf = term count within the doc (lowercased whitespace tokens);
    idf = ln(N / df) with df = number of docs containing the term.
    score = tf * idf; rank is row_number within doc by (score desc,
    term asc) — fully deterministic, no sampling. `round_to` ranks on the
    rounded score instead: engines may evaluate mathematically-equal
    scores a ulp apart (2*ln(10) vs ln(100)), which would flip tie order
    cross-engine; rounding (with a half-grid nudge) restores a portable
    order for oracle comparison.

    Shuffle shape at 100 TB: one explode + groupBy(id, term) with map-side
    partial counts (the corpus-sized shuffle), a doc-frequency aggregate
    over the (id, term) grain (already reduced — NOT the token stream), a
    broadcast-sized N, and a per-doc window for top-k. The df join is on
    `term`, whose grain is the vocabulary — orders of magnitude smaller
    than the corpus.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(_lower_tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.select(F.countDistinct(id_col).alias("__n"))
    score = F.col("tf").cast("double") * F.log(
        F.col("__n").cast("double") / F.col("df")
    )
    if round_to is not None:
        score = F.round(score + 1e-9, round_to)
    scored = (
        tf.join(docfreq, on="term")
        .crossJoin(F.broadcast(n))
        .select("id", "term", score.alias("tfidf"))
    )
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "term", "tfidf", "rank")
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.4,
    max_df_ratio: float = 0.5,
) -> DataFrame:
    """Document-pair cosine similarity over L2-normalized TF-IDF vectors,
    computed through an INVERTED INDEX — the sparse-text twin of the
    embedding near-dup operators, and the classic no-all-pairs shape:
    documents only ever meet on terms they share (posting-list self-join on
    `term`), so corpus size never enters a cross join.

    Weights: tf * ln(N/df), L2-normalized per document, so the summed
    product IS the cosine. Terms with df > max_df_ratio*N are pruned before
    the join — standard IR max-df stop-terming, and at scale the skew
    bound: the biggest posting list is capped at max_df_ratio of the
    corpus, everything hotter is by definition a low-signal stop term.
    (Terms in EVERY doc have idf=0 and are dropped losslessly regardless.)

    Output: (id_a, id_b, cosine) for pairs above threshold.

    Scaling (measured, BASELINE.md round-5 sf0.1→sf1 table): the posting
    join's cost is OUTPUT-BOUND — per-pair throughput IMPROVED 24x going
    sf0.1→sf1 (20 k pairs/s → 500 k pairs/s); the wall-clock slope (152x
    for 10x docs) is entirely true-answer growth (31 k → 115 M qualifying
    pairs — the synthetic replicas are bag-of-words twins, so the answer
    itself is quadratic on that data). Linear work per emitted pair is
    optimal for pair ENUMERATION; when the true pair set explodes, the
    scale-sane semantics are cluster-survivor materialization
    (drop_near_duplicates / connected_components), not pair listing.

    Shuffle shape at 100 TB: token-stream groupBy to (id, term) grain,
    vocabulary-grain df aggregate + broadcast N, join on term (posting
    lists), pair-grain groupBy — all key-partitioned, AQE handles residual
    term skew.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(_lower_tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("dfq"))
    n = df.select(F.countDistinct(id_col).cast("double").alias("__n"))
    weighted = (
        tf.join(docfreq, on="term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("dfq") <= max_df_ratio * F.col("__n"))
        .select(
            "id",
            "term",
            (F.col("tf") * F.log(F.col("__n") / F.col("dfq"))).alias("w"),
        )
    )
    norms = weighted.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    unit = (
        weighted.join(norms, on="id")
        .filter(F.col("nrm") > 0)
        .select("id", "term", (F.col("w") / F.col("nrm")).alias("u"))
        # materialize the inverted index once: both sides of the
        # posting-list self-join read this frame — un-materialized, the
        # whole scan+tokenize+tf+df chain executes once per side (r15
        # plan-audit discipline). (id, term, u) grain is exactly what
        # a materialized inverted index holds at any scale.
        .transform(materialize)
    )
    a = unit.select(F.col("id").alias("id_a"), "term", F.col("u").alias("ua"))
    b = unit.select(F.col("id").alias("id_b"), "term", F.col("u").alias("ub"))
    return (
        a.join(b, on="term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("ua") * F.col("ub")).alias("cosine"))
        .filter(F.col("cosine") > threshold)
    )


def top_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 20
) -> DataFrame:
    """Corpus-wide top-k word n-grams by (total count, doc frequency).

    The boilerplate-discovery pass: headers/footers/templates surface as
    n-grams whose doc frequency approaches their total count; what this
    finds feeds the strip/filter stage. One explode + one groupBy(ngram)
    with map-side partial counts; the global top-k is an orderBy+limit
    over the n-gram grain (vocabulary-sized, not corpus-sized). Ties
    break on the n-gram string for a deterministic, engine-portable
    order. Output: (ngram, total_count, doc_freq, rank).
    """
    from presto_workload_analyzer_spark.extensions.dedup import shingles

    grams = shingles(df, id_col, text_col, k=n, distinct=False)
    counts = grams.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("total_count"),
        F.countDistinct("id").cast("long").alias("doc_freq"),
    )
    order = [F.desc("total_count"), F.desc("doc_freq"), F.asc("shingle")]
    # orderBy+limit plans TakeOrdered (per-partition heap + driver merge of
    # k-row partials) — no global sort of the vocabulary; the rank window
    # then runs over the k survivors only
    top = counts.orderBy(*order).limit(k)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long")
    ).select(F.col("shingle").alias("ngram"), "total_count", "doc_freq", "rank")


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's own
    unigram model: avg over tokens of -ln(count(tok) / total_tokens).

    The CCNet-style LM quality proxy without an external model: natural
    prose scores near the corpus average, gibberish / rare-token spam
    scores high, boilerplate scores low. Two aggregations: a (doc, token)
    count (THE corpus-sized shuffle, map-side combinable), then token
    frequencies on the vocabulary grain reused via join — identical shape
    to tfidf_top_terms, so the same 100 TB posture applies. Output:
    (id, n_tokens, avg_neg_logprob).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(_lower_tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = vocab.select(F.sum("cnt").alias("__total"))
    return (
        tf.join(vocab, on="term")
        .crossJoin(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            (
                F.sum(F.col("tf") * -F.log(F.col("cnt") / F.col("__total")))
                / F.sum("tf")
            ).alias("avg_neg_logprob"),
        )
    )


def chunk_documents(
    df: DataFrame, id_col: str, text_col: str, chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-stride overlapping token windows.

    The standard pre-embedding / pre-tokenization sharding step: chunk i
    covers whitespace tokens [1 + i*stride, 1 + i*stride + chunk_tokens)
    with stride = chunk_tokens - overlap; the final chunks may be short
    (the stride grid always covers the tail). Output: (id, chunk_id,
    chunk_text, n_tokens), deterministic, one explode — no UDF, no
    shuffle at all: chunking is embarrassingly row-local, so at 100 TB it
    runs entirely inside the scan stage.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
    out = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(starts).alias("chunk_id", "__start"),
        toks.alias("__toks"),
    )
    piece = F.slice(F.col("__toks"), F.col("__start"), chunk_tokens)
    return out.select(
        "id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


# (pattern, replacement) applied in order: emails first so the phone rule
# never eats an address's digits; all patterns are RE2-safe (no backrefs,
# no lookaround) so the same strings work in Spark (Java regex), DuckDB
# and RE2-based engines
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


def redact_pii(text: Column | str) -> Column:
    """Replace emails / IPv4s / phone-shaped digit runs with typed tags.

    A scrubbing pass every web-scale training corpus runs before anything
    else touches the text. Pure chained regexp_replace — JVM-side, codegen,
    runs at scan speed; the pattern list is the contract (extend per
    deployment). Not an anonymity guarantee: it is the standard best-effort
    surface-form scrub, same scope as the reference's obfuscation pass
    (jsonl_process.py:53-86) but for document text rather than log fields.
    """
    out = F.col(text) if isinstance(text, str) else text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    md5 is bit-identical across engines (oracle-checkable); swap for
    xxhash64 on the 100 TB path where a 64-bit key is enough.
    """
    return F.md5(normalized_text(text))


def pack_bins(
    df: DataFrame,
    part_col: str,
    order_col: str,
    size_col: str,
    budget: int,
    shard_size: int = 1 << 16,
) -> DataFrame:
    """Greedy fixed-budget sequence packing: bin = floor(exclusive running
    sum of `size_col` / budget) in (`part_col`, `order_col`) order — the
    batch/context-window packing step before training.

    Computed HIERARCHICALLY so no task ever sees a whole partition's
    sequence (the naive formulation is a prefix-sum window partitioned by
    `part_col` alone; with a handful of sources that funnels each source's
    entire corpus through ONE task — the unpartitioned-window scale killer
    wearing a low-cardinality key):

      1. shard = floor(order_col / shard_size): an order-PRESERVING range
         split of the numeric order key, so (part, shard) is
         high-cardinality and grows with the data;
      2. local exclusive prefix sums run per (part, shard) — the only
         window over raw rows, keyed to scale;
      3. per-shard totals (one tiny groupBy: parts x shards rows) need
         their own exclusive running offset — itself a prefix sum, so it
         RECURSES one level (shard-of-shards: shard2 = floor(shard /
         shard_size)); the only window partitioned by `part_col` alone
         runs over DOUBLY-aggregated rows (n_rows / shard_size² per
         partition — ~233 rows per TRILLION inputs at the default), so
         the single-task frame is bounded by a constant at any scale;
      4. global prefix = shard2 offset + shard-local offset + row-local
         prefix; bin = floor(/budget).

    Identical output to the single-window formulation for any shard_size
    (the shard split never reorders the sequence: floor is monotonic, so
    (shard2, shard, order) ascending == order ascending, NULLs first at
    every level). `order_col` must be numeric; ties within it would make
    the sequence ambiguous, so the caller guarantees uniqueness per
    partition (doc ids here). Output: df's (part, order, size) columns +
    `bin`.
    """
    rows = df.select(
        F.col(part_col),
        F.col(order_col),
        F.col(size_col),
        F.floor(F.col(order_col) / F.lit(shard_size)).alias("__shard"),
    )
    w_local = (
        Window.partitionBy(part_col, "__shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = rows.withColumn(
        "__local", F.coalesce(F.sum(size_col).over(w_local), F.lit(0))
    )
    totals = rows.groupBy(part_col, "__shard").agg(
        F.sum(size_col).alias("__shard_total")
    )
    # Level 2: the per-shard running offset, decomposed the same way so no
    # task ever sees more than shard_size aggregated rows per group
    t2 = totals.withColumn(
        "__shard2", F.floor(F.col("__shard") / F.lit(shard_size))
    )
    w_local2 = (
        Window.partitionBy(part_col, "__shard2")
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local2 = t2.withColumn(
        "__local2", F.coalesce(F.sum("__shard_total").over(w_local2), F.lit(0))
    )
    totals2 = t2.groupBy(part_col, "__shard2").agg(
        F.sum("__shard_total").alias("__t2")
    )
    w_top = (
        Window.partitionBy(part_col)
        .orderBy("__shard2")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets2 = totals2.withColumn(
        "__offset2", F.coalesce(F.sum("__t2").over(w_top), F.lit(0))
    ).select(part_col, "__shard2", "__offset2")
    l2, r2 = local2.alias("__l2"), F.broadcast(offsets2).alias("__r2")
    cond2 = l2[part_col].eqNullSafe(r2[part_col]) & l2["__shard2"].eqNullSafe(
        r2["__shard2"]
    )
    offsets = l2.join(r2, cond2).select(
        l2[part_col],
        l2["__shard"],
        (r2["__offset2"] + l2["__local2"]).alias("__offset"),
    )
    # NULL-SAFE join: NULL part/order keys form their own window partition
    # in the single-window formulation and must keep their rows here too
    lhs, rhs = local.alias("__l"), F.broadcast(offsets).alias("__r")
    cond = lhs[part_col].eqNullSafe(rhs[part_col]) & lhs["__shard"].eqNullSafe(
        rhs["__shard"]
    )
    return (
        lhs.join(rhs, cond)
        .select(*[lhs[c] for c in local.columns], rhs["__offset"])
        .withColumn(
            "bin",
            F.floor((F.col("__offset") + F.col("__local")) / F.lit(budget)).cast(
                "long"
            ),
        )
        .drop("__shard", "__local", "__offset")
    )


def duplicate_ngram_fraction(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Per-document duplicated-text fraction: the share of a document's
    DISTINCT word k-grams that also occur in at least one other document —
    the cross-document repetition signal quality pipelines threshold on
    (high fraction => boilerplate / near-copy; repetition_ratio covers the
    within-document case).

    Shuffle shape: one distinct (id, shingle) explode, a doc-frequency
    aggregation on the SHINGLE grain (vocabulary-sized, map-side
    combinable), and a join back on shingle — the inverted-index shape
    shared with tfidf_top_terms, so the same 100 TB posture (and max-df
    skew note) applies. Documents shorter than k words have no shingles
    and drop out. Output: (id, n_shingles, n_dup, dup_frac rounded to 6).
    """
    from presto_workload_analyzer_spark.extensions.dedup import shingles

    sh = shingles(df, id_col, text_col, k=k, distinct=True)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    return (
        sh.join(freq, on="shingle")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("__df") >= 2).cast("long")).alias("n_dup"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup") / F.col("n_shingles"), 6),
        )
    )


# Fixed, documented logistic-regression weights for quality_logit: a
# stand-in for a trained classifier's coefficients (fasttext/CCNet-style
# quality filters ship exactly such a linear head). The FORMULA is the
# contract; swap the literals for trained weights in production.
QUALITY_LOGIT_WEIGHTS = {
    "bias": -2.0,
    "log1p_chars": 0.35,
    "stop_ratio": 2.5,
    "punct_ratio": -3.0,
    "mean_tok_len": 0.15,
}


def quality_logit(text: Column | str) -> Column:
    """Deterministic logistic quality score in (0, 1): sigmoid of a fixed
    linear model over scan-speed text features (log #chars, English
    stopword ratio, punctuation ratio, mean token length). Pure Column
    expressions — runs inside whole-stage codegen at scan speed; the only
    transcendentals are ln/exp, identical formulas on both engines (last-
    ulp drift is absorbed by the caller's round-to-6)."""
    col = F.col(text) if isinstance(text, str) else text
    w = QUALITY_LOGIT_WEIGHTS
    z = (
        F.lit(w["bias"])
        + F.lit(w["log1p_chars"]) * F.log(F.lit(1.0) + F.length(col))
        + F.lit(w["stop_ratio"]) * stopword_ratio(col, LANG_MARKERS["en"])
        + F.lit(w["punct_ratio"]) * punct_ratio(col)
        + F.lit(w["mean_tok_len"]) * mean_token_length(col)
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


# The Gopher rule set's eight required stopwords (Rae et al. 2021,
# Table A1: "contains at least two of the following English words").
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# Bullet glyphs for the line-start rule; the paper says "bullet point",
# implementations conventionally include the ASCII list markers.
GOPHER_BULLETS = ("•", "‣", "▶", "-", "*")


def gopher_rules(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The Gopher document-quality RULE SET (Rae et al. 2021, public
    paper, Table A1) — the published hard-filter battery beside this
    engine's weighted score (quality_score) and logistic head
    (quality_logit). One row per document with every rule's measured
    value, its boolean flag, and the conjunction:

      * 50 <= word count <= 100,000
      * 3 <= mean word length <= 10
      * symbol-to-word ratio <= 0.1 for EACH of '#' and '...' — the
        paper (and common implementations, e.g. DataTrove) tests the
        two symbols' ratios separately ("either"), not their sum, so a
        doc with 0.06 of each passes both (a summed 0.12 would have
        wrongly failed it — r10 ADVICE fix)
      * <= 90% of lines start with a bullet glyph
      * <= 30% of lines end with an ellipsis
      * >= 80% of words contain at least one alphabetic character
      * contains >= 2 DISTINCT words from the paper's 8-stopword list
        (the paper's "contains at least two of the following" read as
        set membership; some reference implementations instead count
        token OCCURRENCES, under which a doc repeating one stopword
        twice passes — a deliberate, documented divergence, so a
        differential test against such a filter should expect it)

    Rule flags compare the ROUNDED measured value (the x43 convention)
    so a boundary document cannot flip across engines on last-ulp
    division drift — though every ratio here is a ratio of small exact
    integers, identical in IEEE double on any engine. NULL text yields
    NULL metrics/flags (keep NULL, falsy to a filter); a whitespace-only
    doc has one empty token, so the ratios stay defined.

    Pure Column expressions over the token/line arrays (no explode, no
    join, no UDF): runs inside whole-stage codegen at scan speed,
    trivially parallel at any corpus size.
    """
    # r16 hoist: the token/line/lowered-token arrays are referenced up
    # to ~12x below (aggregate + filters + 8 stopword membership
    # tests). As raw split()/transform() expressions each reference
    # re-derives the array and the duplicated subtrees bloat codegen
    # (an 8-ref probe measured 1.9 s first-run / 0.40 s warm flat vs
    # 0.43 / 0.31 hoisted at sf0.1). Explicit columns make every later
    # reference an attribute read; CollapseProject keeps
    # multi-referenced non-trivial aliases in their own Project, and
    # whole-stage codegen still fuses the chain into one pass.
    df = (
        df.select(
            F.col(id_col).alias("__gid"),
            F.col(text_col).alias("__gtxt"),
            tokens(text_col).alias("__gtoks"),
        )
        .withColumn("__glow", F.transform(F.col("__gtoks"), lambda t: F.lower(t)))
        .withColumn("__glines", F.split(F.col("__gtxt"), "\n", -1))
    )
    txt = F.col("__gtxt")
    toks = F.col("__gtoks")
    n_words = F.size(toks)
    mean_len = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast(
            "double"
        )
        / n_words
    )
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_ellipsis = F.size(F.split(txt, r"\.\.\.", -1)) - 1
    hash_ratio = n_hash.cast("double") / n_words
    ellipsis_ratio = n_ellipsis.cast("double") / n_words
    lines = F.col("__glines")
    n_lines = F.size(lines)
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda ln: functools.reduce(
                    lambda a, b: a | b,
                    [F.trim(ln).startswith(g) for g in GOPHER_BULLETS],
                ),
            )
        ).cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(
                lines,
                lambda ln: F.trim(ln).endswith("...")
                | F.trim(ln).endswith("…"),
            )
        ).cast("double")
        / n_lines
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / n_words
    )
    n_stop = functools.reduce(
        lambda a, b: a + b,
        [
            F.array_contains(F.col("__glow"), w).cast("int")
            for w in GOPHER_STOPWORDS
        ],
    )

    r6 = lambda c: F.round(c + 1e-9, 6)  # noqa: E731
    mean_len_r = r6(mean_len)
    hash_r = r6(hash_ratio)
    ellipsis_sym_r = r6(ellipsis_ratio)
    bullet_r = r6(bullet_frac)
    ellipsis_r = r6(ellipsis_frac)
    alpha_r = r6(alpha_frac)
    flags = {
        "ok_word_count": (n_words >= 50) & (n_words <= 100_000),
        "ok_mean_word_len": (mean_len_r >= 3.0) & (mean_len_r <= 10.0),
        "ok_hash_ratio": hash_r <= 0.1,
        "ok_ellipsis_ratio": ellipsis_sym_r <= 0.1,
        "ok_bullets": bullet_r <= 0.9,
        "ok_ellipsis": ellipsis_r <= 0.3,
        "ok_alpha_words": alpha_r >= 0.8,
        "ok_stopwords": n_stop >= 2,
    }
    keep = functools.reduce(lambda a, b: a & b, flags.values())
    return df.select(
        F.col("__gid").alias("id"),
        n_words.cast("long").alias("n_words"),
        mean_len_r.alias("mean_word_len"),
        hash_r.alias("hash_ratio"),
        ellipsis_sym_r.alias("ellipsis_ratio"),
        bullet_r.alias("bullet_frac"),
        ellipsis_r.alias("ellipsis_frac"),
        alpha_r.alias("alpha_word_frac"),
        n_stop.cast("long").alias("n_stopwords"),
        *[c.alias(n) for n, c in flags.items()],
        keep.alias("keep"),
    )


def gopher_repetition(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
) -> DataFrame:
    """The Gopher REPETITION battery (Rae et al. 2021, Table A1) — the
    within-document companion of gopher_rules: excessive phrase
    repetition marks boilerplate/spam. Two rule families, both defined
    as character fractions so long repeated phrases weigh more than
    short ones:

      * top-n-gram fraction (paper: n = 2, 3, 4; thresholds 0.20 /
        0.18 / 0.16): chars of the single most frequent word n-gram,
        times its count, over the doc's total token chars. Ties break
        to the lexicographically smallest gram (engine-portable).
      * duplicate-n-gram fraction (paper: n = 5..10; thresholds
        0.15..0.10): chars of token POSITIONS covered by any occurrence
        of an n-gram appearing >= 2 times, over total token chars —
        positional coverage, so overlapping duplicates never double
        count. Implemented for the family's endpoints (5 and 10) by
        default; every other n is the same kernel with a different
        window width.

    Character accounting excludes whitespace on both sides of the
    compare (token chars, and gram chars = len(gram) - (n-1) joining
    spaces). Docs shorter than n tokens score 0 for that rule.

    Scale shape: ONE tagged gram stream per rule family — the per-n
    gram arrays are concatenated with an n tag before the explode, so
    all top-n counts ride one (doc, n, gram) shuffle and all dup
    coverage one (doc, n, position) distinct, with per-n conditional
    aggregates instead of per-n joins (2 corpus-grain shuffles instead
    of the loop formulation's 5 — same sf0.1 wall, fewer wide stages at
    cluster scale). The measured sf0.1 cost (~3.5 s for 5k docs) is the
    gram-string group-bys themselves — ~60-char 10-gram keys — the
    honest price of the dup-coverage semantics; no window, no UDF, cost
    linear in corpus tokens times len(top_ns) + len(dup_ns).
    """
    lower = _lower_tokens(text_col)
    # tokenize ONCE: four consumers (char totals, top-gram stream, dup
    # positional stream, token-position chars) each re-ran the full
    # scan+tokenize without this (r15 plan-audit discipline)
    base = df.select(F.col(id_col).alias("id"), lower.alias("__toks")).transform(materialize)
    totals = base.select(
        "id",
        F.aggregate(
            F.col("__toks"), F.lit(0), lambda acc, t: acc + F.length(t)
        ).alias("__chars"),
    )

    def gram_col(n: int):
        # slice-in-transform, NOT dedup.gram_array's zip-shift: the zip
        # chain's expression tree grows O(n^2) in n and at n=10 a fresh
        # plan pays ~2 s extra first-run codegen/JIT vs milliseconds for
        # this shallow form (measured at sf0.1: zip 2.98 s vs slice
        # 1.11 s first run, both ~0.6 s warm). The O(n*len) slice
        # execution is noise at any doc length a quality filter sees;
        # gram_array keeps zip-shift for its k<=3 callers where the tree
        # stays small and execution dominates. when-guard: docs shorter
        # than n have zero grams (and sequence(1, 0) would count DOWN,
        # not empty).
        toks = F.col("__toks")
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def tagged(ns: tuple[int, ...], with_pos: bool):
        # PySpark infers the higher-order-function arity from the Python
        # lambda's parameter count, so the n tag must be captured via a
        # closure factory, never a default argument
        def tag_fn(n: int):
            return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

        def tag_pos_fn(n: int):
            # (n, start position, gram): transform's index form gives
            # the gram's 0-based start offset in the token array
            return lambda g, i: F.struct(
                F.lit(n).alias("n"), i.alias("p"), g.alias("g")
            )

        arrs = [
            F.transform(gram_col(n), tag_pos_fn(n) if with_pos else tag_fn(n))
            for n in ns
        ]
        return F.explode(F.concat(*arrs))

    # --- top rules: one (id, n, gram) count shuffle, one (id) reduce ---
    counts = (
        base.select("id", tagged(top_ns, with_pos=False).alias("t"))
        .select("id", F.col("t.n").alias("__n"), F.col("t.g").alias("g"))
        .groupBy("id", "__n", "g")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # max count, tie -> lexicographically smallest gram: min over
    # (-count, gram) picks exactly that pair
    tops = counts.groupBy("id").agg(
        *[
            F.min(
                F.when(
                    F.col("__n") == n,
                    F.struct((-F.col("__c")).alias("nc"), F.col("g")),
                )
            ).alias(f"__t{n}")
            for n in top_ns
        ]
    )
    # --- dup rules: one (id, n, gram) count, one (id, n, pos) distinct ---
    # materialized: the positional gram stream is both counted (dup_grams)
    # and re-joined against those counts (covered) — two full explodes of
    # the widest stream in the battery without it
    inst = base.select("id", tagged(dup_ns, with_pos=True).alias("t")).select(
        "id",
        F.col("t.n").alias("__n"),
        F.col("t.p").alias("__p"),
        F.col("t.g").alias("g"),
    ).transform(materialize)
    dup_grams = (
        inst.groupBy("id", "__n", "g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("id", "__n", "g")
    )
    covered = (
        inst.join(dup_grams, ["id", "__n", "g"])
        .select(
            "id",
            "__n",
            F.explode(
                F.sequence(F.col("__p"), F.col("__p") + F.col("__n") - 1)
            ).alias("__tp"),
        )
        .distinct()
    )
    tokchars = base.select(
        "id", F.posexplode(F.col("__toks")).alias("__tp", "__tok")
    ).select("id", "__tp", F.length("__tok").alias("__tl"))
    cov_chars = covered.join(tokchars, ["id", "__tp"]).groupBy("id").agg(
        *[
            F.sum(F.when(F.col("__n") == n, F.col("__tl"))).alias(f"__cc{n}")
            for n in dup_ns
        ]
    )

    # try_divide, not `/`: a zero-token-chars doc (empty or
    # whitespace-only text) has __chars = 0, which ANSI `/` throws on;
    # NULL-on-zero matches the oracle's x/0 -> NULL -> coalesce(., 0.0)
    out = totals.join(tops, "id", "left").join(cov_chars, "id", "left")
    for n in top_ns:
        t = F.col(f"__t{n}")
        out = out.withColumn(
            f"top{n}_frac",
            F.round(
                F.coalesce(
                    F.try_divide(
                        (-t.getField("nc"))
                        * (F.length(t.getField("g")) - (n - 1)),
                        F.col("__chars"),
                    ),
                    F.lit(0.0),
                )
                + 1e-9,
                6,
            ),
        ).drop(f"__t{n}")
    for n in dup_ns:
        out = out.withColumn(
            f"dup{n}_frac",
            F.round(
                F.coalesce(
                    F.try_divide(F.col(f"__cc{n}"), F.col("__chars")),
                    F.lit(0.0),
                )
                + 1e-9,
                6,
            ),
        ).drop(f"__cc{n}")
    return out.drop("__chars")


def pmi_collocations(
    df: DataFrame, id_col: str, text_col: str, min_count: int = 5, top: int = 20,
    round_to: int | None = None,
) -> DataFrame:
    """Top-`top` adjacent-bigram collocations by pointwise mutual
    information: (w1, w2, n_pair, pmi), ordered (pmi desc, w1, w2).

    PMI(a,b) = ln( P(a,b) / (P(a)P(b)) ) with P(a,b) = bigram count over
    total bigrams and P(a) = unigram count over total unigrams — the
    classic collocation score (Church & Hanks 1990): high for pairs that
    co-occur far above chance ("new york"), ~0 for independent pairs.
    `min_count` floors the bigram count first (PMI is notoriously noisy on
    rare pairs — a hapax bigram of two hapax words maxes the score).
    `round_to` ranks on the rounded score — same cross-engine tie-order
    armor as tfidf_top_terms (engines may differ by a ulp on ln()).

    Shuffle shape at 100 TB: bigrams come from the shared gram_array
    builder (shift-and-zip, no UDF); two bounded aggregations (bigram
    vocabulary, unigram vocabulary) with map-side combine; unigram counts
    join the bigram table on each side at VOCABULARY grain (one row per
    bigram type, never per occurrence); totals broadcast as 1-row frames.
    Top-k is a TakeOrdered, not a global sort.
    """
    from presto_workload_analyzer_spark.extensions.dedup import gram_array

    bi = df.select(F.explode(gram_array(text_col, 2)).alias("bigram")).select(
        F.split(F.col("bigram"), " ", 2)[0].alias("w1"),
        F.split(F.col("bigram"), " ", 2)[1].alias("w2"),
    )
    uni = df.select(F.explode(tokens(text_col)).alias("w")).where(F.col("w") != "")
    pair_counts = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    uni_counts = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    tot_pair = pair_counts.agg(F.sum("n_pair").cast("double").alias("__tp"))
    tot_uni = uni_counts.agg(F.sum("n_w").cast("double").alias("__tu"))
    pmi = F.log(
        (F.col("n_pair") / F.col("__tp"))
        / ((F.col("n_a") / F.col("__tu")) * (F.col("n_b") / F.col("__tu")))
    )
    if round_to is not None:
        pmi = F.round(pmi + 1e-9, round_to)
    return (
        pair_counts.filter(F.col("n_pair") >= min_count)
        .join(
            uni_counts.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a")),
            on="w1",
        )
        .join(
            uni_counts.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b")),
            on="w2",
        )
        .crossJoin(F.broadcast(tot_pair))
        .crossJoin(F.broadcast(tot_uni))
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(top)
    )


def _ranked_spectrum(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """(grp, term, cnt, rank): each group's term frequency spectrum ranked
    by (cnt desc, term asc) through the HIERARCHICAL two-level row_number
    (sampling._hierarchical_row_number) sharded by -floor(log2(cnt)) —
    monotone between shards w.r.t. the order, so the rank is exact while
    no task sorts more than one log-bucket of one group's vocabulary.
    Shared by zipf_slope and vocab_coverage."""
    from presto_workload_analyzer_spark.extensions.sampling import (
        _hierarchical_row_number,
    )

    counts = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("grp", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _hierarchical_row_number(
        counts,
        ["grp"],
        [F.desc("cnt"), F.asc("term")],
        -F.floor(F.log2(F.col("cnt"))),
        "rank",
    )


def zipf_slope(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Per-group Zipf fit: regression slope of ln(count) on ln(rank) over
    the group's term frequency spectrum — (group, n_terms, zipf_slope).

    Natural corpora follow rank-frequency power laws with slope ≈ -1;
    a collapsed slope (≈ 0, flat spectrum) flags template/boilerplate
    sources and a steep one flags tiny-vocabulary degenerate text — a
    cheap corpus-health metric per source.

    Ranks are computed HIERARCHICALLY (sampling._hierarchical_row_number):
    ranking partitioned only by `group_col` (a low-cardinality enum) over
    the vocabulary would funnel each group's whole term table through one
    task — the x39 lint shape. Sharding by -floor(log2(count)) is monotone
    w.r.t. the (count desc, term asc) order BETWEEN shards (different
    shards never hold equal counts), so the two-level rank is exact while
    each task sorts only one log-bucket of one group's vocabulary. The
    regression itself is one aggregate (regr_slope — JVM built-in).
    """
    ranked = _ranked_spectrum(df, group_col, text_col)
    return (
        ranked.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.expr("regr_slope(ln(cnt), ln(rank))").alias("zipf_slope"),
        )
        .select(F.col("grp").alias(group_col), "n_terms", "zipf_slope")
    )


def vocab_coverage(
    df: DataFrame, group_col: str, text_col: str, tops: tuple[int, ...] = (10, 100, 1000)
) -> DataFrame:
    """Per-group vocabulary coverage: the fraction of all token
    OCCURRENCES accounted for by the group's top-N terms, for each N in
    `tops` — (group, n_terms, cov_<N>...). The tokenizer-design /
    corpus-health companion of zipf_slope: a source whose top-10 terms
    cover 80% of tokens is template noise; natural text needs thousands
    of terms for that.

    One pass over the shared ranked spectrum (_ranked_spectrum — the
    hierarchical rank, no whole-vocabulary sort task), then a single
    groupBy(grp) with conditional sums (sum(cnt) FILTER rank <= N) — no
    prefix-sum window needed because the cut points are fixed.
    """
    ranked = _ranked_spectrum(df, group_col, text_col)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("cnt").alias("__total"),
    ]
    for n in tops:
        aggs.append(
            F.sum(F.when(F.col("rank") <= n, F.col("cnt")).otherwise(0)).alias(
                f"__top_{n}"
            )
        )
    out = ranked.groupBy("grp").agg(*aggs)
    sel = [F.col("grp").alias(group_col), "n_terms"]
    for n in tops:
        sel.append(
            (F.col(f"__top_{n}") / F.col("__total")).alias(f"cov_{n}")
        )
    return out.select(*sel)


def _bigram_instances(toks: DataFrame, *keep: str) -> DataFrame:
    """One (*keep, w_prev, w) row per bigram of each row's `__toks`."""
    from presto_workload_analyzer_spark.extensions.dedup import gram_array_of

    return toks.select(
        *keep, F.explode(gram_array_of(_bigram_toks(F.col("__toks")), 2)).alias("bg")
    ).select(
        *keep,
        F.split(F.col("bg"), " ", 2)[0].alias("w_prev"),
        F.split(F.col("bg"), " ", 2)[1].alias("w"),
    )


def _first_tokens(toks: DataFrame) -> DataFrame:
    """(id, w): each row's first token, where it has a non-empty one — the
    token a bigram LM scores under its unigram term alone."""
    return toks.select("id", F.col("__toks").getItem(0).alias("w")).where(
        F.col("w").isNotNull() & (F.col("w") != "")
    )


def _train_counts(train: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A bigram LM's materialized count tables over the fit slice `train`:
    (w, c1) at vocabulary grain, read by three joins and the scalar
    aggregate, and (w_prev, w, c2) at bigram-type grain."""
    uni = (
        train.select(F.explode("__toks").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
        .transform(materialize)
    )
    bi = (
        _bigram_instances(train)
        .groupBy("w_prev", "w")
        .agg(F.count(F.lit(1)).alias("c2"))
        .transform(materialize)
    )
    return uni, bi


def _held_bigram_counts(held: DataFrame, uni: DataFrame, bi: DataFrame) -> DataFrame:
    """(w, w_prev, id, c2, c_prev, c1): every bigram of the held slice with
    the train counts of the bigram, its context and its word, NULL where
    the train slice never saw them."""
    return (
        _bigram_instances(held, "id")
        .join(bi, on=["w_prev", "w"], how="left")
        .join(
            uni.select(F.col("w").alias("w_prev"), F.col("c1").alias("c_prev")),
            on="w_prev",
            how="left",
        )
        .join(uni, on="w", how="left")
    )


def _p_uni(c1: str, n: str, v: str) -> Column:
    """Add-one smoothed unigram probability over a train vocabulary of `v`
    words and `n` tokens, with one unseen slot."""
    return (F.coalesce(F.col(c1), F.lit(0)) + 1.0) / (F.col(n) + F.col(v) + 1.0)


def _bi_term(c2: str, c_prev: str) -> Column:
    """The maximum-likelihood bigram term c2 / c_prev, 0 for an unseen context."""
    return F.when(
        F.coalesce(F.col(c_prev), F.lit(0)) > 0,
        F.coalesce(F.col(c2), F.lit(0)).cast("double") / F.col(c_prev),
    ).otherwise(F.lit(0.0))


def bigram_logprob(
    df: DataFrame, id_col: str, text_col: str, lam: float = 0.7
) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's own
    INTERPOLATED BIGRAM model — unigram_logprob's stronger sibling (word
    order now matters: shuffled natural prose scores like gibberish):

      p(w_i | w_{i-1}) = lam * c(w_{i-1} w_i) / c(w_{i-1})
                       + (1 - lam) * c(w_i) / N

    Jelinek-Mercer interpolation: the unigram floor keeps unseen bigrams
    finite, so every document scores (no OOV blowups — the model is fit on
    the scoring corpus itself). The first token of each doc scores under
    the unigram term alone. Output: (id, n_tokens, avg_neg_logprob).

    Shuffle shape at 100 TB: bigram instances come from the shared
    gram_array builder; the count tables live at bigram-vocabulary /
    unigram-vocabulary grain and join the instance stream on their keys
    (key-partitioned, AQE-skew-handled — identical posture to
    unigram_logprob and tfidf); N broadcasts.
    """
    base = df.select(F.col(id_col).alias("id"), _lower_tokens(text_col).alias("__toks"))

    uni_inst = base.select("id", F.explode("__toks").alias("w")).where(
        F.col("w") != ""
    )
    # materialized multi-consumer frames (r15 plan-audit discipline):
    # uni feeds three joins + the total scalar; bi_inst is both counted
    # (bi) and scored against its own count table — un-materialized,
    # each reference re-runs the scan+tokenize+explode chain
    uni = (
        uni_inst.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
        .transform(materialize)
    )
    total = uni.select(F.sum("c1").cast("double").alias("__n"))

    bi_inst = _bigram_instances(base, "id").transform(materialize)
    bi = bi_inst.groupBy("w_prev", "w").agg(F.count(F.lit(1)).alias("c2"))

    # every non-first token scores under the interpolated bigram
    scored_bi = (
        bi_inst.join(bi, on=["w_prev", "w"])
        .join(uni.select(F.col("w").alias("w_prev"), F.col("c1").alias("c_prev")),
              on="w_prev")
        .join(uni, on="w")
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            (
                -F.log(
                    lam * F.col("c2") / F.col("c_prev")
                    + (1.0 - lam) * F.col("c1") / F.col("__n")
                )
            ).alias("nll"),
        )
    )
    # the first token of each doc scores under the unigram alone
    first = (
        _first_tokens(base)
        .join(uni, on="w")
        .crossJoin(F.broadcast(total))
        .select("id", (-F.log(F.col("c1") / F.col("__n"))).alias("nll"))
    )
    return (
        scored_bi.unionByName(first)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (F.sum("nll") / F.count(F.lit(1))).alias("avg_neg_logprob"),
        )
    )


def heldout_bigram_nll(
    df: DataFrame,
    id_col: str,
    text_col: str,
    holdout: Column,
    lam: float = 0.7,
    train: Column | None = None,
) -> DataFrame:
    """Held-out negative log-likelihood under an interpolated bigram LM
    fit on the REST of the corpus — the perplexity-filter scoring stage
    (a quality heuristic every published pretraining pipeline ships some
    form of: score candidate text under a reference LM, drop the
    high-perplexity tail). bigram_logprob fits and scores on the SAME
    corpus; this splits — rows where `holdout` is true are scored, all
    other rows train the model — so the score is an honest generalization
    number, not memorization.

    Because held-out text contains words and bigrams the train corpus
    never saw, the Jelinek-Mercer unigram floor alone is not finite;
    the unigram term is add-1 smoothed over the train vocabulary with
    one unseen slot:

        p_uni(w)        = (c1(w) + 1) / (N + V + 1)
        p(w | w_prev)   = lam * [c2/c_prev if c_prev > 0 else 0]
                        + (1 - lam) * p_uni(w)

    (c1, c2, c_prev, N = train counts; V = train vocabulary size).
    First token of each held-out doc scores under p_uni alone — the
    bigram_logprob convention. `holdout` must evaluate true/false on
    every row (a NULL drops the row from BOTH slices — ~NULL is not
    true); token-less docs score nothing and emit no row.

    `train` (optional) decouples the fit slice from the score slice:
    by default the model trains on ~holdout, but reference-delta
    scoring (RHO-style selection: the same candidates scored under a
    TARGET-slice LM and a general-corpus LM) needs train and score
    predicates chosen independently. The caller owns disjointness —
    overlapping slices mean scoring memorized text.

    Shuffle shape at 100 TB: identical to bigram_logprob — count tables
    at vocabulary grain, held-out instances LEFT-join them on their keys
    (unseen keys coalesce to 0), scalars (N, V) broadcast via a 1-row
    cross join. Output: (id, n_scored, sum_nll) doc-grain UNROUNDED sums
    so callers can aggregate to any grain before rounding.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        _lower_tokens(text_col).alias("__toks"),
        holdout.alias("__ho"),
        (train if train is not None else ~holdout).alias("__tr"),
    )
    train = base.filter(F.col("__tr"))
    # materialize the held token slice once (id + tokens only): it is
    # consumed three times (bigram instances, first-token row, and the
    # doc-grain rollup) and each un-materialized reference re-plans and
    # re-executes the full scan+tokenize subtree — the r15 plan audit
    # measured the two-LM consumers (xs24/xs26) at 64-136 Exchange /
    # 34-68 scan plans from exactly this duplication. Candidate-slice
    # grain, the data any reference-model scorer must hold anyway.
    held = base.filter(F.col("__ho")).select("id", "__toks").transform(materialize)

    uni, bi = _train_counts(train)
    scal = uni.agg(
        F.sum("c1").cast("double").alias("__n"),
        F.count(F.lit(1)).cast("double").alias("__v"),
    )
    p_uni = _p_uni("c1", "__n", "__v")
    bi_term = _bi_term("c2", "c_prev")

    scored_bi = (
        _held_bigram_counts(held, uni, bi)
        .crossJoin(F.broadcast(scal))
        .select(
            "id", (-F.log(lam * bi_term + (1.0 - lam) * p_uni)).alias("nll")
        )
    )
    first = (
        _first_tokens(held)
        .join(uni, on="w", how="left")
        .crossJoin(F.broadcast(scal))
        .select("id", (-F.log(p_uni)).alias("nll"))
    )
    return (
        scored_bi.unionByName(first)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum("nll").alias("sum_nll"),
        )
    )


def distinctive_terms(
    df: DataFrame, group_col: str, text_col: str, top: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Per-group DISTINCTIVE vocabulary via weighted log-odds with an
    informative Dirichlet prior (Monroe, Colaresi & Quinn 2008's "Fighting
    Words") — (group, term, n, z, rank): which words characterize source k
    AGAINST the rest of the corpus. Unlike raw TF-IDF-per-group, the
    global-counts prior shrinks rare-word noise and the variance
    normalization makes scores comparable across frequency bands:

      z_kw = [ ln((y_kw + a_w) / (n_k + a0 - y_kw - a_w))
             - ln((y_rw + a_w) / (n_r + a0 - y_rw - a_w)) ]
             / sqrt(1/(y_kw + a_w) + 1/(y_rw + a_w))

    with y_kw the group's term count, y_rw the rest-of-corpus count,
    a_w the GLOBAL term count as prior pseudo-counts (a0 = total tokens),
    n_k / n_r the group/rest token totals.

    Ranking uses the z rounded to `round_to` (cross-engine ln() ulp
    armor, tie term asc) and runs HIERARCHICALLY (shard = -floor(z),
    monotone w.r.t. z desc between shards, local_prune = top) so no task
    sorts a whole group's vocabulary. Everything else is vocabulary-grain
    aggregates and joins; totals broadcast.
    """
    from presto_workload_analyzer_spark.extensions.sampling import (
        _hierarchical_row_number,
    )

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(_lower_tokens(text_col)).alias("term"),
    ).where(F.col("term") != "")
    y_kw = toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("y"))
    y_w = y_kw.groupBy("term").agg(F.sum("y").alias("yg"))
    n_k = y_kw.groupBy("grp").agg(F.sum("y").alias("nk"))
    a0 = y_w.select(F.sum("yg").cast("double").alias("__a0"))

    j = (
        y_kw.join(y_w, on="term")
        .join(n_k, on="grp")
        .crossJoin(F.broadcast(a0))
        .select(
            "grp",
            "term",
            F.col("y").alias("n"),
            F.col("y").cast("double").alias("ykw"),
            (F.col("yg") - F.col("y")).cast("double").alias("yrw"),
            F.col("yg").cast("double").alias("aw"),
            F.col("nk").cast("double").alias("nk"),
            (F.col("__a0") - F.col("nk")).cast("double").alias("nr"),
            F.col("__a0").alias("a0"),
        )
    )
    num_k = F.col("ykw") + F.col("aw")
    den_k = F.col("nk") + F.col("a0") - F.col("ykw") - F.col("aw")
    num_r = F.col("yrw") + F.col("aw")
    den_r = F.col("nr") + F.col("a0") - F.col("yrw") - F.col("aw")
    delta = F.log(num_k / den_k) - F.log(num_r / den_r)
    z = delta / F.sqrt(1.0 / num_k + 1.0 / num_r)
    scored = j.select(
        "grp", "term", F.col("n").cast("long").alias("n"),
        F.round(z + 1e-9, round_to).alias("z"),
    )
    ranked = _hierarchical_row_number(
        scored,
        ["grp"],
        [F.desc("z"), F.asc("term")],
        -F.floor(F.col("z")),
        "rank",
        local_prune=F.lit(top),
    )
    return ranked.filter(F.col("rank") <= top).select(
        F.col("grp").alias(group_col), "term", "n", "z",
        F.col("rank").cast("long").alias("rank"),
    )


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, w: int = 4,
    mode: str = "md5",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003
    — the MOSS algorithm): per document, hash every word k-gram, slide a
    window of `w` consecutive gram positions, and select each window's
    MINIMUM hash; the distinct selected hashes are the fingerprint set —
    (id, fp). Guarantees: any shared run of >= w + k - 1 tokens between
    two documents shares at least one selected fingerprint (the winnowing
    theorem), while the expected density is only 2/(w+1) of all grams —
    position-robust overlap detection at a fraction of full-shingle cost.

    Ties inside a window resolve by (hash, position) — deterministic and
    engine-portable: hash and zero-padded position concatenate into one
    fixed-width string whose lexicographic window-min IS the tuple min,
    so the oracle replays the selection exactly. The per-doc window
    partitions by the document id (corpus-cardinality key). `md5` mode is
    the oracle-portable hash (8-hex-char slice, same convention as
    MinHash); `xxhash64` the production mode.
    """
    from presto_workload_analyzer_spark.extensions.dedup import gram_array

    grams = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(gram_array(text_col, k)).alias("pos", "gram"),
    )
    if mode == "md5":
        h = F.substring(F.md5(F.col("gram")), 1, 8)
    elif mode == "xxhash64":
        h = F.lpad(
            F.conv(F.xxhash64(F.col("gram")).cast("string"), 10, 16), 16, "0"
        )
    else:
        raise ValueError(f"unknown hash mode {mode!r}")
    tagged = grams.select(
        "id",
        "pos",
        F.concat(h, F.lit("#"), F.lpad(F.col("pos").cast("string"), 8, "0")).alias(
            "__hp"
        ),
    )
    win = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    n_grams = tagged.groupBy("id").agg(F.max("pos").alias("__maxp"))
    selected = (
        tagged.withColumn("__sel", F.min("__hp").over(win))
        .join(n_grams, on="id")
        # only full windows select (positions 0 .. n-w); docs with fewer
        # than w grams select their single global min (window [0, n-1])
        .filter(
            (F.col("pos") <= F.col("__maxp") - (w - 1)) | (F.col("pos") == 0)
        )
        .select("id", F.split(F.col("__sel"), "#", 2)[0].alias("fp"))
        .distinct()
    )
    return selected


def winnowing_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    mode: str = "md5",
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Doc pairs sharing >= `min_shared` winnowing fingerprints:
    (id_a, id_b, n_shared) via the fingerprint inverted index.

    `max_df` is MOSS's own boilerplate guard (Schleimer et al. §5 drop
    over-common fingerprints before matching): a footer/header span
    pasted into d otherwise-unique documents yields ONE fingerprint with
    a d-row posting list, and the self-join squares it. Fingerprints
    with df > max_df are dropped BEFORE the join — they identify
    boilerplate, not plagiarism, so removing them is the documented MOSS
    semantics rather than an approximation of this function's default.
    Default None keeps the exact enumeration (the oracle-checked mode);
    production sets max_df to the largest plausible true-overlap family.
    """
    fp = winnowing_fingerprints(df, id_col, text_col, k=k, w=w, mode=mode)
    if max_df is not None:
        hot = (
            fp.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("fp")
        )
        fp = fp.join(F.broadcast(hot), on="fp", how="left_anti")
    a = fp.select(F.col("id").alias("id_a"), "fp")
    b = fp.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# separates the merged output from the symbol still pending in the BPE
# accumulator string; symbols never contain it
_US = "\x1f"


def _bpe_merge_step(a: str, b: str, merged: str):
    """The F.aggregate step that applies one merge rule (a, b) -> merged,
    greedy from the left — shared by training and encoding, which must
    agree."""

    def step(acc, s):
        o = F.substring_index(acc, _US, 1)
        p = F.substring_index(acc, _US, -1)
        join_out = lambda tail: F.when(o == "", tail).otherwise(
            F.concat(o, F.lit(" "), tail)
        )
        return (
            F.when(p == "", F.concat(o, F.lit(_US), s))
            .when(
                (p == a) & (s == b),
                F.concat(join_out(F.lit(merged)), F.lit(_US)),
            )
            .otherwise(F.concat(join_out(p), F.lit(_US), s))
        )

    return step


def bpe_merges(
    df: DataFrame,
    text_col: str,
    rounds: int = 8,
    top_words: int = 500,
) -> list[tuple[int, str, str, str, int]]:
    """BPE tokenizer TRAINING as engine aggregates: learn the first
    `rounds` merge rules from the corpus and return the merge table
    [(round, left, right, merged, pair_count)].

    Classic byte-pair-encoding training (Sennrich et al., public
    literature) runs on the WORD FREQUENCY TABLE, not the corpus — which
    is what makes it scale: the iteration state is vocabulary-grain
    (top_words rows), so a 100 TB corpus pays one corpus-sized word
    count and every merge round is an aggregate over <= top_words rows.
    Per round: (1) adjacent symbol pairs explode from each word's symbol
    string and weight-sum (pair-vocabulary grain); (2) the argmax pair —
    ties broken (count desc, pair asc) — becomes the round's rule (one
    1-row collect per round: the merge table is inherently sequential,
    and this loop-counter-sized driver traffic is the CC-loop
    precedent); (3) the rule applies to every word via a portable
    string-accumulator aggregate (greedy LEFT-TO-RIGHT non-overlapping,
    BPE's application order): acc = "<out>\\x1f<pending>", identical
    logic in Spark's F.aggregate and DuckDB's list_reduce, so an oracle
    can replay training bit-for-bit. localCheckpoint truncates the
    8-deep lambda lineage each round.

    Words are lowercase-alpha only and capped at the `top_words` most
    frequent (deterministic count-desc/word-asc cut) — the standard
    practical bound; symbols therefore never contain spaces or the
    \\x1f sentinel.
    """
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w")
        .limit(top_words)
    )
    # Spark's split keeps the empty match at the string END (Java's
    # String.split trims it; DuckDB's string_split_regex never emits
    # it): without the filter every word carries a phantom trailing ''
    # symbol, and round 1 counts a phantom ('lastchar', '') pair that
    # can WIN the argmax on the right corpus (it did at sf0.1: a no-op
    # 'e'+'' merge consumed round 1 and shifted the whole trajectory)
    chars = F.filter(F.split("w", "(?!^)"), lambda s: s != "")
    cur = words.select(
        F.array_join(chars, " ").alias("syms"), "cnt"
    ).localCheckpoint(eager=True)

    out: list[tuple[int, str, str, str, int]] = []
    for r in range(1, rounds + 1):
        arr = F.split(F.col("syms"), " ")
        n = F.size(arr)
        pair_col = F.explode(
            F.zip_with(
                F.slice(arr, 1, n - 1),
                F.slice(arr, 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        )
        pairs = (
            cur.select(pair_col.alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pc"))
        )
        best = pairs.orderBy(F.col("pc").desc(), "pair").limit(1).collect()
        if not best:
            break
        a_sym, b_sym = best[0]["pair"].split(" ")
        merged = a_sym + b_sym
        out.append((r, a_sym, b_sym, merged, int(best[0]["pc"])))
        step = _bpe_merge_step(a_sym, b_sym, merged)

        new_syms = F.trim(
            F.regexp_replace(F.aggregate(arr, F.lit(_US), step), _US, " ")
        )
        cur = cur.select(new_syms.alias("syms"), "cnt").localCheckpoint(eager=True)
    return out


def bpe_apply(
    words: DataFrame,
    word_col: str,
    merges: list[tuple[int, str, str, str, int]],
) -> DataFrame:
    """Apply a learned BPE merge table (bpe_merges output) to a word
    column: adds `n_subwords`, the tokenized length of each word under
    the rules, applied in training order with the same greedy-left
    string-accumulator step used during training (encode MUST mirror
    train or fertility numbers lie). Vocabulary-grain input expected;
    lineage checkpointed every other rule to keep the 2R-deep lambda
    plan flat."""
    # same trailing-empty-match filter as bpe_merges' sym construction
    cur = words.withColumn(
        "__syms",
        F.array_join(
            F.filter(F.split(F.col(word_col), "(?!^)"), lambda s: s != ""),
            " ",
        ),
    )
    for i, (_r, a_sym, b_sym, merged, _pc) in enumerate(merges):
        new_syms = F.trim(
            F.regexp_replace(
                F.aggregate(
                    F.split(F.col("__syms"), " "),
                    F.lit(_US),
                    _bpe_merge_step(a_sym, b_sym, merged),
                ),
                _US,
                " ",
            )
        )
        cur = cur.withColumn("__syms", new_syms)
        if i % 2 == 1:
            cur = cur.localCheckpoint(eager=True)
    return cur.withColumn(
        "n_subwords", F.size(F.split(F.col("__syms"), " ")).cast("long")
    ).drop("__syms")


# C4's line-keep terminal punctuation set (Raffel et al. 2020, §2.2:
# "a period, exclamation mark, question mark, or end quotation mark").
C4_TERMINAL_PUNCT = (".", "!", "?", '"')


def c4_line_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4-style LINE-level cleaning rules (Raffel et al. 2020, "Exploring
    the Limits of Transfer Learning...", public paper, §2.2) — the
    line-grain companion of the doc-grain Gopher battery (gopher_rules):
    C4 cleans INSIDE a page before judging the page, where Gopher only
    judges whole documents. Per document:

      line grain — a line is KEPT iff ALL of:
        * it ends in a terminal punctuation mark (C4_TERMINAL_PUNCT);
        * it has >= 3 words;
        * it does not contain the word 'javascript' (case-insensitive —
          the paper's boilerplate-warning filter).
      page grain — the document is kept iff:
        * >= 5 lines survive the line filter (the paper's "at least five
          sentences" retention rule, applied to kept lines);
        * the page contains no 'lorem ipsum' (case-insensitive);
        * the page contains no curly brace '{' (the paper's code filter).

    Output: (id, n_lines, n_kept_lines, kept_frac, has_lorem_ipsum,
    has_curly_brace, ok_min_lines, keep). The paper's dirty-word-list
    page filter is out of scope for a synthetic corpus (no list shipped);
    the deduplication step it pairs with is duplicated_line_removal
    (extensions/dedup.py).

    Pure Column expressions over the line array (split + filter lambdas,
    no explode, no join, no UDF): whole-stage codegen at scan speed,
    trivially parallel at any corpus size.
    """
    txt = F.col(text_col) if isinstance(text_col, str) else text_col
    lines = F.split(txt, "\n", -1)

    def _line_ok(ln: Column) -> Column:
        t = F.trim(ln)
        term = functools.reduce(
            lambda a, b: a | b, [t.endswith(p) for p in C4_TERMINAL_PUNCT]
        )
        n_w = F.size(F.split(t, r"\s+"))
        return term & (n_w >= 3) & ~F.lower(ln).contains("javascript")

    kept = F.filter(lines, _line_ok)
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    has_lorem = F.lower(txt).contains("lorem ipsum")
    has_curly = txt.contains("{")
    ok_min = n_kept >= 5
    keep = ok_min & ~has_lorem & ~has_curly
    return df.select(
        F.col(id_col).alias("id"),
        n_lines.cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept_lines"),
        F.round(n_kept.cast("double") / n_lines + 1e-9, 6).alias("kept_frac"),
        has_lorem.alias("has_lorem_ipsum"),
        has_curly.alias("has_curly_brace"),
        ok_min.alias("ok_min_lines"),
        keep.alias("keep"),
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 document scores for a fixed query (Robertson & Walker,
    public method) — retrieval-based data selection: score every document
    against a target query and keep/weight the top of the ranking (the
    lexical twin of the embedding-similarity selectors in
    extensions/similarity.py, and the retrieval scorer beside the
    tfidf_* statistics).

        idf(t)  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        score_d = sum_t idf(t) * tf_td * (k1+1)
                         / (tf_td + k1 * (1 - b + b * dl_d / avgdl))

    Only documents matching >= 1 query term appear (every emitted score
    is > 0; BM25 of a non-matching doc is 0 by definition). Matching is
    case-insensitive on BOTH sides: corpus tokens are lowercased and so
    are `query_terms` (so 'Spark' and 'spark' are the same query — a
    mixed-case term cannot silently match nothing).

    Shuffle shape at 100 TB: the exploded token stream is filtered to the
    QUERY vocabulary before the (id, term) groupBy — the corpus-sized
    shuffle carries only matching tokens (|query_terms| ~ a handful, so
    this is a tiny fraction of the stream); df lives at query-term grain
    (broadcast), dl at doc grain (equi-join on id), N/avgdl are one
    broadcast row. Output: (id, bm25) rounded to 6.
    """
    query_terms = tuple(dict.fromkeys(t.lower() for t in query_terms))
    toks_lc = _lower_tokens(text_col)
    base = df.select(F.col(id_col).alias("id"), toks_lc.alias("__toks"))
    dl = base.select("id", F.size("__toks").cast("long").alias("__dl"))
    scal = dl.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("__dl").alias("__avgdl"),
    )
    tf = (
        base.select("id", F.explode("__toks").alias("term"))
        .filter(F.col("term").isin(*query_terms))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("__tf"))
    )
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("__df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    denom = F.col("__tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / F.col("__avgdl")
    )
    per_term = idf * F.col("__tf") * F.lit(k1 + 1.0) / denom
    return (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(scal))
        .select("id", per_term.alias("__s"))
        .groupBy("id")
        .agg(F.round(F.sum("__s") + 1e-9, 6).alias("bm25"))
    )


def best_fit_decreasing_pack(
    df: DataFrame,
    part_col: str,
    id_col: str,
    size_col: str,
    budget: int,
    shard_size: int = 4096,
) -> DataFrame:
    """Best-Fit-Decreasing sequence packing — the packing-QUALITY upgrade
    of pack_bins' greedy running-total bins (Ding et al. 2024, "Fewer
    Truncations Improve Language Modeling", public paper: best-fit
    packing cuts padding waste vs. concat-and-chunk without truncating
    documents). Within each (part, shard) group, items are taken in
    (size DESC, id ASC) order and each goes to the open bin with the
    SMALLEST remaining capacity that still fits (ties -> lowest bin
    index); no fit opens a new bin. An item larger than `budget` gets a
    bin of its own (negative remainder — never reused), so oversized
    documents pass through instead of failing.

    Fully deterministic, so an exact oracle can replay it (the xs17
    DuckDB twin walks the same decisions with a recursive CTE). BFD is
    inherently sequential, so the published practice is packing within
    bounded GROUPS of documents; here shard = floor(id / shard_size) —
    the same order-preserving range split as pack_bins — bounds the
    sequential kernel at `shard_size` items while (part, shard)
    parallelism grows with the corpus. The kernel keeps open bins in a
    bisect-sorted (remaining, bin-index) list: O(m log m) decisions +
    O(m) list maintenance per insertion — fine at the default bound
    (packing quality saturates far below it; raise it only with a
    measured reason).

    Output: (part, shard, id, size, bin) — bin is the group-local
    0-based bin index in opening order; (part, shard, bin) is the
    global packed-sequence key.
    """
    import pandas as pd
    from pyspark.sql import types as T

    rows = df.select(
        F.col(part_col).alias("part"),
        F.floor(F.col(id_col) / F.lit(shard_size)).cast("long").alias("shard"),
        F.col(id_col).alias("id"),
        F.col(size_col).cast("long").alias("size"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        import bisect

        pdf = pdf.sort_values(
            ["size", "id"], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        bins: list[tuple[int, int]] = []  # sorted (remaining, bin_idx)
        n_bins = 0
        out = []
        for sz in pdf["size"]:
            sz = int(sz)
            pos = bisect.bisect_left(bins, (sz, -1))
            if pos < len(bins):
                rem, idx = bins.pop(pos)
                bisect.insort(bins, (rem - sz, idx))
            else:
                idx = n_bins
                n_bins += 1
                bisect.insort(bins, (budget - sz, idx))
            out.append(idx)
        pdf["bin"] = pd.Series(out, dtype="int64")
        return pdf

    schema = T.StructType(
        [
            T.StructField("part", rows.schema["part"].dataType),
            T.StructField("shard", T.LongType()),
            T.StructField("id", rows.schema["id"].dataType),
            T.StructField("size", T.LongType()),
            T.StructField("bin", T.LongType()),
        ]
    )
    return rows.groupBy("part", "shard").applyInPandas(pack, schema)


def reference_delta_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    candidates: Column,
    target_train: Column,
    base_train: Column,
    lam: float = 0.7,
) -> DataFrame:
    """Reference-model delta scoring for data selection (the RHO-style
    selection signal, published as reference-model excess loss: score a
    candidate under a TARGET-domain reference model and under a general
    BASE model, and prefer candidates the target model likes more than
    the base model does — selective language modeling's document-grain
    analog, and the LM-likelihood counterpart of DSIR's hashed-ngram
    importance ratio, cf. sampling.dsir_log_weights).

    Both models are the same interpolated bigram LM family
    (heldout_bigram_nll); `candidates` marks the scored slice,
    `target_train` and `base_train` the two fit slices. The caller owns
    slice hygiene: candidates should be disjoint from BOTH train slices
    (scoring memorized text flatters the model that saw it).

    Output per scored doc: (id, n_scored, sum_nll_base, sum_nll_target,
    delta) with delta = (sum_nll_base - sum_nll_target) / n_scored —
    positive means the target LM finds the doc less surprising than the
    base LM (more target-like), UNROUNDED so callers round at their
    output grain.

    Shuffle shape at 100 TB: ONE pass builds both models' count tables
    (unigram and bigram tables carry a (c_base, c_target) column pair,
    aggregated with slice-conditional sums over the union of the two
    train slices), and ONE pass scores the candidate token stream
    against both models simultaneously — the per-model expressions are
    heldout_bigram_nll's verbatim, evaluated side by side on the same
    joined row. r16 fold: the previous form called heldout_bigram_nll
    twice, which tokenized the corpus and walked the 4-join scoring
    chain once per model and then equi-joined the two score sets at doc
    grain; the fused form halves the scan/explode/join work and removes
    the doc-grain join outright (both sums come out of one groupBy).
    Everything is Column expressions — no UDF, no collect.
    """
    from presto_workload_analyzer_spark.extensions.dedup import gram_array_of

    base = df.select(
        F.col(id_col).alias("id"),
        _lower_tokens(text_col).alias("__toks"),
        candidates.alias("__ho"),
        base_train.alias("__trb"),
        target_train.alias("__trt"),
    )
    # union of the two fit slices; per-row membership flags drive the
    # conditional counts (a row in both slices counts for both models,
    # exactly as two independent heldout_bigram_nll fits would)
    train = base.filter(
        F.coalesce(F.col("__trb"), F.lit(False))
        | F.coalesce(F.col("__trt"), F.lit(False))
    )
    # candidate token slice: consumed by the bigram stream, the
    # first-token row and (via those) the rollup — materialized once,
    # same rationale as heldout_bigram_nll's held slice
    held = base.filter(F.col("__ho")).select("id", "__toks").transform(materialize)

    uni = (
        train.select(F.explode("__toks").alias("w"), "__trb", "__trt")
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(
            F.sum(
                F.when(F.coalesce(F.col("__trb"), F.lit(False)), 1).otherwise(0)
            ).alias("c1b"),
            F.sum(
                F.when(F.coalesce(F.col("__trt"), F.lit(False)), 1).otherwise(0)
            ).alias("c1t"),
        )
        .transform(materialize)
    )
    # per-model N (token count) and V (vocab size): rows with a zero
    # count for a model contribute nothing, so sums over the combined
    # table equal the per-slice table's sums
    scal = uni.agg(
        F.sum("c1b").cast("double").alias("__nb"),
        F.sum((F.col("c1b") > 0).cast("long")).cast("double").alias("__vb"),
        F.sum("c1t").cast("double").alias("__nt"),
        F.sum((F.col("c1t") > 0).cast("long")).cast("double").alias("__vt"),
    )
    # not _bigram_instances: the slice flags follow the bigram columns here
    bi = (
        train.select(
            F.explode(gram_array_of(_bigram_toks(F.col("__toks")), 2)).alias("bg"),
            "__trb",
            "__trt",
        )
        .select(
            F.split(F.col("bg"), " ", 2)[0].alias("w_prev"),
            F.split(F.col("bg"), " ", 2)[1].alias("w"),
            "__trb",
            "__trt",
        )
        .groupBy("w_prev", "w")
        .agg(
            F.sum(
                F.when(F.coalesce(F.col("__trb"), F.lit(False)), 1).otherwise(0)
            ).alias("c2b"),
            F.sum(
                F.when(F.coalesce(F.col("__trt"), F.lit(False)), 1).otherwise(0)
            ).alias("c2t"),
        )
        .transform(materialize)
    )

    held_bi = _bigram_instances(held, "id")
    # heldout_bigram_nll's per-model expressions; a count that is 0 in
    # the combined table behaves exactly like the NULL a left join
    # against a per-slice table would produce (both coalesce to 0, and
    # the c_prev>0 guard keeps the division unevaluated either way)
    scored_bi = (
        held_bi.join(bi, on=["w_prev", "w"], how="left")
        .join(
            uni.select(
                F.col("w").alias("w_prev"),
                F.col("c1b").alias("c_prevb"),
                F.col("c1t").alias("c_prevt"),
            ),
            on="w_prev",
            how="left",
        )
        .join(uni, on="w", how="left")
        .crossJoin(F.broadcast(scal))
        .select(
            "id",
            (
                -F.log(
                    lam * _bi_term("c2b", "c_prevb")
                    + (1.0 - lam) * _p_uni("c1b", "__nb", "__vb")
                )
            ).alias("nllb"),
            (
                -F.log(
                    lam * _bi_term("c2t", "c_prevt")
                    + (1.0 - lam) * _p_uni("c1t", "__nt", "__vt")
                )
            ).alias("nllt"),
        )
    )
    first = (
        _first_tokens(held)
        .join(uni, on="w", how="left")
        .crossJoin(F.broadcast(scal))
        .select(
            "id",
            (-F.log(_p_uni("c1b", "__nb", "__vb"))).alias("nllb"),
            (-F.log(_p_uni("c1t", "__nt", "__vt"))).alias("nllt"),
        )
    )
    return (
        scored_bi.unionByName(first)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum("nllb").alias("sum_nll_base"),
            F.sum("nllt").alias("sum_nll_target"),
        )
        .select(
            "id",
            "n_scored",
            "sum_nll_base",
            "sum_nll_target",
            (
                (F.col("sum_nll_base") - F.col("sum_nll_target"))
                / F.col("n_scored")
            ).alias("delta"),
        )
    )


def heldout_jm_kn_nll(
    df: DataFrame,
    id_col: str,
    text_col: str,
    holdout: Column,
    lam: float = 0.7,
    discount: float = 0.75,
) -> DataFrame:
    """Held-out NLL under two bigram LMs fit on the rest of the corpus,
    over ONE held-out bigram stream and one join tree (xs36's smoothing
    comparison): heldout_bigram_nll's Jelinek-Mercer mix (its per-row
    expression verbatim, equality pinned by test) and an interpolated
    KNESER-NEY bigram LM — the smoothing family production perplexity
    filters actually use (CCNet's KenLM models are modified-KN; this is
    the classic single-discount interpolated form, Kneser & Ney 1995 /
    Chen & Goodman 1999, public papers). The KN lower-order distribution
    is the CONTINUATION distribution (how many distinct left-contexts a
    word follows), not raw frequency — the property that makes KN the
    published default:

        p_cont(w)    = (N1+(.w) + 1) / (T + V + 1)
        p(w | w')    = max(c2(w',w) - D, 0) / cL(w')
                       + (D * N1+(w'.) / cL(w')) * p_cont(w)   [cL>0]
        p(w | w')    = p_cont(w)                               [w' unseen]

    with c2 train bigram counts, cL(w') their left totals, N1+(w'.) the
    distinct-right-type count, N1+(.w) the distinct-left-type count,
    T the total distinct bigram types and V the train vocabulary — the
    (+1, +V+1) add-one floor mirrors heldout_bigram_nll's unseen-slot
    convention so held-out OOV words score finitely. First token of a
    doc scores under the unigram (JM) and p_cont (KN); D = 0.75 (exactly
    representable in binary, so the discount subtraction is cross-engine
    exact).

    Shuffle shape at 100 TB: identical to heldout_bigram_nll — every
    count table lives at vocabulary grain, held-out instances LEFT-join
    them, the scalars broadcast via a 1-row cross join.

    Output: (id, n_scored, sum_nll_jm, sum_nll_kn) doc-grain UNROUNDED.
    """
    d = float(discount)
    if not 0.0 < d < 1.0:
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    base = df.select(
        F.col(id_col).alias("id"),
        _lower_tokens(text_col).alias("__toks"),
        holdout.alias("__ho"),
    )
    train = base.filter(~F.col("__ho"))
    # same materialization discipline as heldout_bigram_nll (r15 plan
    # audit): held feeds three consumers, uni four, bi four
    held = base.filter(F.col("__ho")).select("id", "__toks").transform(materialize)

    uni, bi = _train_counts(train)
    left = bi.groupBy("w_prev").agg(
        F.sum("c2").cast("double").alias("cl"),
        F.count(F.lit(1)).cast("double").alias("n1l"),
    )
    right = bi.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("n1r"))
    scal = (
        uni.agg(
            F.sum("c1").cast("double").alias("__n"),
            F.count(F.lit(1)).cast("double").alias("__v"),
        )
        .crossJoin(
            F.broadcast(right.agg(F.sum("n1r").cast("double").alias("__t")))
        )
    )

    p_uni = _p_uni("c1", "__n", "__v")
    bi_term = _bi_term("c2", "c_prev")
    p_cont = (F.coalesce(F.col("n1r"), F.lit(0.0)) + 1.0) / (
        F.col("__t") + F.col("__v") + 1.0
    )
    p_kn = F.when(
        F.coalesce(F.col("cl"), F.lit(0.0)) > 0,
        F.greatest(F.coalesce(F.col("c2"), F.lit(0)).cast("double") - d, F.lit(0.0))
        / F.col("cl")
        + (d * F.col("n1l") / F.col("cl")) * p_cont,
    ).otherwise(p_cont)

    scored_bi = (
        _held_bigram_counts(held, uni, bi)
        .join(left, on="w_prev", how="left")
        .join(right, on="w", how="left")
        .crossJoin(F.broadcast(scal))
        .select(
            "id",
            (-F.log(lam * bi_term + (1.0 - lam) * p_uni)).alias("nll_jm"),
            (-F.log(p_kn)).alias("nll_kn"),
        )
    )
    first = (
        _first_tokens(held)
        .join(uni, on="w", how="left")
        .join(right, on="w", how="left")
        .crossJoin(F.broadcast(scal))
        .select(
            "id",
            (-F.log(p_uni)).alias("nll_jm"),
            (-F.log(p_cont)).alias("nll_kn"),
        )
    )
    return (
        scored_bi.unionByName(first)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum("nll_jm").alias("sum_nll_jm"),
            F.sum("nll_kn").alias("sum_nll_kn"),
        )
    )
