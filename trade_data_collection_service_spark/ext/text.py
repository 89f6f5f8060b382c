"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline surface (BASELINE.json north star; SURVEY.md §7
step 8): token stats, language-ID heuristic, quality scoring, document
fingerprinting.

Everything is built from JVM-side built-ins (split/transform/filter/
aggregate on arrays) — no Python UDFs in these paths, so the operators
stay inside whole-stage codegen and scale linearly with executors.
Each has an exact DuckDB oracle twin in __spark_entry__.

Shared token model: lowercase, split on whitespace.  3-word shingles
(distinct) are the unit for n-gram/minhash dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Marker vocabularies for the language-ID heuristic.  The synthetic
# corpus is an English-ish word soup, so these are demonstration
# marker sets over its vocabulary; swap for real stopword lists in
# production.  Deterministic tie-break: en > es > de.
LANG_MARKERS = {
    "en": ("the", "a", "fast", "small"),
    "es": ("data", "table", "row", "value"),
    "de": ("stream", "batch", "window", "group"),
}


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """NB: exploding a withColumn'd array re-evaluates the array
    expression per OUTPUT row.  ``F.explode("tokens")`` only re-runs
    this cheap split (~2×, tolerated at these sites); an EXPENSIVE
    generator must be inlined into ``F.explode(expr)`` directly —
    see ext/dedup.py::exploded_shingles (the canonical form and the
    measured numbers)."""
    return df.withColumn("tokens", F.split(F.lower(F.col(text_col)), r"\s+"))


def shingles_col(tokens: Column | str = "tokens", k: int = 3) -> Column:
    """Distinct k-word shingles; empty array for docs shorter than k."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.when(
        F.size(t) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, k)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, a BPE-ish
    sub-word proxy count (4-char chunks per token, ceil), char length."""
    docs = with_tokens(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_measured"),
        F.size("tokens").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).cast("long").alias("n_distinct_tokens"),
        F.aggregate(
            "tokens",
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)),
        ).alias("n_subword_units"),
        F.round(
            F.aggregate(
                "tokens", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            )
            / F.size("tokens"),
            6,
        ).alias("avg_token_len"),
    )


def _marker_count(markers: tuple[str, ...]) -> Column:
    quoted = ", ".join(f"'{m}'" for m in markers)
    return F.expr(f"size(filter(tokens, t -> t IN ({quoted})))").cast("long")


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token hit counts per language,
    argmax with deterministic tie-break (en > es > de)."""
    docs = with_tokens(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        _marker_count(LANG_MARKERS["en"]).alias("score_en"),
        _marker_count(LANG_MARKERS["es"]).alias("score_es"),
        _marker_count(LANG_MARKERS["de"]).alias("score_de"),
    )
    predicted = (
        F.when(
            (F.col("score_en") >= F.col("score_es"))
            & (F.col("score_en") >= F.col("score_de")),
            F.lit("en"),
        )
        .when(F.col("score_es") >= F.col("score_de"), F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return scored.withColumn("predicted_lang", predicted)


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword/distinct ratios folded into a
    single [0,1]-ish score (the usual pre-training heuristic filter)."""
    return quality_of(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def quality_of(raw_docs: DataFrame) -> DataFrame:
    """DataFrame-level quality scorer — same columns as
    ``quality_score`` but over any docs frame (used by the dedup
    cluster canonical-selection path, which scores the near-dup
    corpus rather than the base table)."""
    docs = with_tokens(raw_docs)
    n_tokens = F.size("tokens")
    stop_hits = _marker_count(("the", "a"))
    distinct_ratio = F.size(F.array_distinct("tokens")) / n_tokens
    stop_ratio = stop_hits / n_tokens
    length_ok = (n_tokens >= 10) & (n_tokens <= 10000)
    score = F.round(
        0.5 * distinct_ratio + 0.3 * (F.lit(1.0) - stop_ratio) + 0.2 * length_ok.cast("double"),
        6,
    )
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        length_ok.alias("length_ok"),
        score.alias("quality_score"),
    )


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized text plus
    a winnowing-style min-hash over 3-word shingles (the rolling-hash
    analog — the minimum shingle digest is order/position-robust)."""
    docs = with_tokens(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    normalized = F.concat_ws(" ", "tokens")
    sh = shingles_col()
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fp_md5"),
        F.array_min(F.transform(sh, F.md5)).alias("fp_min_shingle"),
    )


# BM25 retrieval constants (Robertson/Spärck Jones defaults).
BM25_K1 = 1.2
BM25_B = 0.75
# Demonstration query over the synthetic corpus vocabulary.
BM25_QUERY = ("fast", "data", "stream")


def bm25_weight() -> Column:
    """THE BM25 term-weight expression (Robertson/Spärck Jones idf ×
    K1/B saturation), shared by :func:`bm25_topk` and the hybrid
    fusion retriever (ext/similarity.hybrid_rrf_topk) so the scoring
    formula — and its oracle-proven float-op order — has exactly one
    home.  Expects columns ``tf``, ``df``, ``dl`` and the broadcast
    scalars ``n_docs``, ``avgdl`` in scope."""
    return F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    ) * (
        F.col("tf") * (BM25_K1 + 1.0)
    ) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )


def _bm25_score_topk(tf, dl, df_t, stats, k: int):
    """THE score-and-rank tail shared by :func:`bm25_topk` (from
    text) and :func:`bm25_search_indexed` (from the stored index) —
    one home (r10 review), so the 'identical results by construction'
    guarantee their shared DuckDB twin relies on cannot drift: join
    document lengths, broadcast the df rows and the 1-row stats
    scalar, apply :func:`bm25_weight`, sum-round-6 per doc, take the
    top-k as a TakeOrderedAndProject, and attach rank over the k-row
    result only."""
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("w", bm25_weight())
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 6).alias("bm25"))
    )
    topk = scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(k)
    # Rank over the k-row result only — bounded state, never corpus-sized.
    rank_w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    return (
        topk.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .orderBy("rank")
    )


def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    query: tuple[str, ...] = BM25_QUERY,
    k: int = 10,
) -> DataFrame:
    """BM25 top-k retrieval over ``documents`` — the classic sparse
    retrieval scorer a training-data pipeline uses for eval-set mining
    and targeted corpus pulls.

    Scale shape: the corpus explodes tokens once and filters to the
    (tiny, broadcastable) query vocabulary IMMEDIATELY, so only
    posting-list rows (doc_id, term) survive into the shuffle; term
    document-frequencies and the (n_docs, avgdl) scalar pair are
    broadcast back — no corpus-sized state anywhere past the first
    projection.  Scoring is one groupBy(doc_id) sum.  The top-k is
    taken with orderBy().limit(k) — Catalyst plans that as
    TakeOrderedAndProject (per-partition heaps, k rows to the driver),
    so scored docs never concentrate on one partition; the rank column
    is attached AFTER the limit, over exactly k rows.

    Determinism: scores rounded to 6, rank ties broken by doc_id —
    the DuckDB twin ranks identically."""
    from pyspark.sql import Window

    docs = with_tokens(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    dl = docs.select("doc_id", F.size("tokens").cast("long").alias("dl"))
    terms = docs.select(
        "doc_id", F.explode("tokens").alias("term")
    ).filter(F.col("term").isin(*query))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )
    return _bm25_score_topk(tf, dl, df_t, stats, k)


def repetition_of(raw_docs: DataFrame) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021,
    §A1.1 "repetition" filters, arXiv:2112.11446): per doc, the
    fraction of duplicate bigrams and the share of the single most
    frequent bigram.  Template/boilerplate pages score high and get
    flagged.

    Deliberately ZERO-shuffle: the whole operator is one map-side
    projection — no explode, no groupBy (the explode+groupBy form
    would shuffle one row per bigram occurrence).  Per-doc cost is
    O(L log L): the bigram array is ``array_sort``-ed once, then a
    single ``aggregate`` fold over the sorted array yields BOTH the
    longest equal-run (= the most-frequent-bigram count) and the
    distinct-bigram count in one pass.  This replaces an earlier
    O(distinct x total) transform-over-distinct form that was fine
    for web pages but turned a single book-length document
    (~100 k tokens, routine at pre-training scale) into a ~10^10
    string-comparison straggler inside one task.
    """
    docs = with_tokens(raw_docs)
    t = F.col("tokens")
    bg = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    docs = docs.withColumn("bg", bg).withColumn(
        "n_bigrams", F.size("bg").cast("long")
    )
    # One O(L log L) pass: sort, then fold (prev, run, best, ndist).
    # The "" sentinel cannot collide with a real bigram: every bigram
    # is concat_ws(" ", a, b), which always contains the separator.
    stats = F.aggregate(
        F.array_sort("bg"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
            F.lit(0).cast("long").alias("ndist"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
            (
                acc["ndist"]
                + F.when(x == acc["prev"], F.lit(0)).otherwise(F.lit(1))
            ).alias("ndist"),
        ),
    )
    docs = docs.withColumn("bg_stats", stats)
    top_count = F.col("bg_stats.best")
    n_distinct = F.col("bg_stats.ndist")
    n = F.col("n_bigrams")
    dup_frac = F.when(
        n > 0,
        F.round((n - n_distinct).cast("double") / n, 6),
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        n > 0, F.round(top_count.cast("double") / n, 6)
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        "n_bigrams",
        n_distinct.cast("long").alias("n_distinct_bigrams"),
        dup_frac.alias("dup_bigram_frac"),
        top_frac.alias("top_bigram_frac"),
        ((n > 0) & (top_frac > 0.2)).alias("flagged"),
    ).orderBy("doc_id")


def repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-surface wrapper for :func:`repetition_of` over the
    documents table."""
    return repetition_of(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def tfidf_terms(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Top-k TF-IDF terms per document — keyword extraction, the
    corpus-wide companion to BM25's query-side scoring (and the
    feature a curation pipeline uses for topic tagging / domain
    mixing).  Smooth-idf form (sklearn's default):
    idf = ln((N + 1)/(df + 1)) + 1, tfidf = tf · idf.

    Scale shape: tokens explode once, term frequencies aggregate on
    (doc_id, term) — the shuffle carries one row per distinct
    doc-term, map-side combined; document frequencies reduce that to
    a vocabulary-sized table that joins back BROADCAST, and the
    (N)-scalar rides a 1-row broadcast crossJoin.  The per-doc top-k
    is a row_number partitioned BY DOC — Catalyst plans the rank
    filter as WindowGroupLimit (per-partition k-heaps), so no global
    sort and no single-partition window anywhere (the BM25 wart's
    fix, applied from the start).

    Determinism: idf is rounded to 12 dp and kept as DECIMAL, so
    tf · idf products are exact in both engines (libm vs JVM ln can
    differ in the last ulp) and the rank comparisons — decimal desc,
    term asc — are total and engine-independent."""
    from pyspark.sql import Window

    docs = with_tokens(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    terms = docs.select("doc_id", F.explode("tokens").alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(
        F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0, 12
    ).cast("decimal(18,12)")
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf_dec", F.col("tf") * idf)
    )
    rank_w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_dec").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.col("tfidf_dec").cast("double").alias("tfidf"),
            "rank",
        )
        .orderBy("doc_id", "rank")
    )


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram log-probability under the
    corpus's own unigram distribution — the cheapest language-model
    quality signal (the KenLM-style perplexity filter's unigram
    degenerate case): documents full of globally-rare tokens score
    low, template/common-token documents score high.  Complements
    ``quality_of`` (surface heuristics) and ``repetition_of``
    (intra-doc structure) with a corpus-relative signal.

    Scale shape: one token explode feeds BOTH the corpus unigram
    table (vocabulary-sized, broadcast back) and the per-(doc, term)
    frequencies; the scalar token total rides a 1-row broadcast
    crossJoin; per-doc scoring is ONE groupBy over doc-term rows.

    Determinism: each token's ln(count/total) is rounded to 12 dp
    and decimal-weighted by its in-doc count, so the per-doc sum is
    exact in both engines and the final divide-by-length runs over
    bit-identical operands."""
    docs = with_tokens(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    terms = docs.select("doc_id", F.explode("tokens").alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n_term"))
    total = terms.agg(F.count(F.lit(1)).alias("n_total"))
    lp = F.round(
        F.log(F.col("n_term").cast("double") / F.col("n_total")), 12
    ).cast("decimal(20,12)")
    scored = (
        tf.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .withColumn("wlp", F.col("tf") * lp)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum("wlp").alias("sum_lp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("sum_lp").cast("double") / F.col("n_tokens")).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average conditional bigram log-probability
    ln P(w|prev) under the corpus's own MLE bigram model — one rung
    up the KenLM ladder from :func:`unigram_logprob` (CCNet filters
    on a 5-gram KenLM; the bigram is the distributed first step that
    already separates fluent word order from bag-of-frequent-words
    documents, which the unigram scores identically).

    P(w|prev) = c(prev,w) / c(prev as context) — context counts, not
    raw unigram counts, so probabilities sum to 1 per context.
    Scoring the training corpus itself means every scored bigram was
    observed (the backoff branch of stupid backoff / Brants et al.
    2007 never fires here; serving unseen text would add the
    ``0.4 · P_unigram`` fallback as a coalesce over the same join).

    Implemented as train-on-self serving — :func:`lm_score` in
    STRICT mode (only the big/ctx censuses; the backoff branch
    cannot fire because every scored bigram was observed, so the
    unigram census is never even evaluated — lazy frames cost
    nothing unreferenced) against :func:`train_bigram_lm` of the
    same corpus, so the lp/rounding discipline lives in exactly one
    place.  Pytest-proven equivalent to full-dict serving.  Scale
    shape and determinism notes: see lm_score."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = train_bigram_lm(docs)
    return lm_score(
        docs, {"big": lm["big"], "ctx": lm["ctx"]}
    ).drop("n_backoff")


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, prev, term) consecutive-token pairs — the shared
    tokenize→posexplode→per-doc-lag front end of the bigram LM
    trainer and scorer (one window per doc_id, skew bounded by max
    document length)."""
    terms = with_tokens(docs).select(
        "doc_id", F.posexplode("tokens").alias("pos", "term")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    return (
        terms.withColumn("prev", F.lag("term").over(wd))
        .filter(F.col("prev").isNotNull())
        .select("doc_id", "prev", "term")
    )


def train_bigram_lm(docs: DataFrame) -> dict[str, DataFrame]:
    """Fit the corpus-side state of the stupid-backoff bigram LM
    (Brants et al. 2007) on a CLEAN training corpus: the bigram
    census, the context census, the unigram census, and the 1-row
    token total — persist with :func:`write_lm_index`.  Serving is
    :func:`lm_score`.

    Only TWO corpus passes: the bigram and unigram censuses
    (map-side-combined groupBys over the pair/token explodes); the
    context census and the token total are exact marginals of those —
    c(prev as context) = Σ_w c(prev,w) and total = Σ_w c(w) — so they
    re-aggregate the (much smaller) census tables instead of
    re-tokenizing the corpus (r9 review finding: the independent
    forms re-ran the tokenize+lag pass four times per action)."""
    pairs = _doc_bigrams(docs)
    terms = with_tokens(docs).select(
        "doc_id", F.explode("tokens").alias("term")
    )
    big = pairs.groupBy("prev", "term").agg(
        F.count(F.lit(1)).alias("n_big")
    )
    uni = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n_uni"))
    return {
        "big": big,
        "ctx": big.groupBy("prev").agg(F.sum("n_big").alias("n_ctx")),
        "uni": uni,
        "total": uni.agg(F.sum("n_uni").alias("n_total")),
    }


def lm_score(batch: DataFrame, lm: dict[str, DataFrame]) -> DataFrame:
    """Score UNSEEN documents against a trained bigram LM with stupid
    backoff — the serving half of the CCNet-style quality filter
    (train on the clean corpus, gate incoming documents on
    perplexity): ln P(w|prev) = ln(c(prev,w)/c(prev)) when the bigram
    was observed in training, else ln(0.4 · c(w)/total) (Brants et
    al. 2007's fixed α, no normalization — a score, not a
    distribution), with unseen-word counts floored at 1 so OOV terms
    score at the vocabulary floor instead of -inf.

    Plan shape: the batch's pair table LEFT-joins the three censuses
    (equi keys; the vocabulary² bigram table is never broadcast) and
    the 1-row total rides a broadcast crossJoin — per batch the cost
    is O(batch bigrams), training-corpus-size independent.  Output:
    ONE row per batch document — duplicate batch doc_ids (a replayed
    or un-deduped serving batch) are collapsed to one copy BEFORE
    pair extraction: the per-doc position lag is undefined over
    interleaved duplicate rows (ties on pos produce garbage
    cross-copy pairs), so ONE copy wins deterministically (the
    lexicographically smallest text — replays of byte-identical rows
    are exact no-ops, and diverging duplicate payloads still score
    stably instead of riding shuffle order) and scoring is
    replay-idempotent.  A doc with fewer than 2 tokens has nothing
    to score and reports
    (n_bigrams=0, n_backoff=0, avg_logprob=NULL) rather than
    silently disappearing (a gate that joins documents to scores
    must not lose coverage relative to the unigram rung below it);
    ``n_backoff`` (pair instances that fell through to the unigram
    path) is the domain-shift diagnostic.

    STRICT MODE: pass an ``lm`` dict WITHOUT the ``uni``/``total``
    tables and the backoff branch is omitted entirely — no unigram
    census evaluation, no uni join, no total crossJoin.  Correct
    exactly when every scored bigram is known to be in the LM
    (train-on-self: :func:`bigram_logprob`).  Misuse is LOUD, not
    silent: a doc containing any bigram the LM has never seen gets
    ``avg_logprob = NULL`` (F.sum would otherwise skip the NULL lp
    and report a wrong, less-negative average over the seen subset);
    serving genuinely unseen text must pass the full dict."""
    batch = batch.groupBy("doc_id").agg(F.min("text").alias("text"))
    pairs = _doc_bigrams(batch)
    tf = pairs.groupBy("doc_id", "prev", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    has_backoff = "uni" in lm and "total" in lm
    joined = tf.join(lm["big"], ["prev", "term"], "left").join(
        lm["ctx"], ["prev"], "left"
    )
    seen_lp = F.round(
        F.log(F.col("n_big").cast("double") / F.col("n_ctx")), 12
    )
    if has_backoff:
        joined = joined.join(lm["uni"], ["term"], "left").crossJoin(
            F.broadcast(lm["total"])
        )
        seen = F.col("n_big").isNotNull()
        lp = F.when(seen, seen_lp).otherwise(
            F.round(
                F.log(
                    F.lit(0.4)
                    * F.coalesce(F.col("n_uni"), F.lit(1)).cast("double")
                    / F.col("n_total")
                ),
                12,
            )
        ).cast("decimal(20,12)")
        backoff_tf = F.when(seen, F.lit(0)).otherwise(F.col("tf"))
        unseen_tf = F.lit(0)
    else:
        lp = seen_lp.cast("decimal(20,12)")
        backoff_tf = F.lit(0)
        # strict mode has no fallback: count the pair instances the
        # LM never saw so the doc's score can fail LOUDLY below
        unseen_tf = F.when(F.col("n_big").isNull(), F.col("tf")).otherwise(
            F.lit(0)
        )
    scored = (
        joined.withColumn("wlp", F.col("tf") * lp)
        .withColumn("backoff_tf", backoff_tf)
        .withColumn("unseen_tf", unseen_tf)
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.sum("backoff_tf").cast("long").alias("n_backoff"),
        F.sum("unseen_tf").cast("long").alias("n_unseen"),
        F.sum("wlp").alias("sum_lp"),
    )
    return (
        batch.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias(
                "n_bigrams"
            ),
            F.coalesce("n_backoff", F.lit(0)).cast("long").alias(
                "n_backoff"
            ),
            # strict-mode unseen bigrams: NULL out the whole score —
            # F.sum skipped their NULL lp, so sum_lp alone would be a
            # silently wrong (less-negative) average over the seen
            # subset of the doc's pairs
            F.when(
                F.coalesce("n_unseen", F.lit(0)) > 0, F.lit(None)
            )
            .otherwise(
                F.col("sum_lp").cast("double") / F.col("n_bigrams")
            )
            .alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


def _doc_trigram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2, w3) with w3 the token at each position, w2 its
    predecessor and w1 the one before that (NULL at doc starts) — the
    ONE tokenize→posexplode→per-doc-lag pass every census of the
    trigram LM derives from (one window per doc_id, skew bounded by
    max document length; same shape as :func:`_doc_bigrams`, one lag
    wider)."""
    terms = with_tokens(docs).select(
        "doc_id", F.posexplode("tokens").alias("pos", "w3")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    return terms.select(
        "doc_id",
        F.lag("w3", 2).over(wd).alias("w1"),
        F.lag("w3", 1).over(wd).alias("w2"),
        "w3",
    )


def train_trigram_lm(docs: DataFrame) -> dict[str, DataFrame]:
    """Order-3 stupid-backoff LM state (Brants et al. 2007 — "Large
    Language Models in Machine Translation" — the recipe CCNet's
    KenLM filter descends from): trigram, bigram, and unigram
    censuses plus their context marginals.  ONE corpus tokenize pass
    feeds all three censuses (the lagged row table is lazily
    localCheckpointed so the three groupBys share its materialization
    instead of re-running the explode+window per census); both
    context tables and the token total are exact marginals of the
    censuses — c(w1,w2 as tri-context) = Σ_w3 c(w1,w2,w3) (bigram
    occurrences WITH a following token, which is what the trigram
    conditional's denominator must be — the raw bigram census would
    overcount doc-final bigrams), c(w2 as bi-context) = Σ_w3
    c(w2,w3), total = Σ c(w) — so they re-aggregate census tables,
    never the corpus.  Serve with :func:`lm_score_tri`; persist with
    :func:`write_lm_index` + ``read_lm_index(tables=TRIGRAM_LM_TABLES)``."""
    rows = _doc_trigram_rows(docs).localCheckpoint(eager=False)
    tri = (
        rows.filter(F.col("w1").isNotNull())
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    big = (
        rows.filter(F.col("w2").isNotNull())
        .groupBy("w2", "w3")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    uni = rows.groupBy("w3").agg(F.count(F.lit(1)).alias("n_uni"))
    return {
        "tri": tri,
        "tctx": tri.groupBy("w1", "w2").agg(
            F.sum("n_tri").alias("n_tctx")
        ),
        "big": big,
        "bctx": big.groupBy("w2").agg(F.sum("n_big").alias("n_bctx")),
        "uni": uni,
        "total": uni.agg(F.sum("n_uni").alias("n_total")),
    }


TRIGRAM_LM_TABLES = ("tri", "tctx", "big", "bctx", "uni", "total")


def lm_score_tri(batch: DataFrame, lm: dict[str, DataFrame]) -> DataFrame:
    """Score documents against a trained trigram LM with two-level
    stupid backoff (Brants et al. 2007, α=0.4 per fallback):

        S(w3|w1,w2) = c(w1,w2,w3)/c(w1,w2)            if trigram seen
                    = 0.4 · c(w2,w3)/c(w2)            elif bigram seen
                    = 0.4 · 0.4 · c(w3)/total          else (OOV count
                                                       floored at 1)

    Only trigram POSITIONS are scored (tokens with two predecessors
    in their doc — n_trigrams = max(0, n_tokens−2)); a doc with fewer
    than 3 tokens reports (0, 0, 0, NULL) rather than disappearing,
    and duplicate batch doc_ids collapse to the deterministic
    smallest-text winner exactly as in :func:`lm_score`.

    Plan shape: the batch's (w1,w2,w3) tf table LEFT-joins the six
    censuses on equi keys — the vocabulary³ trigram table is never
    broadcast; the 1-row total rides a broadcast crossJoin — so per
    batch the cost is O(batch trigrams), training-corpus-size
    independent.  A seen trigram/bigram implies its context marginal
    exists (the marginal includes that very occurrence), so neither
    conditional can divide by NULL.  ``n_backoff_bi``/``n_backoff_uni``
    count the pair instances that fell through to each level — the
    domain-shift diagnostic, now with a depth axis."""
    batch = batch.groupBy("doc_id").agg(F.min("text").alias("text"))
    rows = _doc_trigram_rows(batch).filter(F.col("w1").isNotNull())
    tf = rows.groupBy("doc_id", "w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("tf")
    )
    joined = (
        tf.join(lm["tri"], ["w1", "w2", "w3"], "left")
        .join(lm["tctx"], ["w1", "w2"], "left")
        .join(lm["big"], ["w2", "w3"], "left")
        .join(lm["bctx"], ["w2"], "left")
        .join(lm["uni"], ["w3"], "left")
        .crossJoin(F.broadcast(lm["total"]))
    )
    tri_seen = F.col("n_tri").isNotNull()
    big_seen = F.col("n_big").isNotNull()
    lp = (
        F.when(
            tri_seen,
            F.round(
                F.log(F.col("n_tri").cast("double") / F.col("n_tctx")), 12
            ),
        )
        .when(
            big_seen,
            F.round(
                F.log(
                    F.lit(0.4)
                    * F.col("n_big").cast("double")
                    / F.col("n_bctx")
                ),
                12,
            ),
        )
        .otherwise(
            F.round(
                F.log(
                    F.lit(0.16)
                    * F.coalesce(F.col("n_uni"), F.lit(1)).cast("double")
                    / F.col("n_total")
                ),
                12,
            )
        )
        .cast("decimal(20,12)")
    )
    scored = (
        joined.withColumn("wlp", F.col("tf") * lp)
        .withColumn(
            "bi_tf",
            F.when(~tri_seen & big_seen, F.col("tf")).otherwise(F.lit(0)),
        )
        .withColumn(
            "uni_tf",
            F.when(~tri_seen & ~big_seen, F.col("tf")).otherwise(F.lit(0)),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_trigrams"),
        F.sum("bi_tf").cast("long").alias("n_backoff_bi"),
        F.sum("uni_tf").cast("long").alias("n_backoff_uni"),
        F.sum("wlp").alias("sum_lp"),
    )
    return (
        batch.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0)).cast("long").alias(
                "n_trigrams"
            ),
            F.coalesce("n_backoff_bi", F.lit(0)).cast("long").alias(
                "n_backoff_bi"
            ),
            F.coalesce("n_backoff_uni", F.lit(0)).cast("long").alias(
                "n_backoff_uni"
            ),
            (F.col("sum_lp").cast("double") / F.col("n_trigrams")).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


def _hash_bucket(col: Column, n_buckets: int) -> Column:
    """Deterministic cross-engine hash bucket: the first 32 md5 bits
    of the string, mod ``n_buckets`` — the importance_sample draw's
    integer sibling (both engines compute md5 identically; the 8-hex
    prefix is exact in a double, so DuckDB's digit-fold and Spark's
    conv() agree bit-for-bit)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def _doc_ngram_lagged(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, w1..wn) per n-gram instance from ONE
    tokenize→posexplode→(n−1)-lag pass (the _doc_trigram_rows shape,
    generalized): wn is the token at each position, w1..w(n−1) its
    predecessors; rows whose w1 is NULL (doc starts) are dropped, so
    every emitted row is a complete n-gram."""
    terms = with_tokens(docs).select(
        "doc_id", F.posexplode("tokens").alias("pos", f"w{n}")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    cols = [
        F.lag(f"w{n}", n - j).over(wd).alias(f"w{j}")
        for j in range(1, n)
    ]
    return terms.select("doc_id", *cols, f"w{n}").filter(
        F.col("w1").isNotNull()
    )


def _doc_ngram_buckets(
    docs: DataFrame, n: int, n_buckets: int
) -> DataFrame:
    """(doc_id, bn, bc) per n-gram instance — bn the hash bucket of
    the full n-gram, bc of its (n−1)-token context.  The gram STRINGS
    never leave this projection: downstream censuses and joins carry
    only the two bucket ids."""
    words = [f"w{j}" for j in range(1, n + 1)]
    return _doc_ngram_lagged(docs, n).select(
        "doc_id",
        _hash_bucket(F.concat_ws(" ", *words), n_buckets).alias("bn"),
        _hash_bucket(F.concat_ws(" ", *words[:-1]), n_buckets).alias(
            "bc"
        ),
    )


HASH4_BUCKETS = 1 << 18


def hashed_ngram_logprob(
    spark: SparkSession,
    sf_dir: str,
    n: int = 4,
    n_buckets: int = HASH4_BUCKETS,
) -> DataFrame:
    """Order-n LM rung over a HASH-BUCKETED census — the 100 TB shape
    for n-gram orders ≥ 4 (VERDICT r10 #4): CCNet's actual filter is
    a 5-gram KenLM, but an exact order-n census is a vocabularyⁿ
    table — already join-only (never broadcast) at order 3, and at
    orders 4-5 the census itself becomes the storage problem.  KenLM
    at scale (and the count-min family) bound it by hashing grams
    into a FIXED-width count table; this operator is that shape with
    ONE hash row per gram (count-min with depth 1): census width is
    ≤ ``n_buckets`` rows per order no matter the vocabulary, and the
    collision cost is a measured, reported approximation
    (:func:`hashed_ngram_collisions`) instead of an unbounded table.

    Score = per-doc average of ln(c(bₙ)/c(b꜀)) over the doc's n-gram
    instances, where bₙ/b꜀ are the md5 buckets of the n-gram and its
    (n−1)-token context and both counts come from the bucketed
    censuses — the MLE conditional of :func:`bigram_logprob` n−2
    rungs up, on hashed keys.  Train-on-self (the census IS the
    corpus), so every scored gram exists in both censuses; collisions
    only INFLATE counts (a count-min property), and because numerator
    and denominator hash independently a colliding context can push a
    single gram's ratio above 1 — the honest artifact of the
    fixed-width trade, visible as a less-negative score.  At high
    orders most gram counts are 1, so even a single-digit collision
    rate is VISIBLE: a count-1 gram whose bucket absorbs one other
    gram scores ln(2/1) ≈ +0.69 at that position, and some docs'
    averages go positive — an impossible log-probability that is
    itself the collision alarm; watch the per-order
    :func:`hashed_ngram_collisions` readout and widen ``n_buckets``
    until the rate fits the fidelity the gate needs.

    Plan shape: one tokenize+lag pass feeds both censuses and the
    scoring join (the bucket-row table is a lazy localCheckpoint
    boundary — Catalyst re-derives unshared subplans per reference,
    so without it the corpus would be re-scanned three times); both
    censuses are map-side-combined groupBys bounded by n_buckets
    rows; scoring is two equi joins on bucket ids.  No window beyond
    the per-doc lag, no broadcast of anything census-sized.

    Determinism: ln rounded 12 dp, decimal-weighted, summed as
    decimal, divided as double — the lm_score discipline.  Docs with
    fewer than n tokens report (n_ngrams=0, avg_logprob=NULL) —
    coverage parity with every other rung of the ladder."""
    if n < 2:
        raise ValueError(
            f"hashed_ngram_logprob: n must be >= 2, got {n} — the"
            " conditional needs a non-empty context (order 1 is"
            " unigram_logprob)"
        )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = _doc_ngram_buckets(docs, n, n_buckets).localCheckpoint(
        eager=False
    )
    cn = rows.groupBy("bn").agg(F.count(F.lit(1)).alias("n_gram"))
    cc = rows.groupBy("bc").agg(F.count(F.lit(1)).alias("n_ctx"))
    tf = rows.groupBy("doc_id", "bn", "bc").agg(
        F.count(F.lit(1)).alias("tf")
    )
    lp = F.round(
        F.log(F.col("n_gram").cast("double") / F.col("n_ctx")), 12
    ).cast("decimal(20,12)")
    scored = (
        tf.join(cn, "bn")
        .join(cc, "bc")
        .withColumn("wlp", F.col("tf").cast("decimal(12,0)") * lp)
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_ngrams"),
        F.sum("wlp").alias("sum_lp"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0))
            .cast("long")
            .alias("n_ngrams"),
            (F.col("sum_lp").cast("double") / F.col("n_ngrams")).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


def hashed4_logprob(
    spark: SparkSession, sf_dir: str, n_buckets: int = HASH4_BUCKETS
) -> DataFrame:
    """The order-4 rung — :func:`hashed_ngram_logprob` at n=4."""
    return hashed_ngram_logprob(spark, sf_dir, n=4, n_buckets=n_buckets)


def hashed_ngram_collisions(
    spark: SparkSession,
    sf_dir: str,
    n: int = 4,
    n_buckets: int = HASH4_BUCKETS,
) -> DataFrame:
    """The collision report the hashed census owes its users
    (VERDICT r10 #4: "collision rate reported"): distinct n-gram
    strings vs distinct occupied buckets at the configured width.
    collision_rate = 1 − buckets_used/grams — the fraction of
    distinct grams whose count is merged into some other gram's
    bucket; size ``n_buckets`` so this stays in single digits and
    the order-n scores stay honest.  One corpus pass, one aggregate
    (two count-distincts — a Spark expand over the same scan); the
    1-row output is the operator."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = [f"w{j}" for j in range(1, n + 1)]
    grams = _doc_ngram_lagged(docs, n).select(
        F.concat_ws(" ", *words).alias("gram")
    ).withColumn("bucket", _hash_bucket(F.col("gram"), n_buckets))
    return grams.agg(
        F.countDistinct("gram").alias("n_distinct_grams"),
        F.countDistinct("bucket").alias("n_buckets_used"),
        F.lit(int(n_buckets)).cast("long").alias("n_bucket_capacity"),
        F.round(
            F.lit(1.0)
            - F.countDistinct("bucket").cast("double")
            / F.countDistinct("gram"),
            6,
        ).alias("collision_rate"),
    )


def hashed4_collisions(
    spark: SparkSession, sf_dir: str, n_buckets: int = HASH4_BUCKETS
) -> DataFrame:
    """The order-4 report — :func:`hashed_ngram_collisions` at n=4."""
    return hashed_ngram_collisions(
        spark, sf_dir, n=4, n_buckets=n_buckets
    )


def write_lm_index(source: DataFrame | dict[str, DataFrame], path: str) -> None:
    """Persist the trained bigram LM at rest — four tables under
    ``{path}/``; a scoring deployment reads them back with
    :func:`read_lm_index` and never touches the training corpus
    again.  ``source`` is either the training corpus (trained here)
    or an already-trained :func:`train_bigram_lm` dict — a caller
    holding the LM must not pay a retrain just to persist it."""
    lm = source if isinstance(source, dict) else train_bigram_lm(source)
    for name, df in lm.items():
        df.write.mode("overwrite").parquet(f"{path}/{name}")


def read_lm_index(
    spark: SparkSession,
    path: str,
    tables: tuple[str, ...] = ("big", "ctx", "uni", "total"),
) -> dict[str, DataFrame]:
    """Load a stored LM written by :func:`write_lm_index` — the
    bigram tables by default; pass ``tables=TRIGRAM_LM_TABLES`` for
    an order-3 model."""
    return {
        name: spark.read.parquet(f"{path}/{name}") for name in tables
    }


def lm_quality_buckets(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 3,
    sampled_thresholds: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """CCNet-style language-model quality tiers (Wenzek et al. 2020):
    rank every document by its per-token LM log-probability under the
    corpus's own unigram model (:func:`unigram_logprob`) and split the
    corpus into equal-sized tiers — ``head`` (most LM-probable,
    cleanest), ``middle``, ``tail`` (likely noise/boilerplate-rare
    tokens).  CCNet keeps head+middle for pre-training and drops or
    down-samples tail; the tier column is exactly that routing key.

    DEFAULT (scale) path, ``sampled_thresholds=True`` — CCNet's own
    procedure: estimate the n_buckets-1 tier boundaries with a
    mergeable ``percentile_approx`` sketch (one map-side-combined
    aggregate over the per-doc rows; the 1-row threshold array rides
    a broadcast crossJoin) and assign buckets with a map-side
    comparison.  No window, no global sort, no driver collect
    (plan-asserted, tests/test_plan_hygiene.py); tier sizes become
    approximate (sketch accuracy + probability-mass ties — a run of
    equal scores lands entirely in one tier where ntile would split
    it), which is exactly the trade CCNet makes.  VERDICT r11 #6
    made this the library default so no 100 TB caller gets a
    single-task global sort by accident.

    EXACT (oracle) path, ``sampled_thresholds=False``: the split is
    POSITIONAL (ntile over avg_logprob DESC, doc_id tiebreak), not
    threshold-based — rank semantics are identical across engines,
    where interpolated percentile thresholds would put boundary
    documents on different sides of a float comparison.  The
    ``doc_lm_buckets`` oracle entry pins this path explicitly; its
    global ``Window.orderBy`` is a SINGLE-TASK sort at corpus-doc
    cardinality (fine at bench scales, the wrong shape at billions
    of documents — VERDICT r9 #1).

    Docs with a NULL score (no tokens) route to the last tier on
    both paths."""
    if n_buckets < 1:
        raise ValueError(
            f"lm_quality_buckets: n_buckets must be >= 1, got {n_buckets}"
        )
    scored = unigram_logprob(spark, sf_dir)
    if sampled_thresholds and n_buckets == 1:
        # ADVICE r10: one bucket needs zero thresholds — the sketch
        # path below would hand percentile_approx an EMPTY percentile
        # array and fail analysis where the exact ntile(1) path works;
        # short-circuit to the (trivially identical) constant tier
        bucketed = scored.withColumn("bucket", F.lit(1).cast("long"))
    elif sampled_thresholds:
        scored = scored.localCheckpoint(eager=False)
        # DESC tier b ends at the ascending (n-b)/n percentile:
        # head = top third ⇒ thresholds at asc-percentiles 2/3, 1/3
        probs = [(n_buckets - b) / n_buckets for b in range(1, n_buckets)]
        thr = scored.agg(
            F.percentile_approx(
                "avg_logprob", F.array(*[F.lit(p) for p in probs]),
                F.lit(accuracy),
            ).alias("thr")
        )
        bucket = F.lit(1) + F.aggregate(
            F.col("thr"),
            F.lit(0),
            lambda acc, t: acc
            + F.when(F.col("avg_logprob") < t, 1).otherwise(0),
        )
        bucketed = (
            scored.crossJoin(F.broadcast(thr))
            .withColumn(
                "bucket",
                F.when(
                    F.col("avg_logprob").isNull(), F.lit(n_buckets)
                )
                .otherwise(bucket)
                .cast("long"),
            )
            .drop("thr")
        )
    else:
        w = Window.orderBy(F.col("avg_logprob").desc(), F.col("doc_id"))
        bucketed = scored.withColumn(
            "bucket", F.ntile(n_buckets).over(w).cast("long")
        )
    if n_buckets == 3:
        tier = (
            F.when(F.col("bucket") == 1, F.lit("head"))
            .when(F.col("bucket") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        tier = F.concat(F.lit("b"), F.col("bucket").cast("string"))
    return bucketed.select(
        "doc_id", "n_tokens", "avg_logprob", "bucket", tier.alias("tier")
    ).orderBy("doc_id")


def source_nb(
    spark: SparkSession, sf_dir: str, sparse: bool | None = None
) -> DataFrame:
    """Multinomial Naive-Bayes SOURCE/domain classifier, trained on
    the corpus's own (source, term) census and served on the same
    corpus — the domain-bucketing rung of the curation ladder (CCNet
    tags documents by domain before mixing; DCLM/DoReMi reweight
    training mixtures per domain; this is the distributed classifier
    those loops need): score(d, s) = ln P(s) + Σ_t tf(d,t) ·
    ln((c(s,t)+1)/(c(s)+V)) with Laplace smoothing over the GLOBAL
    vocabulary V, predict argmax_s.

    Plan shape (r14 optimization, guide §1.2): ONE corpus token pass
    builds the doc-grain (doc_id, source, term, tf) table; the
    per-source census is its integer marginal (n_st = Σ tf over the
    source's docs — identical counts to a direct occurrence census by
    partition of the occurrences over docs), and the per-doc tf table
    is a projection (doc_id → source is functional, so the grain is
    unchanged).  Before r14 the census and tf passes each ran their
    own tokenize+explode over the full corpus text; source stats,
    priors, and V are census marginals or 1-row scalars either way.  Scoring expands tf × the (tiny, broadcast) source
    dimension — O(doc terms × n_sources) rows by definition of NB
    scoring — then ONE equi LEFT-join on (source, term) against the
    census and one map-side-combinable min-struct argmax per doc
    (score desc, source asc tiebreak — no window, no global sort).

    Determinism: every ln is rounded to 12 dp and decimal-weighted
    (the lm_score discipline), so per-(doc, source) sums are exact in
    both engines and the argmax compares bit-identical decimals.

    ``sparse=True`` routes scoring through the sparse-NB identity
    (see :func:`_nb_score`) — same scores, same twin; wins when the
    domain vocabularies are mostly disjoint.  The default ``None``
    picks the branch from the census's measured posting density
    (:func:`nb_auto_sparse`, VERDICT r13 #7)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # ONE tokenize+explode pass over the corpus text; lazy
    # localCheckpoint so the (expensive) pass materializes once and
    # is shared by the census derivation AND the scoring sum.  Kept
    # at (doc_id, source, term, tf) grain — the r15 occurrence-grain
    # variant A/B-measured 1.5–2.4× slower (see _nb_score).
    tf3 = nb_term_freqs(docs).localCheckpoint(eager=False)
    # the census is the integer marginal of the checkpointed pass —
    # identical counts to _nb_model's direct occurrence census; kept
    # as its own lazy checkpoint so the density decision, the source
    # marginals, the vocab marginal and the scoring join share one
    # (small) materialization instead of re-aggregating tf3 each
    census = (
        tf3.groupBy("source", "term")
        .agg(F.sum("tf").cast("long").alias("n_st"))
        .localCheckpoint(eager=False)
    )
    tf = tf3.select("doc_id", "term", "tf")
    src_stats, vocab_v = _nb_stats(census, _src_partials(census, docs))
    return _nb_score(docs, census, src_stats, vocab_v, sparse=sparse, tf=tf)


def nb_term_freqs(docs: DataFrame) -> DataFrame:
    """(doc_id, source, term, tf) — THE tokenize pass every NB
    consumer derives from.  A caller that both trains and scores in
    one query (the indexed/appended oracle entries) lazily-
    checkpoints this once and hands slices of it to
    :func:`write_nb_index` / :func:`append_to_nb_index` /
    :func:`nb_score_indexed`, so the corpus text is read and
    tokenized ONCE instead of once per maintenance op plus once at
    serve (r15, guide §1.2: remove redundant full passes first).
    The census marginal (Σ tf per (source, term)) and the scoring
    projection (doc_id, term, tf) are both exact derivations, so
    results are unchanged."""
    return (
        with_tokens(docs)
        .select("doc_id", "source", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _nb_model(docs: DataFrame, tf3: DataFrame | None = None):
    """The NB training PARTIALS — the (source, term) census and the
    per-source marginals (n_s total term occurrences, n_docs_s doc
    count).  Shared verbatim by the in-query :func:`source_nb`, the
    stored-model :func:`write_nb_index`, and the incremental
    :func:`append_to_nb_index`: both tables are ADDITIVE across
    disjoint document batches (term counts and doc counts sum), which
    is what makes the index ledger's per-batch partials exact.
    Global stats (n_docs, vocab size) are NOT stored — they are
    marginals of these partials, derived by :func:`_nb_stats`.
    ``tf3`` supplies a precomputed :func:`nb_term_freqs` frame (the
    r15 shared-pass contract); Σ tf per (source, term) is the same
    integer as the direct occurrence count."""
    if tf3 is not None:
        census = tf3.groupBy("source", "term").agg(
            F.sum("tf").cast("long").alias("n_st")
        )
    else:
        census = (
            with_tokens(docs)
            .select("doc_id", "source", F.explode("tokens").alias("term"))
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).alias("n_st"))
        )
    return census, _src_partials(census, docs)


def _src_partials(census: DataFrame, docs: DataFrame) -> DataFrame:
    """Per-source partials from a census + its docs: n_docs_s from
    the docs marginal, n_s as the census marginal (r12 review: LEFT
    join from the DOCS side so a NULL-source doc-count row SURVIVES —
    an equi-join would drop it, undercounting n_docs below the DuckDB
    twin's count(*); its n_s stays NULL and :func:`_nb_stats` keeps
    NULL-source out of the candidate set, matching the pre-refactor
    semantics where NULL-source docs counted in n_docs but never
    scored as a class).  Shared by the inline model, the base index
    build (over the read-back census), and the batch append (over
    the checkpointed batch census)."""
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_s")
    ).join(
        census.groupBy("source").agg(
            F.sum("n_st").cast("long").alias("n_s")
        ),
        "source",
        "left",
    )


def _nb_stats(census: DataFrame, src_partials: DataFrame):
    """Global NB stats as marginals of the model partials: n_docs =
    Σ_s n_docs_s over EVERY partial row (including a NULL-source row,
    so it equals the twin's count(*)), candidates = the non-NULL
    sources, and the vocabulary size = distinct terms of the census.
    Derived, never stored — so an appended index can't hold a stale
    global."""
    n_docs_df = src_partials.agg(
        F.sum("n_docs_s").cast("long").alias("n_docs")
    )
    src_stats = src_partials.filter(
        F.col("source").isNotNull()
    ).crossJoin(F.broadcast(n_docs_df))
    vocab_v = census.agg(F.countDistinct("term").alias("v_size"))
    return src_stats, vocab_v


# Auto-switch threshold on census posting density (fraction of the
# dense (source, term) grid the census populates).  Measured crossover
# (bench `nb_sparse` block, r12/r13): disjoint vocabularies (density
# ≈ 1/n_sources ≈ 0.2 on the bench fixture) → sparse 0.33× dense;
# shared vocabulary (density ≈ 1) → sparse 1.0–1.3× (the recorded
# negative result).  0.5 sits between the regimes: the sparse path's
# term-join row count is density × the dense expansion, so below half
# the grid it strictly shuffles less, and the per-(doc, source) base
# grid it adds is O(docs × sources) — negligible next to term rows.
NB_SPARSE_DENSITY_THRESHOLD = 0.5


def nb_auto_sparse(census: DataFrame) -> dict:
    """Cost-based dense/sparse branch pick from the stored census
    alone (VERDICT r13 #7): posting density = census pairs / (V × S)
    is EXACTLY the ratio of sparse-path term-join rows to dense-path
    expansion rows (each doc term occurrence meets `density × S`
    census sources on average instead of all S).  One bounded 1-row
    driver read over the (small) census — the same driver-state
    pattern as the GD scalars; never reads the corpus text.  Returns
    the decision plus the stats behind it so bench/ops can record
    which branch the auto path picked and why."""
    row = census.agg(
        F.count(F.lit(1)).alias("pairs"),
        F.countDistinct("term").alias("v"),
        F.countDistinct("source").alias("s"),
    ).first()
    v, s = int(row["v"] or 0), int(row["s"] or 0)
    density = (int(row["pairs"]) / (v * s)) if v and s else 1.0
    return {
        "sparse": density <= NB_SPARSE_DENSITY_THRESHOLD,
        "density": round(density, 4),
        "n_pairs": int(row["pairs"]),
        "v_size": v,
        "n_sources": s,
    }


def _nb_score(
    docs: DataFrame,
    census: DataFrame,
    src_stats: DataFrame,
    vocab_v: DataFrame,
    sparse: bool | None = None,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Score ``docs`` against NB censuses (from :func:`_nb_model`
    inline, or read back from a :func:`write_nb_index` layout — same
    integer counts either way, so the 12-dp decimal arithmetic below
    is bit-identical).  One tokenize pass over the SCORED docs (the
    only text read), one broadcast expansion over the source
    dimension, one left equi-join on (source, term) against the
    census, one min-struct argmax — no window, no global sort.

    ``sparse=True`` (VERDICT r12 #7) scores through the standard
    sparse-NB identity instead of expanding every (doc term × source)
    pair:

        Σ_t tf·lp(t,s) = Σ_{t ∈ census(s)} tf·(lp(t,s) − lp_miss(s))
                         + dl·lp_miss(s)

    where lp_miss(s) = ln(1/(n_s+V)) is the shared missing-term mass.
    The per-(source, term) rounding (12 dp, decimal-weighted) is
    UNCHANGED and the regrouped sum is exact decimal arithmetic at
    every step, so both paths are exact and EQUAL — same argmax, same
    scores, same DuckDB twin (pytest asserts row-identical output).
    r15: the branch shares the dense plan SHAPE (one broadcast join
    against the pivoted census + one per-doc aggregation — the delta
    part is exactly 0 for census-absent cells, so no inner/union
    split is needed); the r13 union shape (INNER term join + a
    per-(doc, source) base grid + two extra shuffles) is gone.  The
    two branches now differ only in the per-cell arithmetic
    regrouping; the density auto-pick below is kept for contract
    stability, not cost.

    ``sparse=None`` (the default since r14) picks the branch from the
    census's measured posting density via :func:`nb_auto_sparse`; the
    explicit flag remains as an override.  Both branches emit
    bit-equal scores, so the auto pick can never change results —
    only the plan shape.

    ``tf`` (optional) supplies a precomputed per-doc term-frequency
    table (doc_id, term, tf) so a caller that already tokenized the
    corpus for the census (:func:`source_nb`) shares that one pass
    instead of re-running tokenize+explode here (r14 optimization,
    guide §1.2: remove redundant full passes first).  The counts are
    identical by construction, so scores are unchanged."""
    if sparse is None:
        sparse = nb_auto_sparse(census)["sparse"]
    if tf is None:
        # (doc_id, term, tf) grain, NOT occurrences: an r15 A/B of
        # occurrence-grain scoring (tf ≡ 1, no pre-aggregation) read
        # 1.5–2.4× SLOWER across the NB family — the groupBy here is
        # a cheap count shuffle, and skipping it makes the S-column
        # decimal scoring arithmetic run once per token occurrence
        # instead of once per distinct (doc, term).  Negative result
        # recorded in OPTIMIZATION_r15.md §2.
        tf = (
            with_tokens(docs)
            .select("doc_id", F.explode("tokens").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
    # tf rides as decimal(12,0) so the product is decimal(33,12) —
    # within precision 38, so Spark cannot silently reduce the scale
    # (bigint x decimal(20,12) would overflow to 41 and round at 9 dp
    # under allowPrecisionLoss, diverging from the oracle's exact 12)
    tf_dec = F.col("tf").cast("decimal(12,0)")

    def _final(best: DataFrame) -> DataFrame:
        return (
            docs.select(
                "doc_id", F.col("source").alias("actual_source")
            )
            .join(best, "doc_id")
            .select(
                "doc_id",
                "actual_source",
                F.col("w.pred_source").alias("pred_source"),
                F.col("w.score").cast("double").alias("score"),
                (
                    F.col("w.pred_source") == F.col("actual_source")
                ).alias("correct"),
            )
            .orderBy("doc_id")
        )

    # Both branches (r15): bounded driver read of the DIMENSION-sized
    # model stats (guide §2.4 / §1.2) — src_stats is one row per
    # candidate source (classes, not data — the same driver-state
    # budget as the GD scalars) and vocab_v one scalar — folded into
    # the plan as literals, with the census pivoted to V rows × S
    # count columns.  Dense (r14) scores Σ_t tf·lp(t,s) as one
    # term-grain left join + one per-doc aggregation of S decimal
    # sums.  Sparse (r15 rewrite of the r13 union shape — VERDICT r14
    # #3 "pivot only the delta side") scores the SAME join/agg shape
    # through the sparse-NB identity: per term row the delta part
    # tf·(lp(t,s) − lp_miss(s)) — exactly 0 for census-absent cells,
    # so the left join needs no inner/union split — and per doc one
    # dl·lp_miss(s) term added AFTER the sum.  Decimal arithmetic is
    # exact at every step, so regrouping the r13 base ∪ delta union
    # sum into (Σ delta) + dl·lp_miss is value-identical, and the
    # argmax compares the identical (neg score, source) structs —
    # scores and predictions are bit-identical across r13/r14/r15
    # shapes (equivalence pytest-asserted, oracle twins unchanged).
    # The r13 union shape cost 2 extra shuffles (the per-(doc,source)
    # union groupBy and a second per-doc argmax aggregation) plus an
    # SMJ of tf against the census; this is one broadcast join and
    # one aggregation, identical to dense.
    v_size = vocab_v.first()["v_size"]
    stat_rows = sorted(
        (
            r
            for r in src_stats.select(
                "source", "n_docs_s", "n_s", "n_docs"
            ).collect()
            if r["source"] is not None
        ),
        key=lambda r: r["source"],
    )
    out_schema = (
        "doc_id long, actual_source string, pred_source string,"
        " score double, correct boolean"
    )
    if not stat_rows:
        return docs.sparkSession.createDataFrame([], out_schema)

    def _den(r):
        # (n_s + V) exactly as the column form: long + long, NULL-
        # propagating when a source has docs but no census mass
        if r["n_s"] is None or v_size is None:
            return F.lit(None).cast("long")
        return F.lit(int(r["n_s"]) + int(v_size)).cast("long")

    def _prior(r):
        # round(log(n_docs_s / n_docs), 12) with the identical
        # long->double casts as the pre-r14 column expression
        return F.round(
            F.log(
                F.lit(int(r["n_docs_s"])).cast("double")
                / F.lit(int(r["n_docs"])).cast("long")
            ),
            12,
        ).cast("decimal(20,12)")

    names = [r["source"] for r in stat_rows]

    # the census pivoted to V rows × S count columns (S = candidate
    # sources, dimension-bounded); unseen (source, term) cells are
    # NULL and score through the same coalesce-0 Laplace arm as the
    # old left join
    cw = census.groupBy("term").agg(
        *[
            F.max(
                F.when(F.col("source") == F.lit(s), F.col("n_st"))
            ).alias(f"n{i}")
            for i, s in enumerate(names)
        ]
    )
    lps = [
        F.round(
            F.log(
                (F.coalesce(F.col(f"n{i}"), F.lit(0)) + 1).cast(
                    "double"
                )
                / _den(r)
            ),
            12,
        ).cast("decimal(20,12)")
        for i, r in enumerate(stat_rows)
    ]
    joined = tf.join(F.broadcast(cw), "term", "left")
    if sparse:
        # lp at n_st = NULL — identical IEEE operands to the r13
        # column form (the denominator literal IS n_s + V)
        lp_miss = [
            F.round(
                F.log(F.lit(1).cast("double") / _den(r)), 12
            ).cast("decimal(20,12)")
            for r in stat_rows
        ]
        scored = joined.groupBy("doc_id").agg(
            *[
                F.sum(tf_dec * (lp - lp_miss[i]))
                .cast("decimal(38,12)")
                .alias(f"sum{i}")
                for i, lp in enumerate(lps)
            ],
            F.sum(tf_dec).cast("decimal(12,0)").alias("dl"),
        )
        # association matters at the TYPE level even though decimal
        # addition is exact in value: (sum38,12 + dl·lp_miss33,12)
        # needs precision 39, so Spark reduces the scale to 11 and
        # rounds BEFORE the prior is added — a double rounding the
        # dense branch doesn't have.  (prior20,12 + dl·lp_miss33,12)
        # fits in (34,12) EXACTLY, so the only lossy step is the one
        # final + sum addition, at the identical 11-dp boundary as
        # dense — round_11(exact score) both ways, bit-equal.
        score_cols = [
            (
                (_prior(r) + F.col("dl") * lp_miss[i])
                + F.col(f"sum{i}")
            ).alias(f"s{i}")
            for i, r in enumerate(stat_rows)
        ]
    else:
        scored = joined.groupBy("doc_id").agg(
            *[
                F.sum(tf_dec * lp)
                .cast("decimal(38,12)")
                .alias(f"sum{i}")
                for i, lp in enumerate(lps)
            ]
        )
        score_cols = [
            (_prior(r) + F.col(f"sum{i}")).alias(f"s{i}")
            for i, r in enumerate(stat_rows)
        ]
    # argmax across the S score columns: array_min over (neg score,
    # source, score) structs — the identical lexicographic ordering
    # the old min(struct) aggregation used, minus its extra shuffle
    # (scored is already one row per doc)
    total = scored.select("doc_id", *score_cols)
    best = total.select(
        "doc_id",
        F.array_min(
            F.array(
                *[
                    F.struct(
                        (-F.col(f"s{i}")).alias("neg"),
                        F.lit(s).alias("pred_source"),
                        F.col(f"s{i}").alias("score"),
                    )
                    for i, s in enumerate(names)
                ]
            )
        ).alias("w"),
    )
    return _final(best)


def source_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix over the Naive-Bayes source classifier
    (VERDICT r10 #7): (actual_source × pred_source) document counts —
    the evaluation surface that makes the domain tagger TUNABLE the
    way doc_neardup_curve made LSH tunable: off-diagonal mass shows
    which domains the term censuses cannot separate (merge them or
    add features), the diagonal is per-class recall's numerator.
    One dimension²-bounded groupBy over :func:`source_nb`'s output —
    the expensive NB scoring pass is the same; the matrix is free on
    top of it.  Only observed cells are emitted (both engines
    aggregate the same rows, so the sparsity agrees)."""
    return (
        source_nb(spark, sf_dir)
        .groupBy("actual_source", "pred_source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual_source", "pred_source")
    )


NB_TABLES = ("census", "src_stats")


def _write_nb_decision(spark: SparkSession, path: str, census) -> None:
    """Persist the sparse/dense branch decision next to the model
    (r14 review): the density is a property of the index at rest, so
    it is computed ONCE per maintenance op that already reads the
    full census (build, compact) and served as a 1-row read — not
    re-derived with a census scan on every serve batch.  Appends do
    NOT update it (the O(batch) append contract forbids a full-census
    read); appended terms can only nudge density, and the next
    compaction refreshes it, so serve treats it as a heuristic that
    may lag the ledger by design."""
    pick = nb_auto_sparse(census)
    # range(1)+lit builds the 1-row frame JVM-side: createDataFrame
    # over a Python list routes through the parallelize/Python-RDD
    # path, measured ~5 s per call in a warm session (r14 profile) —
    # 10x the whole census agg it records
    (
        spark.range(1)
        .select(
            F.lit(bool(pick["sparse"])).alias("sparse"),
            F.lit(float(pick["density"])).alias("density"),
            F.lit(int(pick["n_pairs"])).cast("long").alias("n_pairs"),
            F.lit(int(pick["v_size"])).cast("long").alias("v_size"),
            F.lit(int(pick["n_sources"]))
            .cast("long")
            .alias("n_sources"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/decision")
    )


def _read_nb_decision(spark: SparkSession, path: str) -> bool | None:
    """The stored branch decision, or None when absent/unreadable
    (pre-r14 index layouts keep working — serve falls back to
    computing the density from the census)."""
    try:
        row = spark.read.parquet(f"{path}/decision").first()
        return bool(row["sparse"]) if row is not None else None
    except Exception:
        return None


def write_nb_index(
    docs: DataFrame, path: str, tf3: DataFrame | None = None
) -> None:
    """Persist the trained Naive-Bayes source model at rest (VERDICT
    r11 #4 — the serve split LR/BM25/IVF-PQ already have): the exact
    :func:`_nb_model` partials as two parquet tables —
    ``{path}/census`` (source, term, n_st) term-sorted so parquet
    row-group min/max statistics prune non-scored terms at scan time
    (the BM25-postings layout), and ``{path}/src_stats`` (source,
    n_s, n_docs_s).  Globals (n_docs, vocab size) are derived at
    serve by :func:`_nb_stats`, never stored.

    Counts are exact integers, so a stored-model score is
    bit-identical to the in-query :func:`source_nb` (the 12-dp
    decimal arithmetic happens at serve from the same integers) —
    which is why ``doc_source_nb_indexed``'s DuckDB twin is the
    existing NB twin.  Serving never re-reads the TRAINING corpus:
    per scoring batch the cost is the batch's own tokenize pass plus
    the census join.

    LEDGER LAYOUT: both tables are ``partitionBy(batch)`` with the
    base build owning ``batch=base`` — the same replay-idempotence
    ledger as the BM25/near-dup/IVF-PQ indexes, so
    :func:`append_to_nb_index` grows the model O(batch).  The
    corpus TEXT is scanned exactly ONCE: src_stats' n_s is a
    marginal of the just-written census read BACK from parquet (the
    write_bm25_index discipline); only the tiny (doc_id, source)
    projection touches the docs again."""
    if docs.select("doc_id").isEmpty():
        raise ValueError(
            "write_nb_index: docs is empty — an empty model scores"
            " nothing; refusing to write a layout serve reads rely on"
        )
    from trade_data_collection_service_spark.ext.dedup import (
        _retire_stage,
        maintenance_lease,
    )

    spark = docs.sparkSession
    with maintenance_lease(spark, path, "write_nb_index"):
        # a fresh build supersedes any crashed-compaction stage; clear
        # them (marker-first) so a later recover cannot clobber the
        # new tables
        for t in NB_TABLES:
            _retire_stage(spark, f"{path}/{t}.stage")
        census, _ = _nb_model(docs, tf3=tf3)

        def _write_base(df: DataFrame, table: str) -> None:
            # explicit STATIC overwrite: a rebuild must wipe stale
            # batch partitions whatever the caller's session sets
            # partitionOverwriteMode to (no component here sets it)
            (
                df.withColumn("batch", F.lit("base"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "static")
                .partitionBy("batch")
                .parquet(f"{path}/{table}")
            )

        _write_base(
            census.repartition("term").sortWithinPartitions(
                "term", "source"
            ),
            "census",
        )
        stored = spark.read.parquet(f"{path}/census")
        _write_base(_src_partials(stored, docs), "src_stats")
        _write_nb_decision(spark, path, stored)


def append_to_nb_index(
    new_docs: DataFrame,
    path: str,
    batch_id: str | int | None = None,
    tf3: DataFrame | None = None,
) -> None:
    """Grow a stored NB model incrementally — classify-on-arrival
    (the searchable-on-arrival sibling of ``append_to_bm25_index``):
    census the NEW batch only and append its (source, term) counts
    and per-source partials to the batch's own ledger partitions.
    The existing model is never re-read or rewritten; per batch the
    cost is the batch's own token census — corpus-size independent.
    At serve the partials sum exactly (:func:`nb_score_indexed`), so
    append ≡ rebuild ≡ the in-query classifier, pytest-proven.

    CONTRACT: appended documents must be NEW (not already censused) —
    counts are additive only for disjoint doc sets; doc_ingest
    guarantees this by near-dup-gating before the append.  Replays
    of the SAME batch_id are idempotent (dynamic overwrite of the
    batch's partitions); un-keyed appends (batch_id=None) land in a
    shared ``legacy`` partition and a replay would double-count —
    repair by rebuilding with :func:`write_nb_index` (the model
    tables are vocab × source bounded, so a rebuild is cheap next to
    anything corpus-sized)."""
    from trade_data_collection_service_spark.ext.dedup import (
        _recover_compaction,
        _require_ledger_layout,
        _validate_batch_id,
        maintenance_lease,
    )

    b = _validate_batch_id(batch_id)
    spark = new_docs.sparkSession
    with maintenance_lease(spark, path, "append_to_nb_index"):
        for t in NB_TABLES:
            _recover_compaction(spark, f"{path}/{t}")
            _require_ledger_layout(
                spark, f"{path}/{t}", "append_to_nb_index", "write_nb_index"
            )
        batch = b if b is not None else "legacy"
        census, _ = _nb_model(new_docs, tf3=tf3)
        # src_partials MUST derive from the CHECKPOINTED census (r12
        # review): from the pre-checkpoint lineage, the src_stats
        # write would re-run the whole tokenize+census (doubling the
        # per-batch cost) and, for a nondeterministic new_docs, could
        # census a DIFFERENT evaluation than the one just written —
        # stored n_s ≠ Σ n_st, silently diverging from a rebuild.
        census = census.localCheckpoint(eager=False)
        src_partials = _src_partials(census, new_docs)

        def _write(df: DataFrame, table: str) -> None:
            w = df.withColumn("batch", F.lit(batch)).write.partitionBy(
                "batch"
            )
            if batch_id is not None:
                (
                    w.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .parquet(f"{path}/{table}")
                )
            else:
                w.mode("append").parquet(f"{path}/{table}")

        _write(
            census.repartition("term").sortWithinPartitions(
                "term", "source"
            ),
            "census",
        )
        _write(src_partials, "src_stats")


def compact_nb_index(
    spark: SparkSession,
    path: str,
    fold_batches: bool = True,
    protect_batches: tuple = (),
) -> None:
    """Fold the NB model ledger — collapse every unprotected batch
    partition into ``base`` by SUMMING the partials (exact: census
    counts and per-source stats are additive), so a long-running
    ingest stream doesn't grow one partition per micro-batch without
    bound.  ``protect_batches`` keep their partition identity (a
    stream's current, still-replayable batch — its next keyed replay
    overwrites them wholesale).  The census is re-sorted by term at
    every rewrite so parquet row-group pruning survives many appends.

    Unlike ``compact_bm25_index``, this compactor CANNOT repair a
    replayed un-keyed (legacy) append: census rows carry no doc_id,
    so two different batches can legitimately produce identical
    (source, term, n_st) rows — a distinct() "repair" would destroy
    real counts.  Folding a double-counted legacy partition bakes the
    double-count into base (it was already wrong); the repair is a
    rebuild (:func:`write_nb_index` — the model tables are
    vocab × source bounded, cheap next to anything corpus-sized).
    Crash safety is the shared stage-WAL
    (:func:`~trade_data_collection_service_spark.ext.dedup._staged_rewrite`);
    a crash between the two table rewrites leaves src_stats
    fragmented with census already folded — ``maybe_compact``'s
    max-across-tables measurement re-triggers the fold."""
    from trade_data_collection_service_spark.ext.dedup import (
        _staged_rewrite,
        maintenance_lease,
    )

    if not fold_batches:
        # nothing else to do for this ledger: keyed partitions are
        # exact by dynamic overwrite, and legacy duplication is not
        # repairable here (see docstring)
        return
    protect = [str(p) for p in protect_batches]

    def _fold(df: DataFrame, keys: list[str], sums: list[str]) -> DataFrame:
        keep = df.filter(F.col("batch").isin(protect)) if protect else None
        fold = df.filter(~F.col("batch").isin(protect)) if protect else df
        fold = (
            fold.groupBy(*keys)
            .agg(*[F.sum(c).cast("long").alias(c) for c in sums])
            .withColumn("batch", F.lit("base"))
        )
        return fold.unionByName(keep) if keep is not None else fold

    with maintenance_lease(spark, path, "compact_nb_index"):
        _staged_rewrite(
            spark,
            f"{path}/census",
            lambda df: _fold(df, ["source", "term"], ["n_st"])
            .repartition("term")
            .sortWithinPartitions("term", "source"),
        )
        _staged_rewrite(
            spark,
            f"{path}/src_stats",
            lambda df: _fold(df, ["source"], ["n_s", "n_docs_s"]),
        )
        # refresh the stored branch decision from the folded ledger
        # (the one maintenance op that already reads the full census;
        # appends leave it stale by design — see _write_nb_decision)
        from trade_data_collection_service_spark.ext.dedup import (
            _authoritative,
        )

        _write_nb_decision(
            spark,
            path,
            _authoritative(spark, f"{path}/census")
            .groupBy("source", "term")
            .agg(F.sum("n_st").cast("long").alias("n_st")),
        )


def nb_score_indexed(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    push_terms: bool = False,
    sparse: bool | None = None,
    tf3: DataFrame | None = None,
) -> DataFrame:
    """Score ``docs`` against a stored NB model — one tokenize pass
    over the scored batch, one (source, term) equi-join against the
    census at rest, one argmax; the training corpus text is never
    touched.  Output schema = :func:`source_nb` (doc_id,
    actual_source, pred_source, score, correct).

    The ledger partials combine at serve: census counts sum across
    batch partitions (disjoint doc sets → additive), src_stats sums
    per source, and the globals (n_docs, vocab size) derive from the
    combined partials (:func:`_nb_stats`) — a base-only read sums
    one partition each, so the stored-vs-appended distinction never
    reaches the scoring arithmetic.

    ``push_terms=True`` collects the scoring batch's DISTINCT terms
    to the driver and pushes them as an In-list into the term-sorted
    census scan feeding the JOIN (row-group pruning — the
    bm25_search_indexed serving shape).  Sound because unseen
    (source, term) pairs already score via the left-join coalesce.
    The vocab-size marginal still reads the full census (its one
    column, pruned) — the global V must not shrink to the batch's
    vocabulary.  Driver-bounded by the BATCH's vocabulary — use for
    small serving batches, never a whole corpus.

    ``sparse=None`` auto-picks the scoring branch from the decision
    STORED at maintenance time (``path/decision`` — a 1-row read, no
    census scan on the serve path; r14 review).  Pre-r14 layouts
    without the sidecar fall back to computing the density from the
    census (:func:`nb_auto_sparse`); after appends the stored
    decision may lag the ledger until the next compaction refreshes
    it — acceptable for a plan-shape heuristic whose two branches are
    bit-equal."""
    from trade_data_collection_service_spark.ext.dedup import (
        _authoritative,
    )

    census = (
        _authoritative(spark, f"{path}/census")
        .groupBy("source", "term")
        .agg(F.sum("n_st").cast("long").alias("n_st"))
    )
    if not push_terms:
        # lazy localCheckpoint (r14): _nb_score folds the model stats
        # into the plan via bounded driver reads (v_size, src_stats),
        # and the dense branch pivots the census — without this the
        # ledger read + census aggregation would re-run for each of
        # those consumers; with it the first consumer materializes
        # the (V×S)-bounded census once.  Skipped under push_terms,
        # whose whole point is pruning the census SCAN to the serving
        # batch's vocabulary instead of materializing all of it.
        census = census.localCheckpoint(eager=False)
    src_partials = (
        _authoritative(spark, f"{path}/src_stats")
        .groupBy("source")
        .agg(
            F.sum("n_s").cast("long").alias("n_s"),
            F.sum("n_docs_s").cast("long").alias("n_docs_s"),
        )
    )
    src_stats, vocab_v = _nb_stats(census, src_partials)
    if sparse is None:
        sparse = _read_nb_decision(spark, path)  # None -> fallback
    if push_terms:
        batch_terms = [
            r["term"]
            for r in with_tokens(docs)
            .select(F.explode("tokens").alias("term"))
            .distinct()
            .collect()
        ]
        census = census.filter(F.col("term").isin(batch_terms))
    # r15 shared-pass contract: a caller that already tokenized the
    # scored batch (the indexed/appended oracle entries tokenize ONCE
    # for build + serve) hands its nb_term_freqs frame in; scores
    # are identical — the default path tokenizes here.
    tf = tf3.select("doc_id", "term", "tf") if tf3 is not None else None
    return _nb_score(docs, census, src_stats, vocab_v, sparse=sparse, tf=tf)


def source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality triage: the corpus-curation dashboard that
    decides which SOURCES to deprioritize — mean quality score, mean
    length, and the in-length-band share, aggregated from the exact
    per-doc scorer (``quality_of``), so source-level numbers can
    never drift from document-level ones.

    Scale shape: the per-doc scorer is map-only column algebra; ONE
    dimension-sized groupBy(source) with decimal-summed scores (each
    already 6-dp-rounded) finishes the job."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = quality_of(docs).join(docs.select("doc_id", "source"), "doc_id")
    score_dec = F.col("quality_score").cast("decimal(18,6)")
    agg = q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(score_dec).alias("sum_score"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum(F.col("length_ok").cast("long")).alias("n_length_ok"),
    )
    return agg.select(
        "source",
        "n_docs",
        (F.col("sum_score").cast("double") / F.col("n_docs")).alias(
            "mean_quality"
        ),
        (F.col("sum_tokens").cast("double") / F.col("n_docs")).alias(
            "mean_tokens"
        ),
        (F.col("n_length_ok").cast("double") / F.col("n_docs")).alias(
            "share_length_ok"
        ),
    ).orderBy("source")


def ngram_topk(docs: DataFrame, n: int = 3, k: int = 50) -> DataFrame:
    """Corpus-wide top-k word n-grams by exact occurrence count (all
    occurrences, not per-doc distinct) — the phrase census a curation
    pipeline uses to spot boilerplate and build stop-phrase lists
    (the corpus-level companion to the per-doc ``repetition_of``).

    Per-doc n-grams are built map-side with array higher-order
    functions and exploded once; the count groupBy partial-aggregates
    before the shuffle (web boilerplate means huge map-side combine
    wins), and top-k is orderBy(count desc, ngram asc).limit(k) — a
    TakeOrderedAndProject, never a full sort.  Counts are exact
    integers; no float arithmetic anywhere."""
    t = F.col("tokens")
    grams = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        with_tokens(docs)
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


def write_bm25_index(docs: DataFrame, path: str) -> None:
    """Persist the sparse-retrieval index at rest — the Lucene-shaped
    sibling of ``pq.write_ivfpq_index`` for the BM25 side of the
    retrieval stack: ``{path}/postings`` (term, doc_id, tf) — the
    inverted index, ``{path}/dl`` (doc_id, dl) document lengths,
    ``{path}/df`` (term, df) per-batch document-frequency partials,
    and ``{path}/stats`` (one (n_docs, sum_dl) partial row per
    batch — avgdl is combined at serve).  Together these are
    exactly the censuses :func:`bm25_topk` computes from text, so a
    stored-index search is pytest-provably identical to the from-text
    scorer — and the corpus TEXT is never read again at serve time:
    per query the cost is the query terms' posting lists + broadcast
    scalars, independent of corpus width (the text column dominates
    the table's bytes).

    The postings table is written sorted by term so parquet row-group
    min/max statistics prune non-query terms at scan time (the poor
    man's term partition — term-hash bucketing is the scale-up when
    posting lists outgrow row groups).

    The corpus TEXT is scanned exactly ONCE (r10 review): df, dl, and
    stats are all marginals of the just-written postings table —
    dl(doc) = Σ_term tf (every doc has ≥ 1 token, the tokenizer emits
    [""] for empty text, so no doc vanishes from the marginal) — read
    BACK from parquet rather than re-derived through the text-scan
    lineage (the census-per-reference trap this round's review also
    caught in mixture_weights).

    LEDGER LAYOUT (r11): all four tables are ``partitionBy(batch)``
    with the base build owning ``batch=base`` — the same
    replay-idempotence ledger as the near-dup/IVF-PQ/vector indexes,
    so :func:`append_to_bm25_index` grows the index O(batch) and a
    crash-replayed append rewrites instead of corrupting.  df and
    stats are stored as PER-BATCH PARTIALS — (term, df) and
    (n_docs, sum_dl) rows — combined at serve time (tiny: query-term
    df rows + one stats row per batch); correct because appended
    batches hold NEW documents (doc_ingest dedups before indexing),
    making df and dl additive across batches."""
    from trade_data_collection_service_spark.ext.dedup import (
        _retire_stage,
        maintenance_lease,
    )

    spark = docs.sparkSession
    if docs.select("doc_id").isEmpty():
        raise ValueError(
            "write_bm25_index: docs is empty — a partitioned write of"
            " zero rows leaves no schema-bearing files, so every"
            " later read would die on schema inference"
        )
    with maintenance_lease(spark, path, "write_bm25_index"):
        # a fresh build supersedes any crashed-compaction stage; clear
        # them (marker-first) so a later recover cannot clobber the
        # new tables
        for t in BM25_TABLES:
            _retire_stage(spark, f"{path}/{t}.stage")

        def _write_base(df: DataFrame, table: str) -> None:
            # explicit STATIC overwrite: a rebuild must wipe stale
            # batch partitions whatever the caller's session sets
            # partitionOverwriteMode to (no component here sets it;
            # sources/tables.compact publishes by rename)
            (
                df.withColumn("batch", F.lit("base"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "static")
                .partitionBy("batch")
                .parquet(f"{path}/{table}")
            )

        tf = (
            with_tokens(docs)
            .select("doc_id", F.explode("tokens").alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        _write_base(
            tf.repartition("term").sortWithinPartitions("term", "doc_id"),
            "postings",
        )
        postings = spark.read.parquet(f"{path}/postings")
        _write_base(
            postings.groupBy("term").agg(
                F.countDistinct("doc_id").alias("df")
            ),
            "df",
        )
        _write_base(
            postings.groupBy("doc_id").agg(
                F.sum("tf").cast("long").alias("dl")
            ),
            "dl",
        )
        dl = spark.read.parquet(f"{path}/dl")
        _write_base(
            dl.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("dl").cast("long").alias("sum_dl"),
            ),
            "stats",
        )


BM25_TABLES = ("postings", "dl", "df", "stats")


def append_to_bm25_index(
    new_docs: DataFrame, path: str, batch_id: str | int | None = None
) -> None:
    """Grow a stored BM25 index incrementally — searchable-on-arrival
    for the SPARSE retrieval side (the Lucene segment-append analog;
    twin of ``pq.append_to_ivfpq_index`` and
    ``dedup.append_to_neardup_index``): tokenize ONLY the new batch
    and append its posting rows plus its df/dl/stats PARTIALS to the
    batch's own ledger partitions.  The existing index is never
    re-read or rewritten; per batch the cost is the batch's own
    token census — corpus-size independent.

    CONTRACT: appended documents must be NEW (not already indexed) —
    df and dl are additive across batches only for disjoint doc sets;
    doc_ingest guarantees this by near-dup-gating before the append.
    Replays of the SAME batch_id are idempotent (dynamic overwrite of
    the batch's partitions — the engine's idempotent-sink
    discipline); un-keyed appends (batch_id=None) land in a shared
    ``legacy`` partition and a replay would double-count — repair
    with :func:`compact_bm25_index`."""
    from trade_data_collection_service_spark.ext.dedup import (
        _recover_compaction,
        _require_ledger_layout,
        _validate_batch_id,
        maintenance_lease,
    )

    b = _validate_batch_id(batch_id)
    spark = new_docs.sparkSession
    with maintenance_lease(spark, path, "append_to_bm25_index"):
        for t in BM25_TABLES:
            _recover_compaction(spark, f"{path}/{t}")
            _require_ledger_layout(
                spark,
                f"{path}/{t}",
                "append_to_bm25_index",
                "write_bm25_index",
            )
        batch = b if b is not None else "legacy"
        tf = (
            with_tokens(new_docs)
            .select("doc_id", F.explode("tokens").alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
            .localCheckpoint(eager=False)
        )

        def _write(df: DataFrame, table: str) -> None:
            w = df.withColumn("batch", F.lit(batch)).write.partitionBy(
                "batch"
            )
            if batch_id is not None:
                (
                    w.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .parquet(f"{path}/{table}")
                )
            else:
                w.mode("append").parquet(f"{path}/{table}")

        _write(
            tf.repartition("term").sortWithinPartitions("term", "doc_id"),
            "postings",
        )
        _write(
            tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df")),
            "df",
        )
        dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
        _write(dl, "dl")
        _write(
            dl.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("dl").cast("long").alias("sum_dl"),
            ),
            "stats",
        )


def compact_bm25_index(
    spark: SparkSession,
    path: str,
    fold_batches: bool = False,
    protect_batches: tuple = (),
) -> None:
    """Compact/REPAIR the stored BM25 index — the ``OPTIMIZE FINAL``
    analog, sibling of ``compact_neardup_index``: collapse the exact
    duplicate posting rows an un-keyed append replay accumulates,
    rebuild the non-protected df/dl/stats partitions as MARGINALS of
    the compacted postings (the write_bm25_index discipline — so
    duplicated partials are recomputed, never summed), and (with
    ``fold_batches``) remap unprotected ledger partitions into
    ``base``.  ``protect_batches`` keep their partition identity and
    their own partial rows (a stream's current, still-replayable
    batch — its next keyed replay overwrites them wholesale).
    Postings are re-sorted by term at every rewrite so parquet
    row-group pruning survives many appends.  Crash safety is the
    shared stage-WAL
    (:func:`~trade_data_collection_service_spark.ext.dedup._staged_rewrite`);
    a crash between the four table rewrites leaves a state that still
    SERVES correctly (relabeled postings keep every row, and stale
    per-batch partials keep their correct sums) and re-triggers via
    maybe_compact's max-across-tables measure."""
    from trade_data_collection_service_spark.ext.dedup import (
        _staged_rewrite,
        maintenance_lease,
    )

    protect = [str(b) for b in protect_batches]

    def _split(df: DataFrame):
        if protect:
            return (
                df.filter(~F.col("batch").isin(protect)),
                df.filter(F.col("batch").isin(protect)),
            )
        return df, None

    def t_postings(df: DataFrame) -> DataFrame:
        fold, keep = _split(df)
        if fold_batches:
            fold = fold.withColumn("batch", F.lit("base"))
        # a replayed UN-KEYED append duplicates its rows exactly
        # ((term, doc_id, tf) copies in one partition) — distinct IS
        # the repair (r11 review: the docstring promised it; keyed
        # partitions are already exact by dynamic overwrite and pass
        # through distinct unchanged)
        fold = fold.distinct()
        out = fold.unionByName(keep) if keep is not None else fold
        return out.repartition("term").sortWithinPartitions(
            "term", "doc_id"
        )

    # df / dl / stats: the non-protected scope is REBUILT as marginals
    # of the just-compacted postings (the write_bm25_index discipline)
    # — so compaction repairs duplicated partials instead of summing
    # them; protected partitions keep their own rows (their next
    # keyed replay overwrites them wholesale anyway)
    def _from_postings(build):
        def t(df: DataFrame) -> DataFrame:
            _, keep = _split(df)
            src = spark.read.parquet(f"{path}/postings")
            if protect:
                src = src.filter(~F.col("batch").isin(protect))
            base = build(src)
            return base.unionByName(keep) if keep is not None else base

        return t

    with maintenance_lease(spark, path, "compact_bm25_index") as lease:
        _staged_rewrite(spark, f"{path}/postings", t_postings)
        lease.heartbeat()
        _staged_rewrite(
            spark,
            f"{path}/df",
            _from_postings(
                lambda src: src.groupBy("batch", "term").agg(
                    F.countDistinct("doc_id").alias("df")
                )
            ),
        )
        _staged_rewrite(
            spark,
            f"{path}/dl",
            _from_postings(
                lambda src: src.groupBy("batch", "doc_id").agg(
                    F.sum("tf").cast("long").alias("dl")
                )
            ),
        )
        _staged_rewrite(
            spark,
            f"{path}/stats",
            _from_postings(
                lambda src: src.groupBy("batch").agg(
                    F.countDistinct("doc_id").alias("n_docs"),
                    F.sum("tf").cast("long").alias("sum_dl"),
                )
            ),
        )


def _read_bm25_index(spark: SparkSession, path: str, vocab):
    """Serve-side reads of the stored BM25 index, shared by the
    single-query and multi-query fronts: crash-aware
    (``_SUCCESS``-marked compaction stages are authoritative), prunes
    postings and df to the query vocabulary at the scan, and combines
    the per-batch df/stats PARTIALS (query-term df rows + one stats
    row per batch — both tiny).  avgdl = Σ sum_dl / Σ n_docs rounded
    6 is exactly the from-text round(avg(dl), 6): integer sums are
    exact in a double."""
    from trade_data_collection_service_spark.ext.dedup import (
        _authoritative,
    )

    postings = _authoritative(spark, f"{path}/postings")
    if "batch" not in postings.columns:
        raise ValueError(
            f"the BM25 index at {path!r} uses the pre-ledger (flat)"
            " layout — rebuild it once with write_bm25_index to get"
            " the batch-partitioned tables this engine serves from"
        )
    postings = postings.filter(F.col("term").isin(*vocab)).select(
        "term", "doc_id", "tf"
    )
    dl = _authoritative(spark, f"{path}/dl").select("doc_id", "dl")
    df_t = (
        _authoritative(spark, f"{path}/df")
        .filter(F.col("term").isin(*vocab))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    stats = _authoritative(spark, f"{path}/stats").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.round(
            F.sum("sum_dl").cast("double") / F.sum("n_docs"), 6
        ).alias("avgdl"),
    )
    return postings, dl, df_t, stats


def bm25_search_indexed(
    spark: SparkSession,
    path: str,
    query: tuple[str, ...] = BM25_QUERY,
    k: int = 10,
) -> DataFrame:
    """Serve BM25 top-k from a STORED index (:func:`write_bm25_index`)
    — the retrieval deployment's steady-state path: filter the
    posting table to the query vocabulary (pushed to the parquet scan
    — `PushedFilters: In(term, …)`; row-group stats prune because
    postings are term-sorted at rest), join document lengths, apply
    the shared :func:`bm25_weight` formula with the broadcast df rows
    and the 1-row stats scalar, and take the top-k exactly like
    :func:`bm25_topk` (TakeOrderedAndProject; rank attached over the
    k-row result).  Identical results to the from-text scorer by
    construction (pytest-proven); the documents table is never
    touched."""
    postings, dl, df_t, stats = _read_bm25_index(spark, path, list(query))
    return _bm25_score_topk(postings, dl, df_t, stats, k)


def bm25_ranks_indexed_multi(
    spark: SparkSession,
    path: str,
    qterms: DataFrame,
    depth: int = 20,
    exclude_self: bool = False,
) -> DataFrame:
    """Batched BM25 retrieval from a STORED index
    (:func:`write_bm25_index`) — the multi-query serving front the
    indexed hybrid retriever composes (VERDICT r10 #1): ``qterms`` is
    a small (q_id, term) query table; per query the index contributes
    only the query terms' posting lists, never the corpus text.

    The distinct query vocabulary is collected to the driver (bounded
    by the query batch's own token count — the probe-id-list
    discipline of ``pq.ivfpq_search_indexed``) so the term filter is
    a LITERAL In-list pushed to the term-sorted parquet scan
    (row-group stats prune non-query terms at read time; a join-based
    filter would scan every posting row).  Scoring is the shared
    :func:`bm25_weight` over (q_id, doc_id) groups — identical math
    to the from-text scorer, so indexed sparse ranks are
    pytest-provably equal to :func:`~trade_data_collection_service_spark.ext.similarity.hybrid_rrf_topk`'s
    from-text sparse side.  ``exclude_self`` drops doc_id == q_id
    rows (query-by-document retrieval, where the query IS a corpus
    document and would otherwise match itself at rank 1).

    Output: (q_id, doc_id, r_s) with r_s the 1-based BM25 rank
    (score desc, doc_id tiebreak), r_s <= depth.  Ranking windows
    partition by q_id over depth-bounded candidate sets — each
    query's candidates, never the corpus, are the sort input."""
    vocab = [
        r["term"] for r in qterms.select("term").distinct().collect()
    ]
    postings, dl, df_t, stats = _read_bm25_index(spark, path, vocab)
    pairs = F.broadcast(qterms).join(postings, "term")
    if exclude_self:
        pairs = pairs.filter(F.col("doc_id") != F.col("q_id"))
    scored = (
        pairs.join(dl, "doc_id")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("w", bm25_weight())
        .groupBy("q_id", "doc_id")
        .agg(F.round(F.sum("w"), 6).alias("bm25"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("r_s", F.row_number().over(w).cast("long"))
        .filter(F.col("r_s") <= depth)
        .select("q_id", "doc_id", "r_s")
    )
