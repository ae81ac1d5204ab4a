"""Corpus-level TF-IDF — the classic relevance weight, engine-native.

Shapes (all hash aggregates / joins on uniform keys):

- term frequencies: one groupBy (doc, token) over the exploded
  tokens — map-side combinable;
- document frequencies: one groupBy (token) over the SAME distinct
  (doc, token) rows — no re-tokenization;
- doc lengths: re-aggregated from the tf rows (sum of counts), again
  avoiding a second pass over text;
- the corpus size N is a single count() reduced to a literal — the
  one driver-side scalar, standard for global normalizers.

idf = ln((N + 1) / (df + 1)) + 1 (smoothed, strictly positive).
Scores are rounded BEFORE ranking so the (score, token) order —
and therefore the top-k cut — is identical in any engine.

At 100 TB: vocabulary skew (stopwords appear in every doc) affects
only the (token)-keyed df aggregate, which is map-side combined to
one row per token per task before the exchange; no all-pairs
structure anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.functions.text import tokenize
from data_pipeline_childcare_spark.io import held, resilient_checkpoint, spread_partitions


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    ndigits: int = 6,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document:
    (id, tok, tfidf, rank)."""
    n_docs = docs.count()
    tf = (
        spread_partitions(docs, id_col)
        .select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("_c"))
    )
    doc_len = tf.groupBy(id_col).agg(F.sum("_c").alias("_n_toks"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("_df"))
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("_df") + 1.0)) + 1.0
    scored = (
        tf.join(doc_len, id_col)
        .join(dfreq, "tok")
        .select(
            id_col,
            "tok",
            F.round((F.col("_c") / F.col("_n_toks")) * idf, ndigits).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def unigram_logprob_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ndigits: int = 6,
) -> DataFrame:
    """Per-document average unigram log-probability →
    (id, n_tokens, avg_logprob) — the CCNet/RedPajama-style language-
    model quality proxy: documents whose tokens are improbable under
    the corpus unigram distribution (gibberish, boilerplate-free noise,
    wrong-language fragments) score low and are filter candidates.

    Same shapes as TF-IDF above: one token explode, one (token)
    frequency aggregate (map-side combined; stopword skew collapses to
    one row per token per task), a token-keyed join back, one per-doc
    aggregate. The corpus token total is a single-row broadcast.
    Self-scoring over the same corpus means no OOV smoothing is
    needed: every token has frequency ≥ 1.

    The per-doc log sum is pre-rounded before the division so the
    average is canonical regardless of partition summation order.
    """
    toks = spread_partitions(docs, id_col).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("_c"))
    total = freq.agg(F.sum("_c").alias("_total"))
    lp = (
        toks.join(freq, "tok")
        .join(F.broadcast(total))
        .select(id_col, F.log10(F.col("_c") / F.col("_total")).alias("_lp"))
    )
    return (
        lp.groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum("_lp"), ndigits).alias("_num"),
        )
        .select(
            id_col,
            "n_tokens",
            F.round(F.col("_num") / F.col("n_tokens"), ndigits).alias("avg_logprob"),
        )
    )


def dsir_logratio_weights(
    pool: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ndigits: int = 6,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): for every pool
    document, the average per-token log-likelihood ratio between a
    TARGET corpus LM and the POOL (background) LM →
    (id, n_tokens, dsir_weight). High weight = looks like the target
    distribution; resampling the pool by these weights steers a
    pretraining mix toward the target domain.

    Unigram LMs with Laplace smoothing over the UNION vocabulary:
    p(tok) = (c + 1) / (T + V), so target-OOV tokens are defined and
    both engines agree exactly. Shapes: one token explode per corpus,
    two (token)-keyed frequency aggregates (map-side combined), one
    token-keyed join back over pool tokens, one per-doc aggregate; the
    three scalars (V and the two totals) ride a single-row broadcast.
    The per-doc ratio sum is pre-rounded before the division so the
    average is canonical under any partition summation order.
    """
    pool_toks = spread_partitions(pool, id_col).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    target_toks = target.select(F.explode(tokenize(F.col(text_col))).alias("tok"))
    freq_p = pool_toks.groupBy("tok").agg(F.count("*").alias("_cp"))
    freq_t = target_toks.groupBy("tok").agg(F.count("*").alias("_ct"))
    vocab = (
        freq_p.select("tok").unionByName(freq_t.select("tok")).distinct()
        .agg(F.count("*").alias("_v"))
    )
    scalars = (
        freq_p.agg(F.sum("_cp").alias("_tp"))
        .crossJoin(freq_t.agg(F.sum("_ct").alias("_tt")))
        .crossJoin(vocab)
    )
    lr = (
        pool_toks.join(freq_p, "tok")
        .join(F.broadcast(freq_t), "tok", "left")
        .crossJoin(F.broadcast(scalars))
        .select(
            F.col(id_col),
            (
                F.log10((F.coalesce(F.col("_ct"), F.lit(0)) + 1) / (F.col("_tt") + F.col("_v")))
                - F.log10((F.col("_cp") + 1) / (F.col("_tp") + F.col("_v")))
            ).alias("_lr"),
        )
    )
    return (
        lr.groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum("_lr"), ndigits).alias("_num"),
        )
        .select(
            id_col,
            "n_tokens",
            F.round(F.col("_num") / F.col("n_tokens"), ndigits).alias("dsir_weight"),
        )
    )


def corpus_top_vocab(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 256,
) -> DataFrame:
    """Top-``vocab_size`` tokens by corpus frequency → (token, freq,
    rank). Ties break lexicographically so the cut is deterministic
    and engine-portable. One map-side-combined (token) aggregate over
    the exploded tokens, then a top-k; the ranked result is
    vocabulary-sized (thousands of rows), safe to broadcast downstream.

    The top-k cut is ``orderBy().limit(V)`` — Spark plans it as
    TakeOrderedAndProject, a per-partition bounded heap merged at the
    driver, i.e. the two-phase distributed cut. At 100 TB of noisy
    multilingual text the distinct-token table is easily 1e8 rows; an
    unpartitioned ``row_number`` window over it would funnel all of
    them through ONE task ("Moving all data to a single partition"),
    so no WindowExec appears anywhere in this plan: rank over the V
    surviving rows is a broadcast self-join count of strictly-better
    rows (V×V comparisons, trivially parallel, V ≤ a few thousand)."""
    toks = spread_partitions(docs, id_col).select(
        F.explode(tokenize(F.col(text_col))).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count("*").cast("long").alias("freq"))
    top = freq.orderBy(F.desc("freq"), F.asc("token")).limit(vocab_size)
    better = top.select(F.col("token").alias("_t2"), F.col("freq").alias("_f2"))
    return (
        top.join(
            F.broadcast(better),
            (F.col("_f2") > F.col("freq"))
            | ((F.col("_f2") == F.col("freq")) & (F.col("_t2") < F.col("token"))),
            "left",
        )
        .groupBy("token", "freq")
        .agg((F.count("_t2") + F.lit(1)).cast("long").alias("rank"))
        .select("token", "freq", "rank")
    )


def doc_oov_rates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 256,
    ndigits: int = 6,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus'
    top-``vocab_size`` vocabulary — the tokenizer-coverage signal a
    training pipeline checks before committing to a vocab: documents
    with high OOV under the candidate vocabulary are the ones a
    subword tokenizer will shred into long byte sequences.

    Shape: two corpus passes — a vocabulary pass (token explode →
    (token) aggregate → top-V cut) and a scoring pass (token explode →
    broadcast join against the vocab → per-doc aggregate). The two
    passes are inherent to the algorithm (the vocabulary must be
    complete before any document can be scored); at scale, cache the
    tokenized projection or reuse a vocabulary computed by an earlier
    pipeline stage to pay tokenization once. The vocab is
    top-V-bounded, so the scoring join is ALWAYS a broadcast — the
    only corpus-side shuffle is the per-doc count aggregate.

    Output: (id, n_tokens, n_oov, oov_rate), one row per document
    (zero-token documents report rate 0.0).
    """
    vocab = corpus_top_vocab(docs, id_col, text_col, vocab_size).select(
        "token", F.lit(True).alias("_in_vocab")
    )
    toks = spread_partitions(docs, id_col).select(
        F.col(id_col), F.explode_outer(tokenize(F.col(text_col))).alias("token")
    )
    flagged = toks.join(F.broadcast(vocab), "token", "left")
    n_tok = F.count(F.col("token")).cast("long")
    n_oov = F.sum(
        F.when(F.col("token").isNotNull() & F.col("_in_vocab").isNull(), 1).otherwise(0)
    ).cast("long")
    return flagged.groupBy(id_col).agg(
        n_tok.alias("n_tokens"),
        n_oov.alias("n_oov"),
        F.round(
            F.when(n_tok > 0, n_oov / n_tok).otherwise(F.lit(0.0)), ndigits
        ).alias("oov_rate"),
    )


def bigram_logprob_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
    ndigits: int = 6,
) -> DataFrame:
    """Per-document average INTERPOLATED-BIGRAM log-probability →
    (id, n_bigrams, avg_logprob) — the engine-scale shape of CCNet's
    KenLM perplexity filter: a Jelinek-Mercer-smoothed corpus bigram
    model, ``P(w|p) = λ·c(p,w)/c(p) + (1−λ)·c(w)/N``, scored over
    every bigram position. Gibberish and wrong-register text scores
    low even when its individual tokens are common — the signal the
    unigram proxy (:func:`unigram_logprob_scores`) cannot see.

    Shapes (round-7 single-pass form): ONE (token, next-token)
    explode feeds ONE corpus-keyed aggregate — the distinct-bigram
    count table — and the context counts, unigram counts and corpus
    total all DERIVE from that table (sums over distinct-bigram rows,
    vocab²-bounded ≪ corpus positions), sharing its exchange via
    ReusedExchange instead of re-tokenizing the corpus per aggregate
    (the previous three-aggregate form scanned and tokenized the
    corpus once per count family — 4 corpus passes; this is 2: the
    count pass and the per-doc scoring pass). Joins back are keyed on
    (prev, w)/(w); the corpus total is a one-row broadcast. Hot
    stopword contexts are the skew to watch at 100 TB
    (``operators/skew`` salting applies). Documents with fewer than
    two tokens have no bigram positions and emit no row, mirroring
    the unigram scorer's empty-doc behavior (their tokens still count
    toward the unigram/total masses, as before — the pair explode
    emits a null-next row per final token).

    λ = 0.75 keeps the mixture arithmetic exact in binary floating
    point; the per-doc log sum is pre-rounded before the division so
    the average is canonical under any partition order.
    """
    spread = spread_partitions(docs, id_col)
    toks_arr = spread.select(F.col(id_col), tokenize(F.col(text_col)).alias("_ts"))

    def pair_at(t, i):
        return F.struct(
            t.alias("_t"), F.try_element_at(F.col("_ts"), i + F.lit(2)).alias("_next")
        )

    ex = toks_arr.select(
        F.col(id_col), F.explode(F.transform(F.col("_ts"), pair_at)).alias("_pr")
    ).select(F.col(id_col), F.col("_pr._t").alias("_t"), F.col("_pr._next").alias("_next"))
    # the ONE corpus-keyed aggregate; every other count is a sum over
    # its (distinct-bigram-sized) output. Lazy checkpoint: four
    # consumers (bigram/context/unigram/total) would otherwise each
    # re-run the corpus tokenize+explode (measured: 5 parquet scans
    # in the uncut plan — AQE does not surface cross-consumer exchange
    # reuse here), and the materialized relation is vocab²-bounded,
    # far below corpus size. Checkpoint instead of persist (r13): no
    # CacheManager registration, so a later identical invocation
    # recomputes from its inputs (no cross-run reuse); GC frees it.
    cnt = resilient_checkpoint(ex.groupBy("_t", "_next").agg(F.count("*").alias("_c")))
    bg_freq = cnt.filter(F.col("_next").isNotNull()).select(
        F.col("_t").alias("_prev"), F.col("_next").alias("_w"), F.col("_c").alias("_cpw")
    )
    ctx_freq = (
        cnt.filter(F.col("_next").isNotNull())
        .groupBy("_t")
        .agg(F.sum("_c").alias("_cp"))
        .select(F.col("_t").alias("_prev"), "_cp")
    )
    uni = cnt.groupBy("_t").agg(F.sum("_c").alias("_cw"))
    total = cnt.agg(F.sum("_c").alias("_n"))
    bigr = ex.filter(F.col("_next").isNotNull()).select(
        F.col(id_col), F.col("_t").alias("_prev"), F.col("_next").alias("_w")
    )
    lp = (
        bigr.join(bg_freq, ["_prev", "_w"])
        .join(ctx_freq, "_prev")
        .join(uni, bigr["_w"] == uni["_t"])
        .join(F.broadcast(total))
        .select(
            F.col(id_col),
            F.log10(
                F.lit(lam) * (F.col("_cpw") / F.col("_cp"))
                + F.lit(1.0 - lam) * (F.col("_cw") / F.col("_n"))
            ).alias("_lp"),
        )
    )
    return (
        lp.groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum("_lp"), ndigits).alias("_num"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round(F.col("_num") / F.col("n_bigrams"), ndigits).alias("avg_logprob"),
        )
    )


def trigram_backoff_scores(
    docs: DataFrame,
    train_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
    oov_count: float = 0.5,
    ndigits: int = 6,
) -> DataFrame:
    """Per-document average TRIGRAM STUPID-BACKOFF log-score →
    (id, n_trigrams, avg_logprob) — Brants et al.'s "Stupid Backoff"
    (Large Language Models in Machine Translation, EMNLP 2007), the
    counts-only scoring rule production n-gram LMs use at corpus
    scale because it needs no discount fitting:

        S(w3 | w1 w2) = c(w1 w2 w3) / c(w1 w2)      if the trigram
                                                     was seen in train
                      = α · c(w2 w3) / c(w2)         else if the bigram
                                                     was seen
                      = α² · c(w3) / N               else (OOV words
                                                     take a half-count
                                                     ``oov_count`` so
                                                     the log is finite)

    Unlike :func:`bigram_logprob_scores` (which interpolates and can
    self-score), backoff is only meaningful when scoring text the
    model did NOT memorize — callers pass a ``train_docs`` subset
    (e.g. ``hash_sample``) and score the full corpus; held-out
    documents exercise the backoff tiers.

    Shapes: one trigram explode over the scored corpus; three keyed
    count aggregates over the train corpus (trigram, bigram, unigram
    — all map-side combined; the bigram table serves both the w1w2
    context and the w2w3 backoff via two keyed joins); five left
    joins back on uniform n-gram keys; one per-doc aggregate. The
    corpus total N is a one-row broadcast. No all-pairs structure;
    stopword-context skew is bounded by the vocab-keyed aggregates
    exactly as in tf-idf above. Documents with fewer than three
    tokens emit no row.

    The per-doc log sum is pre-rounded before the division so the
    average is canonical under any partition order (same discipline
    as the bigram scorer).
    """
    from data_pipeline_childcare_spark.functions.text import token_count, word_ngrams

    # --- train-side count tables (vocab-sized, keyed aggregates) ---
    # docs shorter than n tokens have no order-n positions (word_ngrams
    # degrades to a whole-text shingle there, which is NOT an n-gram
    # count), so each table filters to docs long enough for its order
    train = spread_partitions(train_docs, id_col)
    tri_c = (
        train.filter(token_count(F.col(text_col)) >= 3)
        .select(F.explode(word_ngrams(F.col(text_col), 3)).alias("_tg"))
        .groupBy("_tg")
        .agg(F.count("*").alias("_c3"))
    )
    bi_c = (
        train.filter(token_count(F.col(text_col)) >= 2)
        .select(F.explode(word_ngrams(F.col(text_col), 2)).alias("_bg"))
        .groupBy("_bg")
        .agg(F.count("*").alias("_c2"))
    )
    uni_c = (
        train.select(F.explode(tokenize(F.col(text_col))).alias("_t"))
        .groupBy("_t")
        .agg(F.count("*").alias("_c1"))
    )
    total = uni_c.agg(F.sum("_c1").alias("_n"))

    # --- scored-corpus trigram positions ---
    pos = (
        spread_partitions(docs, id_col)
        .filter(token_count(F.col(text_col)) >= 3)
        .select(
            F.col(id_col), F.explode(word_ngrams(F.col(text_col), 3)).alias("_tg")
        )
        .select(
            F.col(id_col),
            "_tg",
            F.split(F.col("_tg"), " ").alias("_parts"),
        )
        .select(
            F.col(id_col),
            "_tg",
            F.concat_ws(" ", F.col("_parts")[0], F.col("_parts")[1]).alias("_ctx"),
            F.concat_ws(" ", F.col("_parts")[1], F.col("_parts")[2]).alias("_bg2"),
            F.col("_parts")[1].alias("_w2"),
            F.col("_parts")[2].alias("_w3"),
        )
    )

    ctx_c = bi_c.withColumnRenamed("_bg", "_ctx").withColumnRenamed("_c2", "_cctx")
    bg2_c = bi_c.withColumnRenamed("_bg", "_bg2").withColumnRenamed("_c2", "_cbg2")
    w2_c = uni_c.withColumnRenamed("_t", "_w2").withColumnRenamed("_c1", "_cw2")
    w3_c = uni_c.withColumnRenamed("_t", "_w3").withColumnRenamed("_c1", "_cw3")

    score = (
        F.when(
            F.col("_c3").isNotNull(), F.col("_c3") / F.col("_cctx")
        )
        .when(
            F.col("_cbg2").isNotNull(),
            F.lit(alpha) * (F.col("_cbg2") / F.col("_cw2")),
        )
        .otherwise(
            F.lit(alpha)
            * F.lit(alpha)
            * (F.coalesce(F.col("_cw3"), F.lit(oov_count)) / F.col("_n"))
        )
    )
    lp = (
        pos.join(tri_c, "_tg", "left")
        .join(ctx_c, "_ctx", "left")
        .join(bg2_c, "_bg2", "left")
        .join(w2_c, "_w2", "left")
        .join(w3_c, "_w3", "left")
        .join(F.broadcast(total))
        .select(F.col(id_col), F.log10(score).alias("_lp"))
    )
    return (
        lp.groupBy(id_col)
        .agg(
            F.count("*").alias("n_trigrams"),
            F.round(F.sum("_lp"), ndigits).alias("_num"),
        )
        .select(
            id_col,
            "n_trigrams",
            F.round(F.col("_num") / F.col("n_trigrams"), ndigits).alias("avg_logprob"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    max_df: int | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Corpus-scale Okapi BM25 retrieval → (query_id, doc_id, rank,
    score): the full-text search primitive under every lexical
    retrieval stack (and the corpus-scale generalization of the
    cap-bounded ``plans/retrieval.bm25_rerank_scorer``, which scores
    ≤100 candidates per request — this scores the whole corpus per
    query through an inverted index).

        score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        idf(t)      = ln((N − df + 0.5) / (df + 0.5) + 1)   (Lucene form,
                                                             always > 0)

    Query terms are DISTINCT per query (qtf saturation at 1 — the
    common engine simplification). Scores are rounded BEFORE the
    rank window so the top-k cut and tie-breaks (score desc, doc_id)
    are identical in any engine.

    Index: the postings ``(_t, id, _tf, _dl, _df, _n, _avgdl)``
    (:func:`_bm25_postings`) are built once per ``docs`` handle and
    ``(id_col, text_col)`` and held on it (:func:`io.held`); every
    call probes them. A held index is a snapshot of the handle's
    inputs at its first build — pass a new handle for changed data.
    ``k``, ``k1``, ``b``, ``ndigits`` and ``max_df`` are probe-time.

    Probe: the query-plan-sized term set is broadcast against the
    postings, then one (query, doc) aggregate and the rank window.
    Stopword terms are the skew, exactly where classic search engines
    stop-list: ``max_df`` drops terms in more than that many documents
    (with Lucene-idf those terms contribute least per posting and cost
    most to join).
    """
    postings = held(
        docs, ("bm25_postings", id_col, text_col),
        lambda: _bm25_postings(docs, id_col, text_col),
    )
    if max_df is not None:
        postings = postings.filter(F.col("_df") <= max_df)
    qterms = (
        spread_partitions(queries, qid_col)
        .select(F.col(qid_col), F.explode(tokenize(F.col(qtext_col))).alias("_t"))
        .distinct()
    )
    idf = F.log(
        (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
        + F.lit(1.0)
    )
    term_score = idf * (F.col("_tf") * F.lit(k1 + 1.0)) / (
        F.col("_tf")
        + F.lit(k1) * (F.lit(1.0 - b) + (F.lit(b) * F.col("_dl")) / F.col("_avgdl"))
    )
    scored = (
        postings.join(F.broadcast(qterms), "_t")
        .groupBy(qid_col, id_col)
        .agg(F.round(F.sum(term_score), ndigits).alias("score"))
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "rank", "score")
    )


def _bm25_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The BM25 inverted index, one row per (term, doc): ``(_t, id,
    _tf, _dl, _df, _n, _avgdl)``, materialized once through
    :func:`io.resilient_checkpoint`. One tokenize pass → (doc, term) tf
    aggregate (map-side combined); doc lengths re-aggregated from the
    tf rows; term df from the SAME rows; N and avgdl as one row (avgdl
    an exact integer-sum / count division, so the float is
    bit-identical across engines). A NULL id counts toward df, N and
    avgdl but is never scored (the id equi-join drops it); rows sharing
    an id are one document; a doc without tokens is not a document."""
    toks = spread_partitions(docs, id_col).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("_t")
    )
    tf = toks.groupBy(id_col, "_t").agg(F.count("*").alias("_tf"))
    dl = tf.groupBy(id_col).agg(F.sum("_tf").alias("_dl"))
    stats = dl.agg(
        F.count("*").alias("_n"), F.sum("_dl").alias("_sumdl")
    ).select("_n", (F.col("_sumdl") / F.col("_n")).alias("_avgdl"))
    dfreq = tf.groupBy("_t").agg(F.count("*").alias("_df"))
    return resilient_checkpoint(
        tf.join(dl, id_col)
        .join(dfreq, "_t")
        .join(F.broadcast(stats))
        .select("_t", id_col, "_tf", "_dl", "_df", "_n", "_avgdl")
    )


def perplexity_buckets(
    scored: DataFrame,
    group_col: str = "source",
    score_col: str = "avg_logprob",
    id_col: str = "doc_id",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al. 2020):
    within each domain (``group_col``), rank documents by LM score
    (higher avg log-prob = lower perplexity = cleaner text) and split
    into ``n_buckets`` equal-depth buckets with ``ntile``. CCNet keeps
    head+middle as training data and drops (or down-weights) the
    tail; emitting the bucket as a column leaves that policy to the
    caller.

    Per-domain ntile is ONE window over a (group)-keyed exchange —
    the domain key is the natural partition (CCNet buckets per
    language/snapshot) and domain cardinality bounds skew. The
    (score DESC, id) order is total, so bucket boundaries are
    deterministic under any physical partitioning.
    """
    w = Window.partitionBy(group_col).orderBy(F.desc(score_col), id_col)
    bucket = F.ntile(n_buckets).over(w)
    name = (
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == n_buckets, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return scored.withColumn("bucket", bucket).withColumn("bucket_name", name)


def phrase_search(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional-index phrase search (the classic IR positional
    intersection — Manning/Raghavan/Schütze IIR §2.4): exact
    consecutive-token match of ``phrase`` → (doc_id, n_matches,
    first_pos), 1-indexed positions, one row per matching document.

    Plan shape: ONE posexplode pass builds the positional postings;
    the filter to the phrase's own terms happens before any join, so
    at 100 TB each join input is a single term's postings list (the
    selectivity a real positional index gets from its dictionary),
    and the n−1 joins are equi-joins on (doc, adjusted position) —
    co-partitioned after the first shuffle, no theta joins, no UDFs.
    Tokenization is the engine-wide whitespace tokenizer."""
    from ..functions.text import tokenize

    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    postings = docs.select(
        F.col(id_col),
        F.posexplode(tokenize(F.col(text_col))).alias("_p0", "_tok"),
    ).select(id_col, (F.col("_p0") + 1).alias("pos"), "_tok")
    cur = postings.filter(F.col("_tok") == terms[0]).select(id_col, "pos")
    for i, t in enumerate(terms[1:], start=1):
        nxt = postings.filter(F.col("_tok") == t).select(
            F.col(id_col).alias("_id2"), (F.col("pos") - i).alias("_pm")
        )
        cur = cur.join(
            nxt,
            on=(F.col("pos") == F.col("_pm")) & (F.col(id_col) == F.col("_id2")),
        ).select(id_col, "pos")
    return (
        cur.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.min("pos").cast("long").alias("first_pos"),
        )
    )


def phrase_search_sql(phrase: str, table: str = "documents") -> str:
    """DuckDB twin of :func:`phrase_search`: same tokenizer spelling,
    same 1-indexed positional intersection."""
    terms = [t for t in phrase.lower().split() if t]
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    joins = "".join(
        f"""
            JOIN p t{i} ON t{i}.doc_id = t0.doc_id
                       AND t{i}.tok = '{t}'
                       AND t{i}.pos = t0.pos + {i}"""
        for i, t in enumerate(terms[1:], start=1)
    )
    return f"""
        WITH p AS (
            SELECT doc_id, unnest({toks}) AS tok,
                   unnest(range(1, len({toks}) + 1)) AS pos
            FROM {table}
        )
        SELECT t0.doc_id,
               CAST(count(*) AS BIGINT) AS n_matches,
               CAST(min(t0.pos) AS BIGINT) AS first_pos
        FROM p t0{joins}
        WHERE t0.tok = '{terms[0]}'
        GROUP BY t0.doc_id
    """
