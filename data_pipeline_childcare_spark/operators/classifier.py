"""Linear text-classifier INFERENCE — applying a trained quality /
domain / toxicity filter to a corpus, the way production pipelines
apply fastText or logistic-regression models trained offline (e.g.
the GPT-3/LLaMA "looks like Wikipedia/books" quality classifiers).

The model is data, not code: a (token → weight) map plus a bias.
Scoring is a bag-of-words dot product through a sigmoid —
``score = σ(bias + Σ_tok w[tok]·count(tok))`` — which at engine
scale is one token explode, one broadcast join against the weight
dim, and one per-doc aggregate. No UDF: the sigmoid is column math.

Training stays out of scope by design (the reference pipelines apply
hosted/offline models; weight fitting is an offline concern) — but
:func:`centroid_weights` derives an honest lightweight model from
labeled example documents (difference of class mean token rates),
so the end-to-end train-apply loop is demonstrable without any ML
library.

Determinism: per-doc dot products sum integer counts × rounded
weights, pre-rounded before the sigmoid so any engine replays the
same scores (same discipline as the LM scorers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.functions.text import tokenize
from data_pipeline_childcare_spark.io import resilient_checkpoint, spread_partitions


def linear_text_scores(
    docs: DataFrame,
    weights: dict[str, float],
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    ndigits: int = 6,
) -> DataFrame:
    """Apply a linear bag-of-words model → (id, n_hits, logit, score,
    positive). ``weights`` is the trained model (token → weight);
    tokens outside it contribute nothing. Every document gets a row
    (zero-hit docs score σ(bias)).

    Scale shape: the weight dim is vocabulary-sized → broadcast; one
    explode + one per-doc aggregate; the model never shuffles with
    the corpus.
    """
    spark = docs.sparkSession
    wdf = F.broadcast(
        spark.createDataFrame(
            [(t, round(float(w), ndigits)) for t, w in sorted(weights.items())],
            "tok string, w double",
        )
    )
    toks = spread_partitions(docs, id_col).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    dots = (
        toks.join(wdf, "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_hits"),
            F.round(F.sum("w"), ndigits).alias("_dot"),
        )
    )
    base = docs.select(id_col).join(dots, id_col, "left")
    logit = F.round(F.lit(float(bias)) + F.coalesce(F.col("_dot"), F.lit(0.0)), ndigits)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), ndigits)
    return base.select(
        id_col,
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
        logit.alias("logit"),
        score.alias("score"),
        (score >= threshold).alias("positive"),
    )


def centroid_weights(
    examples: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    positive_label: str = "pos",
    ndigits: int = 6,
) -> tuple[dict[str, float], float]:
    """Derive a difference-of-centroids linear model from labeled
    example documents: ``w[tok] = rate(tok | pos) − rate(tok | neg)``
    with rates = token count / class token total, scaled to unit-ish
    magnitude; bias = 0. Driver-side (the example set is model-sized
    by contract, like the reference's few-shot inputs) — the OUTPUT
    is what runs distributed through :func:`linear_text_scores`."""
    # model-sized by contract: the collect is the MODEL leaving the
    # cluster, not a data path — same loud-failure discipline as the
    # retrieval task-list guard (a corpus passed as `examples` must
    # fail fast, not silently pull itself onto the driver)
    _MAX_MODEL_ROWS = 200_000
    rows = (
        examples.select(
            (F.col(label_col) == positive_label).alias("_pos"),
            F.explode(tokenize(F.col(text_col))).alias("tok"),
        )
        .groupBy("_pos", "tok")
        .agg(F.count("*").alias("c"))
        .limit(_MAX_MODEL_ROWS + 1)
        .collect()
    )
    if len(rows) > _MAX_MODEL_ROWS:
        raise ValueError(
            f"examples vocabulary exceeds {_MAX_MODEL_ROWS} rows — this "
            "argument is a model-sized labeled set, not a corpus"
        )
    totals = {True: 0, False: 0}
    for r in rows:
        totals[r["_pos"]] += r["c"]
    weights: dict[str, float] = {}
    for r in rows:
        rate = r["c"] / max(totals[r["_pos"]], 1)
        weights[r["tok"]] = round(
            weights.get(r["tok"], 0.0) + (rate if r["_pos"] else -rate), ndigits
        )
    return {t: w for t, w in weights.items() if w != 0.0}, 0.0


def train_logreg_weights(
    examples: DataFrame,
    label_col: str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_iters: int = 3,
    lr: float = 0.5,
    vocab_size: int = 64,
    ndigits: int = 6,
) -> DataFrame:
    """Train the linear bag-of-words filter IN-ENGINE: full-batch
    logistic-regression gradient descent as pure DataFrame ops — the
    missing train side of :func:`linear_text_scores` (the apply side),
    so the complete fastText-style quality-filter loop runs
    distributed with no ML library.

    Every iteration is: per-doc logit (features × broadcast weights,
    one keyed aggregate) → sigmoid → error → per-token gradient (one
    keyed aggregate over the feature rows) → weight update (model-
    sized join). Features are (doc, token, count) rows restricted to
    the corpus top-``vocab_size`` tokens, so the weight frame is
    MODEL-sized and broadcasts; the corpus-sized feature frame is
    computed once and reused every iteration.

    Determinism (SQL-twin discipline): logits, probabilities and
    errors are pre-rounded to ``ndigits`` and gradients to 8 digits
    before every downstream use, so DuckDB replays the identical
    trajectory; ties in the vocab cut break on (count DESC, token
    ASC). The feature frame and each iteration's weight frame are
    lazily checkpointed (:func:`io.resilient_checkpoint`; the BPE
    lineage discipline).

    Returns (token, weight, rank) for the vocab plus one
    ``__bias__`` row (rank 0); rank orders weights DESC then token.
    """
    from pyspark.sql import Window as W

    y = F.col(label_col).cast("double")
    toks = spread_partitions(examples, id_col).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.desc("_c"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok")
    )
    feats = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy(id_col, "tok")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    feats = resilient_checkpoint(feats)
    labels = examples.select(F.col(id_col), y.alias("_y"))
    n_docs = examples.count()  # scalar, model metadata

    weights = vocab.select("tok", F.lit(0.0).alias("w"))
    bias = 0.0
    for _ in range(n_iters):
        dots = (
            feats.join(F.broadcast(weights), "tok")
            .groupBy(id_col)
            .agg(F.round(F.sum(F.col("cnt") * F.col("w")), ndigits).alias("_dot"))
        )
        logit = F.round(F.lit(bias) + F.coalesce(F.col("_dot"), F.lit(0.0)), ndigits)
        p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), ndigits)
        errs = (
            labels.join(dots, id_col, "left")
            .select(F.col(id_col), F.round(p - F.col("_y"), ndigits).alias("_err"))
        )
        grads = (
            feats.join(errs, id_col)
            .groupBy("tok")
            .agg(
                F.round(F.sum(F.col("cnt") * F.col("_err")) / n_docs, 8).alias("_g")
            )
        )
        weights = (
            weights.join(grads, "tok", "left")
            .select(
                "tok",
                F.round(
                    F.col("w") - F.lit(lr) * F.coalesce(F.col("_g"), F.lit(0.0)),
                    ndigits,
                ).alias("w"),
            )
        )
        weights = resilient_checkpoint(weights)
        # bias gradient: mean error — one scalar per iteration, the
        # same guarded-model-metadata contract as n_docs
        gb = errs.agg(F.round(F.sum("_err") / n_docs, 8).alias("g")).collect()[0]["g"]
        bias = round(bias - lr * (gb or 0.0), ndigits)

    out = weights.unionByName(
        examples.sparkSession.createDataFrame([("__bias__", bias)], "tok string, w double")
    )
    rank = F.when(F.col("tok") == "__bias__", F.lit(0)).otherwise(
        F.row_number().over(
            W.partitionBy(F.col("tok") == "__bias__").orderBy(F.desc("w"), F.asc("tok"))
        )
    )
    return out.select(
        F.col("tok").alias("token"),
        F.col("w").alias("weight"),
        rank.cast("int").alias("rank"),
    )
