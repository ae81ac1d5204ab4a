"""Distributed BPE merge learning — training a byte-pair-encoding
tokenizer ON the corpus (Sennrich et al. 2016), the step every
pretraining pipeline runs before tokenization, expressed Spark-first.

The crucial scale property of classic BPE: after ONE corpus pass
(the word-frequency aggregate), every merge round operates on the
WORD VOCABULARY weighted by frequency — bounded state, never the
corpus again. Each round is: adjacent-pair explode over the vocab →
one map-side-combined (pair) aggregate → a TakeOrderedAndProject
argmax (one row, broadcast) → a pure-projection merge apply. k
merges = k small keyed shuffles over vocabulary-sized data.

Representation: a word's symbol sequence is stored as
``\\x01s1 \\x01s2 ...`` — every symbol prefixed by a sentinel and
joined by single spaces. That makes the merge a plain string
``replace``: the pattern ``\\x01a \\x01b`` can never match inside a
longer symbol (the sentinel anchors symbol starts), and replace's
left-to-right non-overlapping semantics are exactly BPE's greedy
merge order (``a a a`` → ``aa a``). Both Spark and DuckDB implement
replace identically, which is what makes the whole training loop
hash-oracle-checkable.

Determinism: pair counts are integers; the argmax tie-breaks on
(count DESC, pair ASC) in binary collation — identical in any
engine. No end-of-word marker is used (a knob real tokenizers vary;
adding ``</w>`` is one concat away).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.functions.text import tokenize
from data_pipeline_childcare_spark.io import resilient_checkpoint, spread_partitions

MARKER = "\x01"


def _initial_vocab(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(freq, s) — word frequencies with sentinel-prefixed character
    symbol sequences. The ONLY corpus-sized pass in BPE training."""
    words = (
        spread_partitions(docs, id_col)
        # a corpus token CONTAINING the sentinel would corrupt symbol
        # boundaries — strip it (a 100 TB crawl contains every byte)
        .select(F.explode(tokenize(F.col(text_col))).alias("_raw"))
        .select(F.replace(F.col("_raw"), F.lit(MARKER), F.lit("")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    symseq = F.array_join(
        F.transform(F.split(F.col("w"), ""), lambda c: F.concat(F.lit(MARKER), c)),
        " ",
    )
    return words.select("freq", symseq.alias("s"))


def _adjacent_pairs(s):
    syms = F.split(s, " ")
    n = F.size(syms)
    return F.zip_with(
        F.slice(syms, 1, n - 1),
        F.slice(syms, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def learn_bpe_merges(
    docs: DataFrame,
    n_merges: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Learn the top ``n_merges`` BPE merges over the corpus →
    (round, left, right, merged, pair_count), one row per merge in
    learning order (the merge TABLE a tokenizer ships). Unrolled-
    iteration discipline (kmeans/MMR style) so a SQL twin replays the
    identical trajectory.

    The vocab state and the one-row argmax are eagerly checkpointed
    (:func:`io.resilient_checkpoint`) each round — without the cut,
    round k's lineage re-derives rounds 1..k−1 (O(k²) work, and
    Catalyst re-analyzes the deepening tree per round: un-checkpointed
    k=20 did not finish in 9 minutes where checkpointed k=20 runs in
    seconds)."""
    state = _initial_vocab(docs, id_col, text_col)
    bests = []
    for rnd in range(1, n_merges + 1):
        counts = (
            state.select("freq", F.explode(_adjacent_pairs(F.col("s"))).alias("p"))
            .groupBy("p")
            .agg(F.sum("freq").alias("c"))
        )
        best = (
            counts.orderBy(F.desc("c"), F.asc("p"))
            .limit(1)
            .select(F.col("p").alias("_bp"), F.col("c").alias("_bc"))
        )
        best = resilient_checkpoint(best, eager=True)
        bests.append(
            best.select(
                F.lit(rnd).cast("int").alias("round"),
                F.replace(
                    F.split(F.col("_bp"), " ").getItem(0), F.lit(MARKER), F.lit("")
                ).alias("left"),
                F.replace(
                    F.split(F.col("_bp"), " ").getItem(1), F.lit(MARKER), F.lit("")
                ).alias("right"),
                F.replace(
                    F.replace(F.col("_bp"), F.lit(" "), F.lit("")),
                    F.lit(MARKER),
                    F.lit(""),
                ).alias("merged"),
                F.col("_bc").alias("pair_count"),
            )
        )
        merged_sym = F.replace(F.col("_bp"), F.lit(" " + MARKER), F.lit(""))
        state = (
            state.crossJoin(F.broadcast(best))
            .select("freq", F.replace(F.col("s"), F.col("_bp"), merged_sym).alias("s"))
        )
        state = resilient_checkpoint(state, eager=True)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out


def bpe_segment_counts(
    docs: DataFrame,
    n_merges: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply the learned merges back to the corpus → per-document
    symbol counts (id, n_words, n_symbols) — the compression
    measurement a tokenizer-training run reports. The final vocab
    state (word → merged symbol sequence) comes free from the
    training chain; application is ONE corpus token explode joined
    to it on the word key."""
    state = _initial_vocab(docs, id_col, text_col)
    for _ in range(n_merges):
        counts = (
            state.select("freq", F.explode(_adjacent_pairs(F.col("s"))).alias("p"))
            .groupBy("p")
            .agg(F.sum("freq").alias("c"))
        )
        best = (
            counts.orderBy(F.desc("c"), F.asc("p"))
            .limit(1)
            .select(F.col("p").alias("_bp"))
        )
        best = resilient_checkpoint(best, eager=True)
        merged_sym = F.replace(F.col("_bp"), F.lit(" " + MARKER), F.lit(""))
        state = (
            state.crossJoin(F.broadcast(best))
            .select("freq", F.replace(F.col("s"), F.col("_bp"), merged_sym).alias("s"))
        )
        state = resilient_checkpoint(state, eager=True)
    # rebuild the word key from the final symbol sequence (symbols
    # concatenated minus markers/spaces) — avoids threading the word
    # column through every round
    word = F.replace(F.replace(F.col("s"), F.lit(" "), F.lit("")), F.lit(MARKER), F.lit(""))
    vocab = state.select(
        word.alias("w"), F.size(F.split(F.col("s"), " ")).cast("long").alias("_nsym")
    )
    toks = (
        spread_partitions(docs, id_col)
        .select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("_raw"))
        .select(
            F.col(id_col),
            F.replace(F.col("_raw"), F.lit(MARKER), F.lit("")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    return (
        toks.join(vocab, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("_nsym").cast("long").alias("n_symbols"),
        )
    )
