"""Distributed unigram-LM tokenizer training (SentencePiece's model;
Kudo 2018, "Subword regularization") — hard-EM: Viterbi-segment the
word vocabulary under the current piece costs, re-estimate costs from
usage, prune to the target inventory. Completes the engine's
tokenizer family: BPE learns a MERGE TABLE bottom-up
(operators/bpe.py), WordPiece re-scores a piece inventory under
GREEDY inference (operators/wordpiece.py), unigram-LM segments by
GLOBAL likelihood — the Viterbi DP finds the min-cost segmentation,
not the leftmost-longest one.

Simplifications vs full SentencePiece, stated plainly: hard EM
(Viterbi counts, not forward-backward expectations) and usage-count
pruning (not EM-loss pruning); add-one smoothing keeps never-emitted
alphabet pieces finite. The E→M trajectory, the DP and the inventory
discipline are the real algorithm.

Scale properties (the BPE/WordPiece discipline):
- ONE corpus-sized pass (word-frequency aggregate); every round then
  runs on the frequency-weighted WORD VOCABULARY.
- The cost table is MODEL-sized: collected behind the guarded
  model-collect contract and re-entering the plan as a LITERAL MAP —
  Viterbi is pure JVM column math, zero joins, zero UDFs, the DP a
  single ``F.aggregate`` fold whose positions iterate at RUNTIME
  (an unrolled per-position formulation costs O(max_word_len²)
  expression nodes and dominates driver CPU — the round-6 measured
  lesson; nested single-tree unrolling is worse still, compounding
  exponentially — the round-5 WordPiece lesson).

Determinism / oracle: piece costs are INTEGER micro-logs —
``floor((log10(total + V) − log10(c + 1)) · 1e6 + 0.5)`` — so the
entire DP is BIGINT arithmetic: bit-exact under any partitioning and
engine, no float ties anywhere (the fixed-point PageRank discipline).
Tie-break: equal path cost prefers the LONGER piece (encoded in the
low 3 bits of the packed comparison key). The DuckDB twin unrolls the
identical seed → cost → Viterbi → recount → prune trajectory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.io import resilient_checkpoint
from data_pipeline_childcare_spark.operators.wordpiece import (
    _collect_pieces,
    _word_freqs,
)

# unreachable-path sentinel: far above any real path cost
# (max_word_len · max piece cost ≈ 8 · 8e6) yet safe under the ×8
# packing and a few additions
_BIG = 1 << 50


def _collect_costs(df: DataFrame, what: str) -> list[tuple[str, int]]:
    """Guarded model-collect of a (piece, cost) frame."""
    rows = df.limit(200_001).collect()
    if len(rows) > 200_000:
        raise ValueError(
            f"{what} exceeds 200000 rows — the cost table is "
            "model-sized by contract, not a corpus"
        )
    return [(r[0], r[1]) for r in rows]


def _viterbi_segment(
    words: DataFrame,
    costs: list[tuple[str, int]],
    max_word_len: int,
    max_piece_len: int,
    word_col: str = "w",
    out_col: str = "pieces",
) -> DataFrame:
    """Min-cost segmentation of every word under the literal cost
    map — forward DP and backtrace each expressed as ONE
    ``F.aggregate`` fold over the word's positions. All BIGINT.

    Packing: a candidate at position i via piece length L packs to
    ``(cost_so_far + piece_cost) · 8 + (max_piece_len − L)`` — the
    min simultaneously picks the cheapest path and, on exact cost
    ties, the longest piece. Unreachable candidates coalesce to the
    ``_BIG`` sentinel instead of NULL so ``least`` semantics never
    depend on engine NULL handling. ``m div 8`` / ``m % 8`` are
    shiftright/bitwiseAND — exact on the non-negative packed values.

    Plan-size note (round-6 verdict #5): this DP was previously
    UNROLLED — ``max_word_len`` per-position withColumns projections
    with an O(max_word_len) CASE ladder per backtrace step, i.e. an
    O(n²)-sized expression tree rebuilt by Catalyst on every analyze
    (the tokenizer family spent 11-20 s/query at sf0.01 in pure
    driver CPU). The aggregate fold keeps the tree O(max_piece_len):
    the positions iterate at RUNTIME over the sequence, not at
    plan-build time. Output is bit-identical: same packed m-values,
    same tie-breaks, same piece arrays (the fold's pos-freeze branch
    reproduces the unrolled version's greatest(pos−bp, 0) clamp
    semantics — both emit the same piece list on every input, well-
    formed or not).
    """
    cost_map = F.create_map(
        *[F.lit(x) for pair in sorted(costs) for x in pair]
    )
    word = F.col(word_col)
    df = words.withColumn("_cm", cost_map)

    def _cand(acc: Column, i: Column, plen: int) -> Column:
        # m_{i-plen} lives at 1-based slot i-plen+1 of the acc array
        prev = F.try_element_at(acc, i - F.lit(plen - 1))
        sub = word.substr(i - F.lit(plen - 1), F.lit(plen))
        pc = F.try_element_at(F.col("_cm"), sub)
        comb = (F.shiftright(prev, 3) + pc) * 8 + (max_piece_len - plen)
        return F.when(
            i >= F.lit(plen), F.coalesce(comb, F.lit(_BIG))
        ).otherwise(F.lit(_BIG))

    def _fwd(acc: Column, i: Column) -> Column:
        best = F.least(
            *[_cand(acc, i, plen) for plen in range(1, max_piece_len + 1)]
        )
        return F.concat(acc, F.array(best))

    # greatest(len, 1): sequence(1, 0) would generate DESCENDING
    # [1, 0]; one dead iteration on the empty word is harmless (its
    # backtrace starts at pos 0 and emits nothing either way)
    positions = F.sequence(F.lit(1), F.greatest(F.length(word), F.lit(1)))
    df = df.withColumn(
        "_ms",
        F.aggregate(
            positions,
            F.array(F.lit(0).cast("long")),
            _fwd,
        ),
    )

    def _bt(acc: Column, _j: Column) -> Column:
        pos = acc["pos"]
        m = F.try_element_at(F.col("_ms"), pos + F.lit(1))
        bp = (F.lit(max_piece_len) - m.bitwiseAND(F.lit(7))).cast("int")
        return F.when(
            pos > 0,
            F.struct(
                (pos - bp).alias("pos"),
                F.concat(
                    acc["ps"], F.array(word.substr(pos - bp + F.lit(1), bp))
                ).alias("ps"),
            ),
        ).otherwise(acc)

    arr = F.reverse(
        F.aggregate(
            positions,
            F.struct(
                F.length(word).alias("pos"),
                F.array().cast("array<string>").alias("ps"),
            ),
            _bt,
        )["ps"]
    )
    return df.withColumn(out_col, arr).drop("_cm", "_ms")


def learn_unigram_lm(
    docs: DataFrame,
    vocab_size: int = 48,
    n_rounds: int = 2,
    max_piece_len: int = 4,
    max_word_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train the unigram inventory → (piece, piece_len,
    weighted_count, cost_micro, rank, is_char).

    Trajectory: substring counts (len 1..max_piece_len, weighted by
    word freq) seed the inventory (full alphabet + top multi-char by
    (count DESC, piece ASC)); each round Viterbi-segments the word
    vocabulary under the current integer costs, recounts usage,
    re-prunes and re-costs. Words longer than ``max_word_len`` are
    excluded from training (the WordPiece cap discipline).
    """
    spark = docs.sparkSession
    # The word-frequency vocabulary is consumed by EVERY round's
    # Viterbi job plus the final returned plan — without a cache each
    # of those re-runs the corpus tokenize+aggregate pass (the only
    # corpus-sized stage here). Lazy checkpoint (vocab-sized:
    # max_word_len-capped distinct words; MEMORY_AND_DISK spills at
    # the extreme; no CacheManager registration, so later identical
    # invocations recompute from inputs — r13). Same for the seed
    # substring counts below, read by the alphabet collect and again
    # by the round-1 cost table.
    words = resilient_checkpoint(_word_freqs(docs, id_col, text_col, max_word_len))

    def _subs_of(plen: int):
        def mk(i):
            return F.col("w").substr(i, F.lit(plen))

        return F.when(
            F.length("w") >= plen,
            F.transform(F.sequence(F.lit(1), F.length("w") - (plen - 1)), mk),
        ).otherwise(F.array().cast("array<string>"))

    subs = words.select(
        "freq",
        F.explode(
            F.flatten(
                F.array(*[_subs_of(plen) for plen in range(1, max_piece_len + 1)])
            )
        ).alias("piece"),
    )
    counts = resilient_checkpoint(
        subs.groupBy("piece").agg(F.sum("freq").cast("long").alias("c"))
    )

    # ONE guarded collect per round serves inventory AND costs: the
    # alphabet (all length-1 pieces) plus the top-``vocab_size``
    # multi-char pieces by (count DESC, piece ASC) come down together
    # with their counts; the n_multi cut and the smoothing TOTALS are
    # integer-exact driver-side, and the cost table is rebuilt as a
    # vocab_size-row LOCAL relation whose log10 still evaluates in
    # Spark (same Java Math.log10 doubles as the distributed frame it
    # replaces — moving the log to Python would introduce a third
    # libm into an exact-hash contract). This collapses the previous
    # three-job round (alphabet collect / distributed cost-frame
    # collect / final re-execution of a corpus-rooted plan) into one
    # corpus-rooted job + one ~50-row local job; the returned frame
    # is local too, so consumers re-executing it pay nothing.
    # Python's (−c, piece) sort order equals Spark's
    # (c DESC, piece ASC): UTF-8 byte order (Spark strings) and code
    # point order (Python str) agree for all of Unicode. The SEED
    # alphabet is pinned on the first call: a character used only
    # inside multi-char pieces vanishes from later recounts, but the
    # inventory must keep it (alphabet-preserving prune — coverage),
    # with weighted_count 0 exactly as the old left-join produced.
    alphabet: list[str] = []

    def _round_inventory(cnts: DataFrame) -> list[tuple[str, int]]:
        fused = cnts.filter(F.length("piece") == 1).unionByName(
            cnts.filter(F.length("piece") >= 2)
            .orderBy(F.desc("c"), F.asc("piece"))
            .limit(vocab_size)
        )
        rows = _collect_costs(fused.select("piece", "c"), "unigram piece counts")
        ones = {p: c for p, c in rows if len(p) == 1}
        if not alphabet:
            alphabet.extend(sorted(ones))
        alpha = [(p, ones.get(p, 0)) for p in alphabet]
        multi = sorted(
            ((p, c) for p, c in rows if len(p) >= 2),
            key=lambda pc: (-pc[1], pc[0]),
        )
        n_multi = max(vocab_size - len(alphabet), 0)
        return alpha + multi[:n_multi]

    def _literal_cost_frame(inv_counts: list[tuple[str, int]]) -> DataFrame:
        local = spark.createDataFrame(inv_counts, "piece string, c long")
        total = sum(c for _, c in inv_counts)
        v = len(inv_counts)
        return local.select(
            "piece",
            F.col("c").alias("weighted_count"),
            F.floor(
                (F.log10(F.lit(total) + F.lit(v)) - F.log10(F.col("c") + 1))
                * F.lit(1_000_000)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cost"),
        )

    cost_f = _literal_cost_frame(_round_inventory(counts))
    for _ in range(n_rounds):
        costs = _collect_costs(cost_f.select("piece", "cost"), "unigram cost table")
        segs = _viterbi_segment(words, costs, max_word_len, max_piece_len)
        # checkpointed: the fused inventory collect references the
        # recount twice (length-1 filter + multi top-k) — one Viterbi
        # execution, not two (lazy checkpoint, r13)
        counts = resilient_checkpoint(
            segs.select("freq", F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("c"))
        )
        cost_f = _literal_cost_frame(_round_inventory(counts))

    from pyspark.sql import Window as W

    # global by design over the vocab_size-row inventory
    w = W.partitionBy(F.lit(0)).orderBy(
        F.desc("weighted_count"), F.asc("piece")
    )
    return cost_f.select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        "weighted_count",
        F.col("cost").alias("cost_micro"),
        F.row_number().over(w).cast("int").alias("rank"),
        (F.length("piece") == 1).alias("is_char"),
    )


def unigram_segment_counts(
    docs: DataFrame,
    vocab: DataFrame | list[tuple[str, int]],
    max_piece_len: int = 4,
    max_word_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a trained inventory: per doc, Viterbi piece count /
    word count / unk count (words over ``max_word_len`` count one
    UNK, the training-side cap). ``vocab`` is the (piece, cost_micro)
    frame from :func:`learn_unigram_lm` or a literal list."""
    if isinstance(vocab, DataFrame):
        costs = _collect_costs(
            vocab.select("piece", "cost_micro"), "unigram cost table"
        )
    else:
        costs = list(vocab)
    from data_pipeline_childcare_spark.functions.text import tokenize
    from data_pipeline_childcare_spark.io import spread_partitions

    toks = (
        spread_partitions(docs, id_col)
        .select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
    )
    ok = toks.filter(F.length("w") <= max_word_len)
    seg = _viterbi_segment(ok, costs, max_word_len, max_piece_len)
    per_word = seg.select(
        id_col,
        F.size("pieces").cast("long").alias("np"),
        F.lit(0).cast("long").alias("unk"),
    )
    over = toks.filter(F.length("w") > max_word_len).select(
        F.col(id_col),
        F.lit(1).cast("long").alias("np"),
        F.lit(1).cast("long").alias("unk"),
    )
    return (
        per_word.unionByName(over)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("np").alias("n_pieces"),
            F.sum("unk").alias("n_unk"),
        )
    )
