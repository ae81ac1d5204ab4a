"""Distributed WordPiece-style tokenizer training — greedy
longest-match segmentation with an iteratively re-estimated piece
inventory (Schuster & Nakajima 2012; the BERT tokenizer's shape),
expressed Spark-first. Companion to operators/bpe.py: BPE learns a
MERGE TABLE bottom-up; WordPiece keeps a PIECE INVENTORY and
re-scores it top-down from usage under greedy inference.

Scale properties (same discipline as BPE):
- ONE corpus-sized pass (the word-frequency aggregate); every
  training round then operates on the frequency-weighted WORD
  VOCABULARY — bounded state, never the corpus again.
- The piece inventory is MODEL-sized (vocab_size rows). Each round
  collects it to the driver behind the engine's guarded model-collect
  contract (loud-fail, classifier.py discipline) and re-enters the
  plan as literal InSet predicates — segmentation is pure
  whole-stage-codegen column expressions, zero joins, zero UDFs.
- Greedy longest-match is unrolled ``max_word_len`` steps (each step
  consumes ≥1 char). Words longer than ``max_word_len`` are excluded
  from training and count as one ``[UNK]`` at application time — the
  same cap real WordPiece ships (BERT: max_input_chars_per_word).

Determinism / oracle: counts are integers; piece ranking ties break
on (count DESC, piece ASC) in binary collation; single characters are
ALWAYS retained (coverage guarantee), multi-char pieces compete for
the remaining ``vocab_size - |alphabet|`` slots. The DuckDB twin
unrolls the identical seed → segment → recount → prune trajectory,
so the final inventory is hash-exact across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.functions.text import tokenize
from data_pipeline_childcare_spark.io import resilient_checkpoint, spread_partitions

_MAX_MODEL_ROWS = 200_000


def _word_freqs(
    docs: DataFrame, id_col: str, text_col: str, max_word_len: int
) -> DataFrame:
    """(w, freq) — the ONLY corpus-sized pass. Words longer than
    ``max_word_len`` are excluded from training (see module doc)."""
    return (
        spread_partitions(docs, id_col)
        .select(F.explode(tokenize(F.col(text_col))).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def _collect_pieces(df: DataFrame, what: str) -> list[str]:
    """Guarded model-collect: the piece inventory leaving the cluster
    is MODEL-sized by contract — a corpus-sized frame fails loudly."""
    rows = df.limit(_MAX_MODEL_ROWS + 1).collect()
    if len(rows) > _MAX_MODEL_ROWS:
        raise ValueError(
            f"{what} exceeds {_MAX_MODEL_ROWS} rows — the piece "
            "inventory is model-sized by contract, not a corpus"
        )
    return [r[0] for r in rows]


def _segment_words(
    words: DataFrame,
    pieces: list[str],
    max_word_len: int,
    max_piece_len: int,
    word_col: str = "w",
    out_col: str = "pieces",
) -> DataFrame:
    """Greedy longest-match segmentation of every word against the
    literal inventory → ``out_col`` ARRAY<STRING>, as ONE
    ``F.aggregate`` fold over the word's positions.

    History of this function is the engine's expression-tree lesson
    in miniature: a single nested expression compounds ~5^steps
    (measured: driver OOM at plan build — round 5); per-step
    withColumns projections keep the tree linear but still cost
    O(max_word_len · |inventory|) nodes re-analyzed on every plan
    (11-20 s/query of pure driver CPU across the tokenizer family —
    round 6). The fold builds the candidate IN-ladder ONCE inside
    the lambda; positions iterate at RUNTIME. Output is
    bit-identical to the unrolled form: same greedy longest-match,
    same single-char fallback, the step count (= max_word_len,
    offsets advance ≥ 1/step) unchanged. Single chars always match —
    the inventory retains the full alphabet."""
    by_len: dict[int, list[str]] = {}
    for p in pieces:
        by_len.setdefault(len(p), []).append(p)
    word = F.col(word_col)

    def _step(acc: Column, _k: Column) -> Column:
        off = acc["off"]
        cand = None
        for plen in range(max_piece_len, 1, -1):
            if not by_len.get(plen):
                continue
            sub = word.substr(off, F.lit(plen))
            hit = F.when(sub.isin(by_len[plen]), sub)
            cand = hit if cand is None else F.coalesce(cand, hit)
        single = word.substr(off, F.lit(1))
        piece = single if cand is None else F.coalesce(cand, single)
        return F.when(
            off <= F.length(word),
            F.struct(
                (off + F.length(piece)).alias("off"),
                F.concat(acc["ps"], F.array(piece)).alias("ps"),
            ),
        ).otherwise(acc)

    arr = F.aggregate(
        F.sequence(F.lit(1), F.lit(max_word_len)),
        F.struct(
            F.lit(1).alias("off"), F.array().cast("array<string>").alias("ps")
        ),
        _step,
    )["ps"]
    return words.withColumn(out_col, arr)


def learn_wordpiece_vocab(
    docs: DataFrame,
    vocab_size: int = 48,
    n_rounds: int = 2,
    max_piece_len: int = 4,
    max_word_len: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train the piece inventory → (piece, piece_len, weighted_count,
    rank, is_char), ranked by final-round usage.

    Trajectory: seed = full alphabet + top multi-char substrings by
    frequency-weighted occurrence count; each round re-segments the
    word vocabulary greedily with the current inventory, recounts
    usage, and keeps the alphabet + the top
    ``vocab_size - |alphabet|`` multi-char pieces. Single characters
    never leave (coverage); unused multi-char pieces fall out.
    """
    # consumed by the alphabet collect, the seed collect, every
    # round's re-segmentation job and the returned plan — cut the one
    # corpus-sized pass behind a lazy checkpoint (vocab-sized
    # result; no CacheManager registration, so a later identical
    # invocation recomputes from its inputs — r13)
    words = resilient_checkpoint(_word_freqs(docs, id_col, text_col, max_word_len))

    # seed: every substring of length 2..max_piece_len, weighted by
    # word freq per occurrence; the alphabet rides along implicitly
    # (single chars are always in the inventory). NB: HOF lambdas
    # must be unary (PySpark derives arity from the signature), so
    # the piece length is closed over via a factory; and
    # sequence(1, 0) would generate DESCENDING [1, 0], so short words
    # guard to an empty array instead.
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
                F.array(*[_subs_of(plen) for plen in range(2, max_piece_len + 1)])
            )
        ).alias("piece"),
    ).filter(F.length("piece") >= 2)
    chars = (
        words.select(F.explode(F.split(F.col("w"), "")).alias("c"))
        .filter(F.col("c") != "")
        .distinct()
    )
    alphabet = _collect_pieces(chars, "alphabet")
    n_multi = max(vocab_size - len(alphabet), 0)

    def top_multi(counted: DataFrame) -> DataFrame:
        return (
            counted.orderBy(F.desc("c"), F.asc("piece"))
            .limit(n_multi)
            .select("piece")
        )

    seed_counts = subs.groupBy("piece").agg(F.sum("freq").cast("long").alias("c"))
    inventory = alphabet + _collect_pieces(top_multi(seed_counts), "seed inventory")

    counts = None
    for _ in range(n_rounds):
        segs = _segment_words(
            words, inventory, max_word_len, max_piece_len
        ).select("freq", F.explode("pieces").alias("piece"))
        # checkpointed: read by this round's inventory collect and
        # again by the next round / the returned frame (lazy
        # checkpoint — within-invocation reuse only, r13)
        counts = resilient_checkpoint(
            segs.groupBy("piece").agg(F.sum("freq").cast("long").alias("c"))
        )
        multi = counts.filter(F.length("piece") >= 2)
        inventory = alphabet + _collect_pieces(top_multi(multi), "round inventory")

    final = counts.join(
        F.broadcast(
            counts.sparkSession.createDataFrame(
                [(p,) for p in inventory], "piece string"
            )
        ),
        "piece",
        "left_semi",
    )
    from pyspark.sql import Window as W

    # global by design: the inventory is vocab_size rows; lit(0)
    # partition documents the single-partition intent
    w = W.partitionBy(F.lit(0)).orderBy(F.desc("c"), F.asc("piece"))
    return final.select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        F.col("c").alias("weighted_count"),
        F.row_number().over(w).cast("int").alias("rank"),
        (F.length("piece") == 1).alias("is_char"),
    )


def wordpiece_segment_counts(
    docs: DataFrame,
    vocab_size: int = 48,
    n_rounds: int = 2,
    max_piece_len: int = 4,
    max_word_len: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply the learned inventory back to the corpus → per-document
    (n_words, n_pieces, n_unk): tokenizer fertility under greedy
    inference. Words over ``max_word_len`` count as one ``[UNK]``
    (n_pieces contribution 1), the standard WordPiece cap behavior.
    Application is ONE corpus token explode joined to the word→count
    map derived from the final training state (word vocab-sized)."""
    vocab = learn_wordpiece_vocab(
        docs, vocab_size, n_rounds, max_piece_len, max_word_len, id_col, text_col
    )
    pieces = _collect_pieces(vocab.select("piece"), "final inventory")
    words = _word_freqs(docs, id_col, text_col, max_word_len)
    per_word = _segment_words(words, pieces, max_word_len, max_piece_len).select(
        "w", F.size("pieces").cast("long").alias("_np")
    )
    toks = (
        spread_partitions(docs, id_col)
        .select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
    )
    return (
        toks.join(F.broadcast(per_word), "w", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            # over-length words: one [UNK] piece each
            F.sum(F.coalesce(F.col("_np"), F.lit(1))).cast("long").alias("n_pieces"),
            F.sum(F.when(F.col("_np").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unk"),
        )
    )
