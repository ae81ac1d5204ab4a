"""Deduplication family for LLM training-data pipelines.

Five strategies, all shared-nothing and shuffle-disciplined:

- exact:        groupBy(content hash) keep canonical row — one shuffle.
- fingerprint:  md5 of normalized text (engine-independent key).
- minhash+LSH:  shingle → k minhashes → band buckets → join within
                buckets only. The scale path: candidate generation is
                a self-join on (band, bucket-hash), never all-pairs.
- simhash:      64-bit signature, near-dup = small Hamming distance;
                candidates blocked on 16-bit sub-bands (any exact
                sub-band match ⇒ candidate), standard at corpus scale.
- n-gram Jaccard: exact verification metric, computed via an inverted
                shingle index (explode + join on shingle + count),
                NOT an O(n²) cross join.

MinHash, SimHash and winnowing hash with the engine-portable md5 /
Carter–Wegman family below, so every near-dup result here is
reproducible bit-exactly by the DuckDB oracles.

At 100 TB: every strategy here is a constant number of shuffles keyed
by content-derived hashes (uniformly distributed ⇒ no skew), and the
verification joins only touch candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.functions.text import (
    doc_fingerprint,
    hamming64,
    tokenize,
    word_ngrams,
)
from data_pipeline_childcare_spark.io import resilient_checkpoint, spread_partitions

# Engine-portable hash family (Carter–Wegman universal hashing over
# the Mersenne prime p = 2^31 - 1): one md5 per shingle gives a 60-bit
# base hash h; family member i is (a_i * h + b_i) mod p with constants
# derived from a fixed public formula. Every intermediate fits in a
# signed 64-bit integer (a_i, h < 2^31 ⇒ a_i*h < 2^62), so Spark (ANSI
# mode) and DuckDB compute it bit-identically with native BIGINT ops —
# one md5 per shingle, not one per family member.
PORTABLE_P = 2147483647
_CW_MULT_A, _CW_ADD_A = 2654435761, 40503
_CW_MULT_B, _CW_ADD_B = 2246822519, 3266489917


def cw_constants(n: int, salt: int = 0) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the portable hash family.

    Mirrors the closed-form SQL expression the DuckDB oracles inline:
    a_i = (2654435761*(i+1+salt) + 40503) mod p,
    b_i = (2246822519*(i+1+salt) + 3266489917) mod p.
    """
    out = []
    for i in range(n):
        k = i + 1 + salt
        a = (_CW_MULT_A * k + _CW_ADD_A) % PORTABLE_P
        b = (_CW_MULT_B * k + _CW_ADD_B) % PORTABLE_P
        assert a != 0, f"degenerate multiplier at i={i}, salt={salt}"
        out.append((a, b))
    return out


# Spark-SQL fragment turning a shingle string column into the base
# hash h ∈ [0, p). DuckDB oracle equivalent:
#   CAST(CONCAT('0x', substring(md5(col), 1, 15)) AS BIGINT) % p
def portable_base_hash_sql(col: str) -> str:
    return (
        f"cast(conv(substring(md5({col}), 1, 15), 16, 10) as bigint) % {PORTABLE_P}"
    )


# Reuse boundaries. Every pipeline below that consumes its per-doc
# signature/shingle frame more than once (banding sides, estimate-join
# sides, df-cap aggregate) puts that frame behind ONE lazy
# ``resilient_checkpoint``: a single materialization of the compact
# rows shared by every consumer — BroadcastExchange builds included,
# which ReuseExchange never serves across differing subtrees. The
# checkpoint also truncates the logical plan, so Catalyst analyzes the
# signature subtree once instead of once per consumer (sf0.1: minhash
# planning alone was 0.7 s with the subtree embedded 4×). Without it,
# an input already hash-partitioned on the key lets the whole
# tokenize→hash→aggregate pipeline collapse into the downstream stage,
# re-run by each consumer. The checkpoint scan advertises the input's
# key-hash partitioning, so key-aligned aggregates/windows downstream
# stay exchange-free (pinned by tests/test_plan_contracts.py) — except
# with AQE on, where its plan-time partitioning is Unknown and keyed
# consumers re-exchange the compact rows once each; the one shared
# materialization holds either way. Nothing is reused across
# invocations (no ``.persist()``, which would register the plan in the
# CacheManager and serve later identical calls from memory).


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per identical text.

    groupBy on the text itself (Spark hashes it for the exchange); at
    scale prefer ``dedup_fingerprint`` so the shuffle key is 32 bytes,
    not the document body.
    """
    keep = df.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    return df.join(keep, [text_col, id_col], "left_semi")


def dedup_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str | None = None,
) -> DataFrame:
    """Exact dedup on md5(normalized text).

    r13 shape — min-over-window instead of groupBy+semi-join: ONE
    consumer of the fingerprint frame, so the normalize+md5 (the
    expensive map work) runs once and the plan is a single window
    exchange with no second scan (the join shape recomputed the md5 up
    to 4× — null-check filter, both join inputs, the projection).
    Exact equivalence with the join shape: a row survives iff its id
    equals the group's min id (ties all survive, exactly like the
    (fp, id) equi-semi-join) and its text is non-null (md5∘normalize
    is null-preserving, and an equi-join key never matches null — the
    filter is written on the TEXT column so it pushes to the scan
    instead of re-evaluating the md5); a null id never equals min.

    ``fp_col``: when set, the computed fingerprint is kept under this
    name so callers that also want the fingerprint don't recompute the
    md5 over the survivors."""
    from pyspark.sql import Window as W

    with_fp = spread_partitions(df, id_col).withColumn("_fp", doc_fingerprint(text_col))
    keep_min = F.min(id_col).over(W.partitionBy("_fp"))
    out = (
        with_fp.withColumn("_min", keep_min)
        .filter(F.col(text_col).isNotNull() & (F.col(id_col) == F.col("_min")))
        .drop("_min")
    )
    if fp_col is None:
        return out.drop("_fp")
    return out.withColumnRenamed("_fp", fp_col)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_jaccard_estimate(signatures: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of agreeing
    minhash components (zip_with + filter/size)."""
    sig_a = signatures.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sig_b = signatures.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    joined = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    return joined.select(
        "id_a", "id_b", (agree / F.size("sig_a")).alias("est_jaccard")
    )


def _portable_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """(id, signature ARRAY<LONG>) on the Carter–Wegman family over
    the md5 base hash — shared by the batch-portable and incremental
    minhash paths (identical expression strings, so the oracle math
    is one definition)."""
    shingled = spread_partitions(df, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), shingle_n))).alias("_s"),
    ).select(F.col(id_col), F.expr(portable_base_hash_sql("_s")).alias("_h"))
    # ONE agg expression producing the array directly: 64 separate agg
    # columns + a re-projection cost ~2.5x more analyzer time AND
    # ~30% more execution than the fused form (measured at sf0.1)
    sig_expr = (
        "array("
        + ",".join(
            f"min(({a} * _h + {b}) % {PORTABLE_P})" for a, b in cw_constants(num_hashes)
        )
        + ")"
    )
    return shingled.groupBy(id_col).agg(F.expr(sig_expr).alias("signature"))


def _portable_banded(sigs: DataFrame, id_col: str, bands: int, rows: int) -> DataFrame:
    """(id, _band, _bh): ordered polynomial fold of each signature
    slice over p — plain BIGINT band keys (see
    ``minhash_est_pairs_portable``'s docstring for why not arrays)."""

    def _poly(b: int) -> str:
        acc = f"signature[{b * rows}]"
        for r in range(1, rows):
            acc = f"(({acc}) * 1000003 + signature[{b * rows + r}]) % {PORTABLE_P}"
        return acc

    return sigs.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.expr(_poly(b)) for b in range(bands)])).alias(
            "_band", "_bh"
        ),
    )


def minhash_est_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    bands: int = 16,
    threshold: float = 0.5,
    cap_per_id: int | None = None,
) -> DataFrame:
    """Engine-portable MinHash pipeline → (id_a, id_b, est_jaccard).

    Shingle → signature → banded self-join → estimate-verify, with
    every hash reproducible in ANY engine bit-exactly:

    - base hash h = first 15 hex chars of ``md5(shingle)`` read as a
      60-bit integer (``conv(...,16,10)`` in Spark ≡
      ``CAST('0x…' AS BIGINT)`` in DuckDB), reduced mod p = 2^31-1;
    - minhash_i(doc) = min over shingles of (a_i*h + b_i) mod p — the
      Carter–Wegman family (``cw_constants``), ONE md5 per shingle
      plus 64 native integer ops;
    - band hash = ordered polynomial fold of the 4-component
      signature slice over p (acc = (acc*1000003 + m) mod p) — a
      plain BIGINT join key (keeps the band self-join broadcast/
      hash-join-able, which an array-typed key would not be), every
      intermediate < 2^51; band-hash collisions only ever ADD
      candidate pairs, which the est_jaccard verify stage filters,
      and both engines collide identically so parity is unaffected;
    - est_jaccard = agreeing components / num_hashes — a k/64 dyadic
      rational, exact in binary floating point in both engines.

    This makes the FULL banded-LSH pipeline SQL-oracle-checkable.
    Shuffle shape: one groupBy(doc), band-keyed self-join,
    candidate-only estimate join.

    ``cap_per_id``: duplicate-saturation guard (the
    :func:`cap_pairs_per_doc` discipline) — a verbatim-copy cluster
    of c documents collides in EVERY band and emits C(c,2) ≈ c²/2
    verified pairs; with the cap each doc keeps only its
    ``cap_per_id`` STRONGEST neighbors per pair side (est_jaccard
    DESC, other-id tiebreak — deterministic and SQL-mirrorable), so
    downstream pair volume is linear in corpus size regardless of
    cluster structure. None = exact banded pair set. PRODUCTION
    REQUIREMENT at 100 TB on dup-heavy corpora: set this (or consume
    via :func:`minhash_dedup_portable`, whose one-sided cap is
    semantically free).
    """
    rows = num_hashes // bands
    # reuse boundary (see the module note): the banding and both
    # estimate-join sides read one materialization of the signatures
    sigs = resilient_checkpoint(
        _portable_signatures(df, id_col, text_col, num_hashes, shingle_n)
    )
    banded = _portable_banded(sigs, id_col, bands, rows)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bh") == F.col("b._bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    est = minhash_jaccard_estimate(sigs, cand, id_col)
    pairs = est.filter(F.col("est_jaccard") >= threshold)
    if cap_per_id is not None:
        pairs = cap_pairs_per_doc(pairs, cap_per_id, order_by=[F.desc("est_jaccard")])
    return pairs


def minhash_dedup_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    shingle_n: int = 3,
    bands: int = 16,
    cap_per_id: int | None = None,
) -> DataFrame:
    """Near-dedup on :func:`minhash_est_pairs_portable`'s verified
    pairs: drop the larger id of each pair (connected-component-lite —
    a doc is dropped if it is a near-dup of ANY smaller id). The
    kept-doc set itself is SQL-oracle-checkable.

    ``cap_per_id``: one-sided duplicate-saturation guard that is
    SEMANTICALLY FREE for this consumer — the anti-join only asks
    "does id_b have ≥1 dominating near-dup?", so keeping each id_b's
    top-``cap_per_id`` dominators (est_jaccard DESC, id_a tiebreak)
    preserves the kept-doc set EXACTLY for any cap ≥ 1 while bounding
    the pair rows that reach the distinct/anti-join shuffles to
    cap·|corpus| even on a corpus that is one giant verbatim-copy
    cluster (which otherwise emits C(c,2) ≈ c²/2 verified pairs).
    ``tests/test_operators.py`` (test_minhash_dedup_cap_per_id_semantically_free) asserts capped == uncapped output. The
    oracle needs no mirroring for the same reason. Production
    default at 100 TB: ``cap_per_id=1``."""
    pairs = minhash_est_pairs_portable(
        df, id_col, text_col, num_hashes, shingle_n, bands, threshold
    )
    if cap_per_id is not None:
        from pyspark.sql import Window as W

        wb = W.partitionBy("id_b").orderBy(F.desc("est_jaccard"), F.asc("id_a"))
        pairs = (
            pairs.withColumn("_rb", F.row_number().over(wb))
            .filter(F.col("_rb") <= cap_per_id)
            .drop("_rb")
        )
    dups = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dups, id_col, "left_anti")


def minhash_dedup_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    shingle_n: int = 3,
    bands: int = 16,
) -> DataFrame:
    """INCREMENTAL near-dedup — the daily-ingest shape: keep only the
    ``new_docs`` that are near-dups of neither the existing
    ``corpus_docs`` (history always wins, regardless of id order) nor
    an earlier-id doc within the new batch itself. Returns the kept
    new docs; the corpus is never modified.

    This is the operation a production pipeline runs every ingest
    cycle, and the one place batch dedup's cost model breaks: re-
    running ``minhash_dedup_portable`` over corpus+batch pays the
    corpus×corpus band join again every day. Here the band self-join
    is replaced by an asymmetric join — (corpus ∪ batch) bands ⨝
    BATCH bands — so only buckets containing at least one new doc are
    touched: cost scales with |batch| × bucket occupancy, not
    |corpus|². (At 100 TB the corpus signatures/bands would be a
    persisted table; they are recomputed here because the engine's
    query surface is stateless — the plan shape downstream of the
    signature scan is identical either way.)

    Hash family, banding and the estimate-verify stage are the
    engine-portable definitions shared with
    ``minhash_est_pairs_portable``, so the kept set is SQL-oracle-
    checkable. Precondition: ids are globally unique across corpus
    and batch.
    """
    rows = num_hashes // bands
    tagged = corpus_docs.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("_new")
    ).unionByName(
        new_docs.select(F.col(id_col), F.col(text_col), F.lit(True).alias("_new"))
    )
    sigs = _portable_signatures(tagged, id_col, text_col, num_hashes, shingle_n)
    tags = tagged.select(id_col, "_new")
    # reuse boundary (see the module note): the banding and both
    # estimate-join sides read one materialization of the tagged
    # signatures
    sigs = resilient_checkpoint(sigs.join(tags, id_col))
    banded = _portable_banded(sigs, id_col, bands, rows).join(tags, id_col)
    a = banded.alias("a")
    b = banded.filter(F.col("_new")).alias("b")
    # corpus side beats any new doc; within the batch, first id wins
    cand = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bh") == F.col("b._bh"))
            & (
                (~F.col("a._new") & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")))
                | (F.col("a._new") & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            ),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    dups = (
        minhash_jaccard_estimate(sigs.select(id_col, "signature"), cand, id_col)
        .filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return new_docs.join(dups, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_hamming: int = 3,
    cap_per_id: int | None = None,
) -> DataFrame:
    """Engine-portable SimHash near-dup pairs → (id_a, id_b, hamming).

    Bit votes → 64-bit signature → 4×16-bit pigeonhole bands →
    hamming filter. Bit ``b``'s vote is the parity of Carter–Wegman
    family member b (salt=100 to decorrelate from the minhash family)
    applied to the md5-derived base hash — ONE md5 per shingle
    occurrence plus 64 native integer ops, reproducible in any engine,
    so the whole pipeline is SQL-oracle-checkable.

    Blocking: with distance ≤ 3 at least one of the four 16-bit
    sub-bands matches exactly (pigeonhole), so the self-join is on
    (band_index, band_value) — never all-pairs. Shuffle shape: one groupBy(doc) vote aggregate,
    band-keyed self-join, hamming filter before the distinct (hot-band
    candidates are cut to true near-dups before the dedup shuffle).

    ``cap_per_id``: duplicate-saturation guard (see
    :func:`cap_pairs_per_doc`) — keeps each doc's ``cap_per_id``
    NEAREST neighbors per pair side (hamming ASC, other-id tiebreak,
    two row_number windows — SQL-mirrorable), bounding downstream
    pair volume to linear in corpus size on verbatim-copy-cluster
    corpora. PRODUCTION REQUIREMENT at 100 TB on dup-heavy corpora;
    None = exact blocked pair set.
    """
    shingled = spread_partitions(df, id_col).select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), shingle_n)).alias("_s")
    ).select(F.col(id_col), F.expr(portable_base_hash_sql("_s")).alias("_h"))
    # single fused agg expression: vote sums packed straight into the
    # 64-bit signature (see the minhash note on analyzer cost)
    pack = " | ".join(
        f"(CASE WHEN sum(CASE WHEN ((({a} * _h + {bb}) % {PORTABLE_P}) & 1) = 1"
        f" THEN 1 ELSE -1 END) > 0 THEN shiftleft(1L, {b}) ELSE 0L END)"
        for b, (a, bb) in enumerate(cw_constants(64, salt=100))
    )
    # reuse boundary (see the module note): both self-join sides read
    # one materialization of the vote aggregate
    sigs = resilient_checkpoint(shingled.groupBy(id_col).agg(F.expr(pack).alias("sh")))
    banded = sigs.select(
        id_col,
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sh"), 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("band", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    if cap_per_id is not None:
        pairs = cap_pairs_per_doc(pairs, cap_per_id, order_by=[F.asc("hamming")])
    return pairs


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash fingerprints, MOSS-style)
# ---------------------------------------------------------------------------


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    hash every character k-gram, slide a window of ``window``
    consecutive k-gram hashes, keep each window's minimum; the
    DISTINCT minima are the doc's fingerprint set. Guarantees any
    shared substring of length ≥ k + window - 1 contributes at least
    one common fingerprint — the standard local-similarity /
    provenance sketch.

    Shape: posexplode over a position sequence (narrow, O(len) rows,
    embarrassingly parallel), per-doc window min (one shuffle keyed by
    doc id), distinct. Each gram hashes to substr(md5(gram), 1, 8) —
    bit-identical in any engine, so the DuckDB oracle reproduces it.

    Returns (id, fingerprint) pairs; join on fingerprint for candidate
    generation.
    """
    s = F.lower(F.col(text_col))
    n_grams = F.length(s) - k + 1
    grams = (
        spread_partitions(df, id_col)
        .select(F.col(id_col), s.alias("_s"), n_grams.alias("_ng"))
        .filter(F.col("_ng") >= window)
        .select(
            id_col,
            "_ng",
            F.posexplode(F.sequence(F.lit(1), F.col("_ng"))).alias("_i0", "_pos"),
            "_s",
        )
        .select(
            id_col,
            "_ng",
            "_pos",
            F.substring(F.md5(F.substring(F.col("_s"), F.col("_pos"), k)), 1, 8).alias("_h"),
        )
    )
    from pyspark.sql import Window as W

    frame = W.partitionBy(id_col).orderBy("_pos").rowsBetween(0, window - 1)
    return (
        grams.withColumn("_fp", F.min("_h").over(frame))
        .filter(F.col("_pos") <= F.col("_ng") - window + 1)
        .select(F.col(id_col), F.col("_fp").alias("fingerprint"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle SETS.

    Inverted-index shape: explode distinct shingles → self-join on the
    shingle → count common shingles per pair → |A∩B| / (|A|+|B|-|A∩B|).
    Only pairs sharing ≥1 shingle are ever materialized.

    ``max_df`` (default off — exact Jaccard, what the oracle checks)
    anti-joins away shingles occurring in more than that many
    documents BEFORE the self-join — the df-cap that bounds hot-shingle
    pair fan-out at corpus scale: one boilerplate trigram present in
    half the corpus otherwise makes the self-join quadratic in corpus
    size. With the cap set, ``common`` undercounts by the dropped hot
    shingles while set sizes stay exact, so the reported jaccard is a
    LOWER BOUND — the safe direction for a dedup gate (never merges
    documents that only share boilerplate). Same contract as
    :func:`shared_span_pairs`'s ``max_df``.

    The join/shuffle key is xxhash64(shingle) — 8 bytes instead of the
    shingle text. Exact up to 64-bit hash collisions (~1e-19 per pair).

    The per-doc set size rides ALONG the exploded rows (computed once
    per doc from the same array, carried through the self-join into
    first() aggregates) instead of a separate sizes table joined back
    at the end: at corpus scale a sizes side is one row per document —
    far too big to broadcast, so joining it would add two more
    shuffles; carrying it costs 8 bytes per exploded row on shuffles
    that are pair-volume-dominated anyway. Tokenization runs exactly
    once per document (the identical self-join sides collapse into one
    reused exchange).
    """
    spread = spread_partitions(df, id_col)
    base = spread.select(
        F.col(id_col), F.array_distinct(word_ngrams(F.col(text_col), n)).alias("_sh")
    )
    shingled = base.select(
        F.col(id_col),
        F.size("_sh").cast("long").alias("set_size"),
        F.explode("_sh").alias("_s"),
    ).select(id_col, "set_size", F.xxhash64("_s").alias("shingle"))
    # reuse boundary (see the module note): tokenization runs once for
    # the df-cap aggregate and both self-join sides, and the a-side
    # keeps its doc-id layout, so the pair aggregate and the per-doc
    # cap window downstream need no exchange of their own when the
    # b-side broadcasts
    shingled = resilient_checkpoint(shingled)
    b_side = shingled
    if max_df is not None:
        # shingles are per-doc distinct, so count(*) per shingle IS the
        # document frequency; hot ones leave the index before the join.
        # The anti-join is applied to the B side ONLY: the inner join's
        # a.shingle == b.shingle equality means an a-row whose shingle
        # is hot matches nothing (the b side has no such rows), so
        # filtering the a side too is redundant work — it re-ran the
        # df aggregate and its broadcast a second time (r13 plan diff:
        # 2 df-agg exchanges + 3 broadcast builds → 1 + 2).
        hot = (
            shingled.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle")
        )
        b_side = shingled.join(hot, "shingle", "left_anti")
    a, b = shingled.alias("a"), b_side.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(
            F.count("*").alias("common"),
            F.first("a.set_size").alias("size_a"),
            F.first("b.set_size").alias("size_b"),
        )
    )
    return common.select(
        "id_a",
        "id_b",
        F.round(
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def cap_pairs_per_doc(
    pairs: DataFrame,
    cap: int,
    order_by: list,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-document candidate-volume guard for duplicate-saturated
    corpora: keep a pair only if it ranks within the top-``cap``
    neighbors of BOTH endpoints on its side of the canonical
    (id_a < id_b) pair set.

    Why: a verbatim-copy cluster of size c emits C(c,2) ≈ c²/2 pairs —
    the true near-dup answer, but at 100 TB a duplicate-saturated
    corpus would shuffle O(dups²) rows through every downstream join.
    With the cap, per-doc degree is ≤ 2·cap (≤ cap per side), so pair
    volume downstream is linear in corpus size regardless of cluster
    structure. The strongest neighbors survive (``order_by`` should
    rank by similarity, e.g. ``[F.desc("jaccard")]``); ties break on
    the other endpoint's id, making the result deterministic and
    SQL-mirrorable (the dedup_method_agreement DuckDB twin replays
    the same two row_number windows).

    Two row_number windows = two keyed exchanges over the (already
    candidate-bounded) pair set — cheap relative to the unbounded
    downstream join volume they prevent.
    """
    from pyspark.sql import Window as W

    wa = W.partitionBy(id_a).orderBy(*order_by, F.col(id_b))
    wb = W.partitionBy(id_b).orderBy(*order_by, F.col(id_a))
    return (
        pairs.withColumn("_ra", F.row_number().over(wa))
        .withColumn("_rb", F.row_number().over(wb))
        .filter((F.col("_ra") <= cap) & (F.col("_rb") <= cap))
        .drop("_ra", "_rb")
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup, C4-style: every
    paragraph (blank-line-separated block) appears at most once in the
    whole corpus — the FIRST occurrence (smallest (doc_id, position))
    wins, later copies are dropped and the documents are reassembled
    from their surviving paragraphs in order.

    This is the curation stage between document-level dedup (whole-doc
    fingerprints miss shared boilerplate) and line-frequency cleaning
    (which needs a frequency threshold): navigation blocks, license
    headers, and syndicated fragments vanish on their second
    occurrence, deterministically.

    Fingerprint = md5 of the whitespace-collapsed lowercased
    paragraph (engine-portable → fully SQL-oracled). Paragraphs
    shorter than ``min_chars`` after normalization are kept verbatim
    (never deduped — single-word headers repeat legitimately).

    Scale shape: posexplode (narrow) → one (fingerprint)-keyed
    row_number window electing the first occurrence → one
    (fingerprint)-keyed semi-join of survivors → one (doc)-keyed
    reassembly aggregate. Three keyed exchanges, no self-join, no
    pair materialization — linear at any corpus size; the hot key
    (one paragraph duplicated millions of times) costs one window
    partition whose SIZE is the duplicate count but whose output is
    one row.

    Output: (id, text, n_paragraphs, n_kept) with ``text`` rebuilt
    from kept paragraphs joined by blank lines; documents whose every
    paragraph was dropped keep an empty string.
    """
    from pyspark.sql import Window as W

    paras = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.transform(F.split(F.col(text_col), r"\n\s*\n"), lambda p: F.trim(p)),
                lambda p: p != "",
            )
        ).alias("pos", "para"),
    ).withColumn(
        "_norm", F.lower(F.regexp_replace(F.col("para"), r"\s+", " "))
    )
    eligible = F.length("_norm") >= min_chars
    fp = F.when(eligible, F.md5(F.col("_norm")))
    w = W.partitionBy("_fp").orderBy(F.col(id_col), F.col("pos"))
    ranked = paras.withColumn("_fp", fp).withColumn(
        "_rn", F.when(F.col("_fp").isNull(), F.lit(1)).otherwise(F.row_number().over(w))
    )
    kept = ranked.filter(F.col("_rn") == 1)
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
        ).alias("text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    totals = paras.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_paragraphs")
    )
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.coalesce(F.col("n_paragraphs"), F.lit(0)).alias("n_paragraphs"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicate-SPAN removal at k-token granularity — the
    ExactSubstr operation of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"), which REMOVES repeated spans
    instead of dropping whole near-duplicate documents: every k-token
    window that occurs more than once in the corpus survives only at
    its first (doc_id, position) occurrence; all other occurrences'
    token positions are cut and the documents are rebuilt from the
    remaining tokens (space-joined — token-normalized output, like
    the suffix-array reference implementation).

    Companion to :func:`shared_span_pairs` (detection) — this is the
    enforcement side. Window hash = md5 of the space-joined k-token
    window (engine-portable → fully SQL-oracled).

    Scale shape: one posexplode-sized gram frame, one (hash)-keyed
    duplicate filter + first-occurrence window, a k-bounded position
    explode for the losers, one (id, pos)-keyed anti-join, one per-doc
    reassembly aggregate. No self-join, no pair materialization —
    cost is linear in corpus tokens + k × duplicate-window
    occurrences (the size of what's being removed).

    Output: (id, text, n_tokens, n_removed).
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_t")
    )
    grams = toks.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.size("_t") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - k),
                    lambda i: F.md5(F.array_join(F.slice(F.col("_t"), i + 1, k), " ")),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "h"),
    )
    dup = grams.groupBy("h").agg(F.count("*").alias("_n")).filter(F.col("_n") > 1)
    occ = grams.join(dup.select("h"), "h")
    w = W.partitionBy("h").orderBy(F.col(id_col), F.col("pos"))
    losers = occ.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") > 1)
    removal = losers.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("rmpos"),
    ).distinct()
    positions = toks.select(
        F.col(id_col), F.posexplode("_t").alias("rmpos", "tok")
    )
    kept = positions.join(removal, [id_col, "rmpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("rmpos"), F.col("tok")))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text"),
        F.count("*").cast("long").alias("_nkept"),
    )
    totals = toks.select(
        F.col(id_col), F.size("_t").cast("long").alias("n_tokens")
    )
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            (
                F.coalesce(F.col("n_tokens"), F.lit(0))
                - F.coalesce(F.col("_nkept"), F.lit(0))
            ).alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-document repeated spans (substring-level near-dup signal)
# ---------------------------------------------------------------------------


def shared_span_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_span_tokens: int = 10,
    max_df: int | None = None,
) -> DataFrame:
    """Substring-level duplication: per document pair, the longest run
    of tokens in the lower-id document whose every k-gram also occurs
    in the higher-id document, plus how many shingle positions overlap.

    This is the signal suffix-array dedup pipelines extract ("training
    data memorization spans"), re-expressed over a distributed
    inverted k-gram index instead of a monolithic suffix array — the
    same positional-shingle machinery as winnowing (above), but
    measuring CONTIGUOUS overlap length, which set-level Jaccard and
    MinHash cannot see (a 50-token verbatim quote inside two otherwise
    unrelated documents has tiny Jaccard but a 50-token shared span).

    Shape: posexplode k-gram shingles (position rides along) → A-side
    keeps positions, B-side distinct shingles → equi-join on the
    8-byte shingle hash (id_a < id_b) → distinct (pair, pos) →
    gaps-and-islands (pos − row_number() groups consecutive runs) →
    max island + k − 1 = longest shared token span. Every join is a
    keyed shuffle on shingle hash or pair id; nothing is all-pairs.

    ``max_df`` drops shingles occurring in more than that many
    documents before the join — the df-cap that bounds hot-shingle
    pair fan-out at corpus scale (boilerplate k-grams otherwise pair
    everything with everything).

    The join key is a 16-hex-char (64-bit) md5 prefix of the shingle
    (engine-portable, DuckDB-oracle-checkable). 64 bits matter
    here: at corpus scale distinct-shingle counts blow past the ~77k
    birthday bound of a 32-bit key, and a collision manufactures
    phantom span positions between unrelated documents.

    Output: (id_a, id_b, shared_positions, longest_span_tokens),
    filtered to ``longest_span_tokens >= min_span_tokens``.

    Documents with fewer than ``k`` tokens are EXCLUDED: a k-gram
    index cannot attest any span for them (``word_ngrams`` would emit
    a whole-text shingle, which both manufactures phantom k-token
    "spans" between short/empty documents and — at corpus scale —
    pairs every empty document with every other on the single
    md5("") hot key).
    """
    from pyspark.sql import Window as W

    from data_pipeline_childcare_spark.functions.text import token_count

    spread = spread_partitions(df, id_col).filter(token_count(F.col(text_col)) >= k)
    sh = spread.select(
        F.col(id_col),
        F.posexplode(word_ngrams(F.col(text_col), k)).alias("_pos", "_s"),
    ).select(
        id_col,
        "_pos",
        F.substring(F.md5(F.col("_s")), 1, 16).alias("_h"),
    )
    if max_df is not None:
        hot = (
            sh.groupBy("_h")
            .agg(F.count_distinct(id_col).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("_h")
        )
        sh = sh.join(hot, "_h", "left_anti")
    a = sh.alias("a")
    b = sh.select(id_col, "_h").distinct().alias("b")
    hits = (
        a.join(b, (F.col("a._h") == F.col("b._h")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._pos").alias("pos"),
        )
        .distinct()
    )
    w = W.partitionBy("id_a", "id_b").orderBy("pos")
    islands = hits.withColumn("_grp", F.col("pos") - F.row_number().over(w))
    runs = islands.groupBy("id_a", "id_b", "_grp").agg(F.count("*").alias("_run"))
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            F.sum("_run").cast("long").alias("shared_positions"),
            (F.max("_run") + F.lit(k - 1)).cast("long").alias("longest_span_tokens"),
        )
        .filter(F.col("longest_span_tokens") >= min_span_tokens)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Prefix-filtered exact Jaccard (the PPJoin candidate principle,
    Xiao et al. 2008) — IDENTICAL output to
    :func:`ngram_jaccard_pairs` at the same threshold, but the
    candidate self-join indexes only each set's PREFIX: its
    ``|s| − ⌈t·|s|⌉ + 1`` rarest shingles under the global
    (document-frequency ASC, shingle ASC) canonical order.

    Completeness: if two sets share NO element inside both prefixes,
    every common element lies past both prefix boundaries, so
    ``|A∩B| ≤ min(⌈t·|a|⌉, ⌈t·|b|⌉) − 1 < t·max(|a|,|b|) ≤
    t·|A∪B| + t·|A∩B| − t·|A∩B|`` — i.e. J < t. The prefix join is
    therefore lossless for J ≥ t while shrinking the index by the
    factor the threshold buys (t = 0.8 indexes ~20% of postings, and
    rare-first ordering makes the surviving postings the LOW-fanout
    ones — the double win that makes this the set-similarity join to
    run at 100 TB).

    Verification computes the exact intersection per candidate pair
    from the docs' full shingle ARRAYS (two id-keyed joins riding the
    candidate frame — candidate volume is prefix-bounded by
    construction, so the wide arrays never shuffle at corpus scale).

    ``max_df``: the same hot-shingle duplicate-saturation guard as
    :func:`ngram_jaccard_pairs`, with the SAME output semantics —
    shingles in more than ``max_df`` documents leave the index before
    prefix construction AND before the intersection count, while set
    sizes stay the FULL (uncapped) sizes, so the reported jaccard is
    the identical lower bound. The prefix filter stays lossless under
    the cap: prefixes are built from the capped sets with lengths
    derived from the CAPPED set sizes, which guarantees every pair
    with common/(cs_a+cs_b−common) ≥ t is generated; the reported
    jaccard uses the larger full-size denominator and is therefore
    smaller, so its ≥ t survivors are a subset of the guaranteed set.
    """
    spread = spread_partitions(df, id_col)
    base = spread.select(
        F.col(id_col), F.array_distinct(word_ngrams(F.col(text_col), n)).alias("_sh")
    )
    shingled = base.select(
        F.col(id_col),
        F.size("_sh").cast("long").alias("set_size"),
        F.explode("_sh").alias("_s"),
    ).select(id_col, "set_size", F.xxhash64("_s").alias("shingle"))
    # reuse boundary (see the module note): tokenization runs once for
    # the df-cap aggregate and both self-join sides, and the a-side
    # keeps its doc-id layout, so the pair aggregate and the per-doc
    # cap window downstream need no exchange of their own when the
    # b-side broadcasts
    shingled = resilient_checkpoint(shingled)
    if max_df is not None:
        hot = (
            shingled.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle")
        )
        shingled = shingled.join(hot, "shingle", "left_anti")
    dfreq = shingled.groupBy("shingle").agg(F.count("*").alias("_df"))
    ranked = shingled.join(dfreq, "shingle")
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy(F.asc("_df"), F.asc("shingle"))
    if max_df is not None:
        # prefix length must come from the CAPPED set size (the set
        # actually being indexed), not the full one — see docstring
        ranked = ranked.withColumn(
            "_cs", F.count("*").over(W.partitionBy(id_col))
        )
        size_for_prefix = F.col("_cs")
    else:
        size_for_prefix = F.col("set_size")
    prefix_len = size_for_prefix - F.ceil(size_for_prefix * F.lit(threshold)) + 1
    prefix = (
        ranked.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= prefix_len)
        .select(id_col, "shingle")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    if max_df is None:
        sa = base.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"))
        sb = base.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"))
        verified = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("_sh_a", "_sh_b")).cast("long").alias("common"),
                F.size("_sh_a").cast("long").alias("size_a"),
                F.size("_sh_b").cast("long").alias("size_b"),
            )
        )
    else:
        # intersection over CAPPED shingle sets, denominators from the
        # FULL sizes — exactly ngram_jaccard_pairs' capped semantics
        side = shingled.groupBy(id_col).agg(
            F.collect_list("shingle").alias("_shc"),
            F.first("set_size").alias("_fs"),
        )
        sa = side.select(
            F.col(id_col).alias("id_a"),
            F.col("_shc").alias("_sh_a"),
            F.col("_fs").alias("_fs_a"),
        )
        sb = side.select(
            F.col(id_col).alias("id_b"),
            F.col("_shc").alias("_sh_b"),
            F.col("_fs").alias("_fs_b"),
        )
        verified = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("_sh_a", "_sh_b")).cast("long").alias("common"),
                F.col("_fs_a").alias("size_a"),
                F.col("_fs_b").alias("size_b"),
            )
        )
    return verified.select(
        "id_a",
        "id_b",
        F.round(
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_u: int = 500_000,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC shingle containment — the excerpt/quote detector
    Jaccard structurally misses: a 50-shingle snippet fully inside a
    5000-shingle page has C(snippet→page) = 1.0 but Jaccard ≈ 0.01.
    ``C(A→B) = |A∩B| / |A|`` (Broder's containment, the other half of
    the resemblance/containment pair).

    Same inverted-index shape as :func:`ngram_jaccard_pairs` (distinct
    shingles → hashed self-join → per-pair intersection counts with
    set sizes riding along; optional ``max_df`` hot-shingle cap with
    the identical lower-bound contract). Emits one row per candidate
    pair with BOTH directions — (id_a, id_b, common, size_a, size_b,
    containment_a_u, containment_b_u) — filtered on the LARGER
    direction ≥ ``threshold_u``; fractions are integer micros (the
    fixed-point discipline), so the gate is engine-exact."""
    spread = spread_partitions(df, id_col)
    base = spread.select(
        F.col(id_col), F.array_distinct(word_ngrams(F.col(text_col), n)).alias("_sh")
    )
    shingled = base.select(
        F.col(id_col),
        F.size("_sh").cast("long").alias("set_size"),
        F.explode("_sh").alias("_s"),
    ).select(id_col, "set_size", F.xxhash64("_s").alias("shingle"))
    # reuse boundary (see the module note): tokenization runs once for
    # the df-cap aggregate and both self-join sides, and the a-side
    # keeps its doc-id layout, so the pair aggregate and the per-doc
    # cap window downstream need no exchange of their own when the
    # b-side broadcasts
    shingled = resilient_checkpoint(shingled)
    b_side = shingled
    if max_df is not None:
        # b-side-only anti-join: the inner join's shingle equality makes
        # filtering the a side redundant (see ngram_jaccard_pairs)
        hot = (
            shingled.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle")
        )
        b_side = shingled.join(hot, "shingle", "left_anti")
    a, b = shingled.alias("a"), b_side.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(
            F.count("*").cast("long").alias("common"),
            F.first("a.set_size").alias("size_a"),
            F.first("b.set_size").alias("size_b"),
        )
    )
    scored = common.select(
        "id_a",
        "id_b",
        "common",
        "size_a",
        "size_b",
        F.expr("cast(common * 1000000 div size_a as bigint)").alias(
            "containment_a_u"
        ),
        F.expr("cast(common * 1000000 div size_b as bigint)").alias(
            "containment_b_u"
        ),
    )
    return scored.filter(
        F.greatest("containment_a_u", "containment_b_u") >= threshold_u
    )
