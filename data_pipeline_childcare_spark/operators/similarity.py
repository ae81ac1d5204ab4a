"""Similarity search over embedding columns (ARRAY<FLOAT>).

Two paths:
- brute-force cosine top-k: the correctness baseline. Queries are a
  SMALL set → broadcast them against the corpus; score is pure column
  math (zip_with dot product); top-k via windowed row_number. One
  narrow pass over the corpus + one shuffle for the window.
- LSH-bucketed (random hyperplane signs): the scale path. Corpus and
  queries are hashed to sign-pattern buckets; candidate set = same
  bucket (multi-probe by hamming-adjacent buckets optional); exact
  re-score only within candidates. At 100 TB the corpus pass stays a
  scan + narrow transform; the join is keyed by bucket hash.

No MLlib dependency: hyperplanes are generated deterministically from
a seed with xxhash64-derived pseudo-randoms, so results are
reproducible across engines and runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.io import held, resilient_checkpoint


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0).cast("double"), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _md5_seed_order(id_col: str) -> Column:
    """The family's canonical seed order (:func:`kmeans_lite`,
    :func:`pq_codebooks`, :func:`kcenter_select`): the first 15 hex
    digits of md5(id) as a BIGINT — engine-portable, so a SQL oracle
    reproduces the seed set and order (xxhash64 would not)."""
    return F.expr(
        f"cast(conv(substring(md5(cast(`{id_col}` as string)), 1, 15), 16, 10) as bigint)"
    )


def _rank_topk(
    scored: DataFrame, score_col: str, k: int, query_id_col: str, id_col: str
) -> DataFrame:
    """The ANN top-k operators' one per-query ranking: ``rank`` =
    row_number over (``score_col`` desc, id asc) per query, keeping
    rank ≤ ``k``."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc(score_col), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _shortlist_topk(
    scored: DataFrame,
    score_col: str,
    k: int,
    rerank_shortlist: int | None,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Top-``k`` by an approximate ``score_col`` (PQ-ADC, IVF-PQ, SQ8).
    With ``rerank_shortlist``, the IVFADC-style exact re-rank: the
    approximate pass only SHORTLISTS its top ``rerank_shortlist``; the
    true vectors are fetched for that shortlist alone and re-scored
    with exact cosine, ranked by ``cosine_sim`` (``score_col`` kept).
    At 100 TB this is the standard two-stage read: the cheap pass
    touches codes, the full-vector read touches |Q|·shortlist rows."""
    if rerank_shortlist is None:
        return _rank_topk(scored, score_col, k, query_id_col, id_col)
    shortlist = _rank_topk(
        scored, score_col, rerank_shortlist, query_id_col, id_col
    ).select(query_id_col, id_col, score_col)
    qv = queries.select(
        F.col(query_id_col), F.col(query_vec_col).cast("array<double>").alias("_qv")
    )
    cand = (
        shortlist.join(
            corpus.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv")
            ),
            id_col,
        )
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col,
            id_col,
            score_col,
            F.round(cosine(F.col("_cv"), F.col("_qv")), 6).alias("cosine_sim"),
        )
    )
    return _rank_topk(cand, "cosine_sim", k, query_id_col, id_col)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    candidate_filter: Column | None = None,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries`` must be small (it is crossJoin-broadcast against the
    corpus). Returns (query_id, [payload_cols...,] vec_id, cosine_sim,
    rank). Excludes self-matches when ids collide.

    ``candidate_filter`` is an extra predicate over the joined
    (corpus × query) row applied BEFORE the ranking window — the hook
    label-aware variants (hard-negative mining) use so excluded rows
    never consume rank positions. ``payload_cols`` are corpus columns
    carried through to the output.
    """
    joined = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col(query_id_col) != F.col(id_col)
    )
    if candidate_filter is not None:
        joined = joined.filter(candidate_filter)
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col),
        *[F.col(c) for c in payload_cols],
        F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("cosine_sim"),
    )
    return _rank_topk(scored, "cosine_sim", k, query_id_col, id_col)


def _verbatim_reps(
    df: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """Collapse verbatim-duplicate vectors to their min-id
    representative BEFORE near-dup candidate generation — the
    standard 100 TB staging (exact dedup precedes ANN) and the cure
    for duplicate saturation: c identical vectors share every
    LSH/IVF bucket, so pair volume grows c² per clone group while
    the distinct-vector problem is unchanged.

    Returns (reps, dropped_ids). Result-preserving for every
    dedup-by-dominator consumer with threshold ≤ 1: a non-rep is
    ALWAYS dominated by its rep (identical non-degenerate vectors
    give rounded cosine exactly 1.0 ≥ threshold with the rep's
    smaller id), and any dominance witness u for a rep r implies the
    rep-level witness rep(u) with id ≤ u's id — so rep-level
    candidates decide the identical kept set and the SQL twins
    replaying the uncollapsed formulation still hash-match.
    Degenerate (zero-norm) vectors: the session's ANSI mode throws
    DIVIDE_BY_ZERO from the cosine's norm product whenever a
    degenerate pair reaches the verify — which the rep-level verify
    still does for any cross-group degenerate pair (pinned by
    test_embedding_cosine_dedup_verbatim_collapse_saturation). The
    one divergence is a corpus whose degenerate vectors are ALL
    verbatim clones of each other: the uncollapsed verify would
    throw on the clone pair, the collapsed form skips it and returns
    the kept set DuckDB's NaN-ordering twin computes — divergence
    only swaps an ANSI error for the oracle's answer.
    The groupBy keys on the vector itself (Spark normalizes NaN and
    signed zeros in grouping keys; vectors equal under that
    normalization have exactly equal cosines, so the grouping is
    dominance-safe). NULL-vector rows never collapse: the dominance
    argument needs cosine(clone, rep) == 1.0 and NULL cosines are
    NULL (never ≥ threshold), so every NULL row stays its own rep —
    routed around the vec-keyed join, whose NULL keys would otherwise
    silently DROP the rows (join keys never match NULL = NULL)."""
    nulls = df.filter(F.col(vec_col).isNull())
    with_rep = _verbatim_rep_mapping(df, id_col, vec_col)
    reps = (
        with_rep.filter(F.col(id_col) == F.col("_rep_id"))
        .drop("_rep_id")
        .unionByName(nulls)
    )
    dropped = with_rep.filter(F.col(id_col) != F.col("_rep_id")).select(
        F.col(id_col)
    )
    return reps, dropped


def _verbatim_rep_mapping(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Non-NULL rows annotated with their min-id verbatim rep
    (``_rep_id``) — the single shared grouping both
    :func:`_verbatim_reps` and :func:`semdedup`'s collapse build on,
    so the NULL-routing and dominance rules live in one place.
    NULL-vector rows are EXCLUDED (callers route them as their own
    reps; see :func:`_verbatim_reps`)."""
    nn = df.filter(F.col(vec_col).isNotNull())
    grp = nn.groupBy(vec_col).agg(F.min(id_col).alias("_rep_id"))
    return nn.join(grp, [vec_col])


# The collapse drops non-reps UNCONDITIONALLY on the argument that
# round(cosine(v, v), ndigits) == 1.0 ≥ threshold. cosine(v, v) is
# computed, not assumed: dot/(sqrt·sqrt) carries a few ulps of float
# error (≤ ~1e-15 near 1.0), so the argument only holds while the
# rounding tolerance 0.5·10^-ndigits dominates that error. 12 digits
# (tolerance 5e-13) leaves >two orders of margin; beyond it the
# self-cosine is not PROVABLY 1.0 and the collapse must be bypassed.
_COLLAPSE_SAFE_NDIGITS = 12


def _reps_for_dedup(
    df: DataFrame, id_col: str, vec_col: str, ndigits: int
) -> tuple[DataFrame, DataFrame]:
    """Verbatim-collapse when the dominance argument holds at this
    rounding precision; otherwise the identity split (every row its
    own rep, nothing pre-dropped) so correctness never rests on an
    unproven self-cosine rounding."""
    if ndigits <= _COLLAPSE_SAFE_NDIGITS:
        return _verbatim_reps(df, id_col, vec_col)
    return df, df.select(F.col(id_col)).limit(0)


def embedding_cosine_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    ndigits: int = 6,
) -> DataFrame:
    """Embedding near-duplicate dedup: drop every row whose vector has
    cosine ≥ ``threshold`` with ANY smaller-id row.

    This is the EXACT baseline (all-pairs enumeration, broadcast
    nested-loop on the id inequality) — correct at any n, quadratic in
    n, and the shape the SQL oracle can replicate. At corpus scale use
    :func:`embedding_cosine_dedup_lsh`, which swaps the candidate
    generator for multi-table LSH buckets and keeps the identical
    verify-then-anti-join tail (recall-tested in test_similarity.py).
    The cosine is rounded BEFORE thresholding so float boundary rows
    land on the same side in any engine. Verbatim duplicates collapse
    to their min-id representative first (see :func:`_verbatim_reps`
    for the exactness argument) — the all-pairs enumeration then runs
    on distinct vectors only, so clone-saturated corpora don't square
    their clone counts through the theta join.
    """
    if threshold > 1.0 or threshold != threshold:
        # Rounded cosine never exceeds 1.0, so the duplicate set is
        # provably empty — callers use >1.0 as "disable"; degrade to
        # the no-op dedup instead of raising. A NaN threshold (never
        # comparable) must ALSO disable: letting it through would
        # qualify zero near-dup pairs yet still drop verbatim clones
        # via the collapse, a half-applied dedup.
        return df
    reps, nonreps = _reps_for_dedup(df, id_col, vec_col, ndigits)
    a = reps.select(F.col(id_col).alias("_ia"), F.col(vec_col).alias("_va"))
    b = reps.select(F.col(id_col).alias("_ib"), F.col(vec_col).alias("_vb"))
    dups = (
        a.join(b, F.col("_ia") < F.col("_ib"))
        .filter(F.round(cosine(F.col("_va"), F.col("_vb")), ndigits) >= threshold)
        .select(F.col("_ib").alias(id_col))
        .distinct()
        .unionByName(nonreps)
    )
    return df.join(dups, id_col, "left_anti")


def embedding_cosine_dedup_lsh(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 3,
    n_tables: int = 24,
    ndigits: int = 6,
) -> DataFrame:
    """Scale path for :func:`embedding_cosine_dedup` — same
    verify-then-anti-join tail, but candidate pairs come from
    multi-table random-hyperplane LSH instead of the all-pairs theta
    join: two rows are candidates iff they share a bucket in ANY of
    ``n_tables`` independent tables (recall ≈ 1-(1-p^b)^L where
    p = 1 - θ/π).

    The self-join is an equi-join on (table, bucket) — candidate
    volume is bounded by bucket occupancy, never |n|², and the shuffle
    key is uniform. Defaults (3 planes × 24 tables) give >0.99
    expected recall even for cosine ≈ 0.4 boundary pairs (p ≈ 0.64 →
    1-(1-p³)²⁴ ≈ 0.999) — but shallow buckets barely prune at such a
    weak threshold; production dedup at threshold ≥ 0.85 should use
    deeper, fewer tables (``n_planes=8, n_tables=12`` → recall ≈ 0.98
    at ~1/20th the candidate volume). Exactness per candidate is
    identical to the baseline: the rounded cosine decides, so false
    candidates can't create false drops — LSH only affects which true
    pairs are SEEN (recall), not verification.
    """
    # Candidate generation is NARROW: (id, table, bucket) only — the
    # vectors must NOT ride the bucket self-join. A duplicate-
    # saturated corpus (c identical vectors share every table's
    # bucket) emits Σ|bucket|² candidate rows; with ~1 KB vector
    # payloads that shuffle measured 100s of GB of sort spill at the
    # 10× bench (out-of-disk), while the narrow form is 16 B/row.
    # Pairs dedup on the narrow frame (one cosine per DISTINCT pair),
    # then vectors join back BY ID — broadcastable when the corpus
    # fits, an id-keyed linear shuffle join when it doesn't.
    # Verbatim duplicates collapse to their min-id rep BEFORE hashing
    # (identical vectors share every table's bucket — a c-clone group
    # would emit c² candidate rows per table; see _verbatim_reps for
    # why the kept set is provably unchanged).
    if threshold > 1.0 or threshold != threshold:
        # Rounded cosine never exceeds 1.0, so the duplicate set is
        # provably empty — callers use >1.0 as "disable"; degrade to
        # the no-op dedup instead of raising. A NaN threshold (never
        # comparable) must ALSO disable: letting it through would
        # qualify zero near-dup pairs yet still drop verbatim clones
        # via the collapse, a half-applied dedup.
        return df
    reps, nonreps = _reps_for_dedup(df, id_col, vec_col, ndigits)
    tables = F.posexplode(
        F.array(*[lsh_bucket(vec_col, dim, n_planes, table=t) for t in range(n_tables)])
    ).alias("_table", "_bucket")
    hashed = reps.select(F.col(id_col), tables)
    a = hashed.select(F.col(id_col).alias("_ia"), "_table", "_bucket")
    b = hashed.select(F.col(id_col).alias("_ib"), "_table", "_bucket")
    cand = (
        a.join(b, ["_table", "_bucket"])
        .filter(F.col("_ia") < F.col("_ib"))
        .select("_ia", "_ib")
        .distinct()
    )
    va = reps.select(F.col(id_col).alias("_ia"), F.col(vec_col).alias("_va"))
    vb = reps.select(F.col(id_col).alias("_ib"), F.col(vec_col).alias("_vb"))
    dups = (
        cand.join(va, "_ia")
        .join(vb, "_ib")
        .filter(F.round(cosine(F.col("_va"), F.col("_vb")), ndigits) >= threshold)
        .select(F.col("_ib").alias(id_col))
        .distinct()
        .unionByName(nonreps)
    )
    return df.join(dups, id_col, "left_anti")


def _hyperplane(dim: int, plane_idx: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random hyperplane component values in [-1,1]
    derived from a splitmix-style integer mix — reproducible anywhere."""
    out = []
    for d in range(dim):
        x = (plane_idx * 1_000_003 + d * 7_919 + seed) & 0xFFFFFFFFFFFFFFFF
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
        x = x ^ (x >> 31)
        out.append((x % 2_000_001) / 1_000_000.0 - 1.0)
    return out


def _lsh_bucket_sql(vec_sql: str, dim: int, n_planes: int, seed: int, table: int) -> str:
    bits = []
    for p in range(n_planes):
        arr = "array(" + ",".join(
            repr(v) + "D" for v in _hyperplane(dim, table * 10_007 + p, seed)
        ) + ")"
        dot = f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
        bits.append(f"(CASE WHEN {dot} >= 0.0D THEN shiftleft(1L, {p}) ELSE 0L END)")
    return "(" + " | ".join(bits) + ")"


def lsh_bucket(
    vec_col: Column | str, dim: int, n_planes: int = 12, seed: int = 42, table: int = 0
) -> Column:
    """Random-hyperplane LSH bucket id: sign bits packed into a BIGINT.
    ``table`` offsets the hyperplane seeds so independent tables hash
    with independent plane sets.

    Pass the vector column NAME (string) where possible: the whole
    bucket then builds as ONE parsed SQL expression instead of
    ~15 py4j round-trips per plane — identical semantics, ~50× less
    plan-build latency (py4j is milliseconds per call; a 12-plane
    bucket is hundreds of calls)."""
    if isinstance(vec_col, str):
        return F.expr(_lsh_bucket_sql(f"`{vec_col}`", dim, n_planes, seed, table))
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.expr(
            "array(" + ",".join(repr(v) + "D" for v in _hyperplane(dim, table * 10_007 + p, seed)) + ")"
        )
        bit = F.when(_dot(vec_col, plane) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(F.shiftleft(bit, p))
    return bucket


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate cosine top-k with OR-amplified multi-table LSH:
    a candidate matches if it shares a bucket in ANY of ``n_tables``
    independent hash tables (recall ≈ 1-(1-p^b)^L), then exact
    re-score over the deduplicated candidate set.

    Dials: ``n_planes`` (bits per table — bucket size), ``n_tables``
    (recall amplification — candidate volume). The corpus-side bucket
    array is a narrow projection; the candidate join is an equi-join
    on (table, bucket); dedup before scoring keeps the expensive
    cosine to one evaluation per distinct candidate pair.
    """
    tables = F.posexplode(
        F.array(*[lsh_bucket(vec_col, dim, n_planes, table=t) for t in range(n_tables)])
    ).alias("_table", "_bucket")
    q_tables = F.posexplode(
        F.array(*[lsh_bucket(query_vec_col, dim, n_planes, table=t) for t in range(n_tables)])
    ).alias("_table", "_bucket")
    c = corpus.select(id_col, vec_col, tables)
    q = queries.select(query_id_col, query_vec_col, q_tables)
    cand = (
        c.join(F.broadcast(q), ["_table", "_bucket"])
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(query_id_col, id_col, vec_col, query_vec_col)
        .dropDuplicates([query_id_col, id_col])
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("cosine_sim"),
        )
    )
    return _rank_topk(cand, "cosine_sim", k, query_id_col, id_col)


def embedding_cosine_dedup_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_cells: int | str = 16,
    n_assign: int = 4,
    iterations: int = 2,
    ndigits: int = 6,
    occupancy_guard_factor: float | None = None,
) -> DataFrame:
    """IVF candidate generation for :func:`embedding_cosine_dedup` —
    the third member of the family (exact all-pairs / LSH / IVF), same
    verify-then-anti-join tail.

    Each vector is assigned to its ``n_assign`` nearest k-means cells
    (multi-assignment catches pairs straddling a cell boundary, the
    IVF analog of LSH's multiple tables); candidates are pairs sharing
    ANY cell — an equi-join on the cell id, so candidate volume is
    bounded by cell occupancy (~(n_assign·n/k)² per cell), never n².
    Size ``n_cells`` ~ √n so occupancy stays bounded as the corpus
    grows — pass ``n_cells="auto"`` to derive it from an exact
    distinct-vector count (:func:`auto_n_cells`, round-11 advice: the
    knob is now engineered, not manual), and/or set
    ``occupancy_guard_factor`` to fail loudly before a mis-sized cell
    layout runs its quadratic stage (:func:`_guard_cell_occupancy`).
    Recall is governed by ``n_assign`` (deeper assignment for
    WEAK thresholds, whose pairs sit far apart: n_assign=4 measures
    recall ≥0.98 at threshold 0.4 on the test corpus, n_assign=2
    suffices at ≥0.85).
    Verification is the identical rounded-cosine filter, so false
    candidates can't cause false drops. Versus LSH: IVF adapts to the
    data distribution (cells follow density; hyperplanes are
    data-blind) at the cost of the quantizer's k-means passes —
    the right trade when the corpus is clustered, which embedding
    corpora are.
    """
    if threshold > 1.0 or threshold != threshold:
        # Rounded cosine never exceeds 1.0 (and NaN never compares) —
        # no-op dedup, not an error or a clones-only half-dedup.
        return df
    n_cells = _resolve_n_cells(df, n_cells, vec_col, "embedding_cosine_dedup_ivf")
    # The quantizer trains on the FULL corpus (so the canonical
    # trajectory the SQL twin replays is untouched), but assignment
    # and candidate generation run on verbatim-collapsed reps only —
    # identical vectors land in identical cells, so a c-clone group
    # would emit c² candidate rows per shared cell while the kept set
    # is provably unchanged (see _verbatim_reps).
    centroids = kmeans_lite(df, k=n_cells, iterations=iterations, id_col=id_col, vec_col=vec_col)
    reps, nonreps = _reps_for_dedup(df, id_col, vec_col, ndigits)
    assigned = _assign_cells(
        reps.select(id_col, vec_col), centroids, id_col, vec_col, n_assign
    )
    if occupancy_guard_factor is not None:
        _guard_cell_occupancy(
            assigned, occupancy_guard_factor, "embedding_cosine_dedup_ivf"
        )
    # Narrow candidates + verify-by-id-join — same remediation as the
    # LSH variant (see its inline note): the cell self-join must not
    # carry vector payloads through the pair-dedup shuffle.
    a = assigned.select(F.col(id_col).alias("_ia"), "cell")
    b = assigned.select(F.col(id_col).alias("_ib"), "cell")
    cand = (
        a.join(b, ["cell"])
        .filter(F.col("_ia") < F.col("_ib"))
        .select("_ia", "_ib")
        .distinct()
    )
    va = reps.select(F.col(id_col).alias("_ia"), F.col(vec_col).alias("_va"))
    vb = reps.select(F.col(id_col).alias("_ib"), F.col(vec_col).alias("_vb"))
    dups = (
        cand.join(va, "_ia")
        .join(vb, "_ib")
        .filter(F.round(cosine(F.col("_va"), F.col("_vb")), ndigits) >= threshold)
        .select(F.col("_ib").alias(id_col))
        .distinct()
        .unionByName(nonreps)
    )
    return df.join(dups, id_col, "left_anti")


# --- cell-count auto-sizing (round-11 advice: the last manual scale
# knob). The IVF/SemDeDup candidate stage self-joins within cells, so
# its volume is Σ|cell|² — bounded only if n_cells grows with the
# DISTINCT corpus (verbatim clones collapse before assignment; near-
# dup-but-non-identical vectors do not). The √n rule keeps balanced
# within-cell work at n^1.5 total candidate rows (k=√n cells of √n
# vectors each → n·√n pairs), the classic IVF sizing every production
# ANN system uses. The formula is engine-portable — ceil(sqrt(n)) in
# IEEE doubles, clamped to [4, 4096] (the kmeans_lite driver-model
# cap) — so a SQL oracle reproduces the chosen k exactly from the
# same distinct-count.
AUTO_CELLS_MIN = 4
AUTO_CELLS_MAX = 4096  # kmeans_lite's driver-model cap


def auto_n_cells(n_distinct: int) -> int:
    """√n cell-count rule: ``clamp(ceil(sqrt(n)), 4, 4096)``.

    Pure and engine-portable (IEEE-double sqrt/ceil — DuckDB twin:
    ``least(4096, greatest(4, CAST(ceil(sqrt(n)) AS BIGINT)))``).
    """
    import math

    if n_distinct <= 0:
        return AUTO_CELLS_MIN
    return max(AUTO_CELLS_MIN, min(AUTO_CELLS_MAX, int(math.ceil(math.sqrt(float(n_distinct))))))


def _resolve_n_cells(corpus: DataFrame, n_cells, vec_col: str, fn_name: str) -> int:
    """Resolve an ``n_cells`` parameter: integers pass through;
    ``"auto"`` derives k from an exact distinct-vector count (one
    cheap aggregate job at plan-build time, the same inversion
    :func:`kmeans_lite` already documents). The count is over DISTINCT
    non-NULL vectors — exactly the population the quantizer trains on
    and the verbatim collapse cannot shrink."""
    if n_cells != "auto":
        return int(n_cells)
    _warn_build_time_training(fn_name)
    n = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(vec_col).cast("array<double>"))
        .distinct()
        .count()
    )
    return auto_n_cells(n)


def _guard_cell_occupancy(
    assigned: DataFrame, factor: float, fn_name: str
) -> None:
    """Loud occupancy guard for cell-keyed self-joins: raises when the
    candidate volume Σ|cell|² exceeds ``factor · n^1.5`` — the volume
    of a balanced √n-cell layout (n rows in √n cells of √n each give
    exactly n^1.5 candidate rows), so ``factor`` is "how many times
    worse than the ideal √n sizing am I willing to run". NOTE: ``n``
    is the ASSIGNED-row count — under multi-assignment
    (embedding_cosine_dedup_ivf, n_assign=4) that is n_assign × the
    vector count, so both Σ|cell|² and the n^1.5 bound are inflated
    together and a given ``factor`` is a stricter promise than under
    semdedup's single-assignment layout (a balanced layout still
    passes at factor ≥ n_assign^0.5; calibrate factor per caller).
    Fires BEFORE the quadratic stage executes; one small aggregate job
    (cell counts are model-sized). Trip it → re-run with
    ``n_cells="auto"`` (or a larger explicit k)."""
    row = (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            # DECIMAL(38,0): a hot cell's count² can pass BIGINT at
            # extreme skew — the guard must report, not overflow
            F.coalesce(
                F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_c")), F.lit(0)
            ).alias("_sq"),
            F.coalesce(F.sum("_c"), F.lit(0)).alias("_n"),
            F.coalesce(F.max("_c"), F.lit(0)).alias("_max"),
        )
        .collect()[0]
    )
    bound = factor * (float(row["_n"]) ** 1.5)
    if float(row["_sq"]) > bound:
        raise ValueError(
            f"{fn_name}: cell occupancy Σ|cell|²={row['_sq']} exceeds "
            f"{factor}·n^1.5={bound:.0f} (n={row['_n']}, largest cell "
            f"{row['_max']}) — the within-cell pair join would run "
            f"far past the balanced-√n volume. Size n_cells ~ √n "
            f"(pass n_cells='auto') or raise occupancy_guard_factor "
            f"if the skew is intended."
        )


def kmeans_lite(
    corpus: DataFrame,
    k: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Few-iteration Lloyd's k-means, MLlib-shaped: the CORPUS stays
    distributed (assign via broadcast-centroid crossJoin + windowed
    argmin, means via posexplode + CANONICAL rounding —
    round(round(sum,6)/n, 6), the finalize_rollup discipline, so
    centroids are identical under any partition summation order AND
    across engines); the k-row CENTROID model lives on the DRIVER
    between iterations, exactly as MLlib's KMeans holds its centers.
    Init: k seeds ordered by an md5-derived id hash (engine-portable,
    so a SQL oracle reproduces the seed set and order — xxhash64
    would not be).

    Why driver-resident centroids: each iteration is ONE aggregate
    job collecting k model-sized rows (guarded: k > 4096 fails
    loudly) and the next iteration's centroids enter the plan as
    literals (:func:`_assign_cells`) — no unrolled lineage, no
    checkpoint stage chains. The previous all-lazy formulation paid
    ``n_callers × iterations`` checkpoint/window micro-stages of pure
    scheduling latency (measured: the sf0.01 ann_recall_audit gate
    row spent 13.5 of its 16 s in that fixed overhead). Centroid
    VALUES are identical (the collect only moves the k rows, the math
    is the same aggregates), so SQL-oracle parity is unaffected.

    NOTE plan-BUILD now runs the training jobs (the collect happens
    while the caller constructs its DataFrame) — callers pinned in
    tests/test_plan_contracts.py's zero-job build audit must sit in
    its ``checkpoint_builders`` whitelist.

    The trained model is held on the ``corpus`` handle per (k,
    iterations, id_col, vec_col) (:func:`io.held`): a later call with
    the same handle returns it without a job. It is a snapshot of the
    handle's inputs at the first build; a new handle trains afresh.

    Returns (cell INT, centroid ARRAY<DOUBLE>).
    """
    if k > 4096:
        raise ValueError(
            f"kmeans_lite k={k} exceeds the 4096 driver-model cap — "
            "the centroid frame is model-sized by contract"
        )
    spark = corpus.sparkSession

    def cent_df(pairs):
        return _attach_local_rows(
            spark.createDataFrame(pairs, "cell int, centroid array<double>"),
            pairs,
        )

    def fit():
        _warn_build_time_training("kmeans_lite")
        # a NULL vector is not trainable input: as a seed it crashes
        # the centroid collect, and in the Lloyd update its NULL
        # components poison the mean of whatever cell it lands in
        # (zip_with sums propagate NULL). Quantizers train on the
        # non-NULL corpus; NULL rows are a consumer concern (they
        # assign NULL cosines and can never qualify a match). No-op on
        # NULL-free corpora, so the canonical oracle trajectory is
        # untouched.
        # One lazy checkpoint of the (id, vec) training projection:
        # every iteration (and the seed scan) would otherwise re-run the
        # corpus scan + spread exchange — MLlib's KMeans caches its input
        # for exactly this reason. Freed on GC, never CacheManager-
        # registered (no cross-run reuse).
        train = resilient_checkpoint(
            corpus.filter(F.col(vec_col).isNotNull()).select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
            )
        )
        seed_rows = (
            train.withColumn("_r", _md5_seed_order(id_col))
            .orderBy("_r")
            .limit(k)
            .select("_r", F.col(vec_col).alias("centroid"))
            .collect()
        )
        cents = [
            (i + 1, list(r["centroid"]))
            for i, r in enumerate(sorted(seed_rows, key=lambda r: r["_r"]))
        ]
        for _ in range(iterations):
            if not cents:
                # empty trainable corpus (no rows, or every vector NULL)
                # or a degenerate update (all-empty-array vectors
                # explode to zero rows): no model to refine — return
                # the empty model
                break
            assigned = _assign_cells(train, cent_df(cents), id_col, vec_col)
            exploded = assigned.select(
                "cell", F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v")
            )
            per_pos = exploded.groupBy("cell", "pos").agg(
                F.round(F.round(F.sum("v"), 6) / F.count("v"), 6).alias("m")
            )
            cents = _lloyd_update(per_pos, ["cell"], cents)
        return cent_df(cents)

    return held(corpus, ("kmeans_lite", k, iterations, id_col, vec_col), fit)


# literal-assignment gate: total doubles shipped into the plan as
# centroid literals. Past this, expression-tree size (SQL parse +
# analysis) outgrows what the crossJoin+window path costs.
_LIT_ASSIGN_MAX_DOUBLES = 32768


def _literal_side(rows) -> bool:
    """The ANN family's one literal-or-distributed decision. A model
    takes the literal side iff its driver-side rows are known
    (:func:`_local_rows`), non-empty, and hold at most
    ``_LIT_ASSIGN_MAX_DOUBLES`` doubles; an untagged frame, an empty
    model or a larger one takes the distributed side (broadcast join +
    window, or a distributed roll-up), which returns the same rows."""
    return bool(rows) and sum(len(r[-1]) for r in rows) <= _LIT_ASSIGN_MAX_DOUBLES


def _lloyd_update(per_pos: DataFrame, keys: list, model: list) -> list:
    """One Lloyd step's new model rows ``[(*key, centroid), ...]``,
    sorted by key, from the per-position means ``(*keys, pos, m)`` of
    :func:`kmeans_lite` / :func:`pq_codebooks`. ``m`` is already the
    final Spark-rounded value, so the driver only groups (bit-identical
    on both sides). Literal side: collect the (key, pos, m) rows and
    group them driver-side, which skips a second aggregate's
    exchange+sort per iteration. Distributed side (a huge ``model``):
    roll each centroid up with collect_list first instead of a
    multi-million-row collect."""
    if _literal_side(model):
        by_key: dict[tuple, list] = {}
        for r in per_pos.collect():
            by_key.setdefault(tuple(r[c] for c in keys), []).append(
                (r["pos"], r["m"])
            )
        return sorted(
            (*key, [m for _, m in sorted(pm)]) for key, pm in by_key.items()
        )
    rows = per_pos.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("centroid")
    ).collect()
    return sorted(
        ((*(r[c] for c in keys), list(r["centroid"])) for r in rows),
        key=lambda t: t[:-1],
    )


def _dlit_sql(v: float) -> str:
    """Render one double as a SQL literal that parses back to the SAME
    bits (repr is the shortest round-tripping decimal; both Python and
    Java parse it correctly rounded)."""
    import math as _math

    if v is None:
        # NULL-poisoned centroid components (a vector with NULL
        # elements passes the isNotNull VECTOR filter; F.sum over an
        # all-NULL position yields m=NULL) — render as SQL NULL so the
        # literal path matches the old distributed path's NULL
        # propagation instead of raising TypeError (r13 advice, low).
        return "cast(null as double)"
    v = float(v)
    if _math.isnan(v):
        return "cast('NaN' as double)"
    if _math.isinf(v):
        return f"cast('{'-' if v < 0 else ''}Infinity' as double)"
    return repr(v) + "D"


def _alit_sql(c) -> str:
    return "array(" + ",".join(_dlit_sql(x) for x in c) + ")"


# SQL renderings of _dot/_norm with the IDENTICAL fold
# order, so literal-centroid assignment produces bit-identical doubles
# to the crossJoin form (one expression string = one parse; building
# the same tree through F.lit(list) costs one py4j round-trip per
# array ELEMENT, which dominated the whole Lloyd iteration).
def _dot_sql2(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm_sql2(a: str) -> str:
    return f"sqrt(aggregate({a}, cast(0.0 as double), (acc, v) -> acc + v * v))"


def _dot_py(a, b) -> float | None:
    """Driver-side fold of :func:`_dot` over two literal vectors —
    IDENTICAL operation order (left fold of correctly-rounded IEEE
    multiply-add), so the result is bit-identical to evaluating the
    SQL expression, just folded at plan-build time. NULL-poisoned
    components propagate to None exactly like the SQL NULL."""
    s = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        s += x * y
    return s


def _norm_py(c) -> float | None:
    """Driver-side fold of :func:`_norm` over a literal vector —
    bit-identical (same fold order, IEEE sqrt is correctly rounded)."""
    import math as _math

    s = 0.0
    for x in c:
        if x is None:
            return None
        s += x * x
    return _math.sqrt(s)


def _bind1_sql(val_sql: str, var: str, body_sql: str) -> str:
    """SQL LET: evaluate ``val_sql`` ONCE, bind it to lambda variable
    ``var``, evaluate ``body_sql`` in that scope. Why: CollapseProject
    inlines upstream projection columns into every textual occurrence
    downstream, so a literal-centroid expression referencing its input
    vector k× would re-run the vector's cast/zip_with chain k× per
    row (measured: the r14 fused-codes first cut regressed ivfpq
    ~40% from exactly this). ``transform(array(x), v -> body)[1]``
    is the canonical HOF binding idiom — one evaluation, one tiny
    array allocation."""
    return f"element_at(transform(array({val_sql}), {var} -> {body_sql}), 1)"


# Ordering note shared by the literal argmin/argmax/top-n builders:
# Spark's interpreted ordering on DOUBLE (used identically by
# SortOrder/row_number, least/greatest, and sort_array) is total:
# NULL < -Inf < finite ascending (with -0.0 < 0.0) < +Inf < NaN.
# Therefore a NATURAL struct compare replicates the window orderings
# edge-for-edge with each metric evaluated ONCE and no NaN/NULL
# mapping at all — and, unlike the r13 ±Inf mapping, a genuinely
# infinite similarity/distance keeps its own place instead of
# collapsing into the NaN/NULL classes (r13 advice):
# - asc(d), code  ==  least(struct(d, code))           (NULL-d first,
#   NaN-d last, ties → lowest code);
# - desc(s), cell ==  greatest(struct(s, -cell, cell)) (NaN-s first,
#   NULL-s last, ties → max(-cell) = lowest cell);
# - top-n desc    ==  slice(sort_array(array(structs), false), 1, n).
# Verified empirically against row_number on {NULL, NaN, ±Inf, ±0.0,
# finite} — element-for-element identical order.


def _topn_cells_sql(
    cents: list,
    vec_sql: str,
    n: int,
    coarse: bool = False,
) -> str:
    """Literal nearest-cells selection as ONE expression over
    per-centroid (cosine, -cell, cell[, coarse]) structs, compared in
    natural struct order (see the ordering note above). For ``n`` = 1
    without ``coarse`` it is ``greatest(...).c``, the nearest cell;
    otherwise the structs sorted DESCENDING and sliced to the first
    ``n``, for the caller to explode. ``coarse=True`` adds a ``co``
    field carrying round(dot(v, centroid), 6) — the IVFADC coarse
    term — computed in the same projection (struct compare never
    reaches it: ``c`` is unique). The input vector and its norm are
    lambda-bound so they are evaluated once per row, not once per
    centroid (see :func:`_bind1_sql`); the centroid norms are folded
    to literals at build time (bit-identical — :func:`_norm_py`)."""
    structs = []
    for cell, c in cents:
        nc = _norm_py(c)
        sim = f"({_dot_sql2('_sgv', _alit_sql(c))} / (_sgnv * {_dlit_sql(nc)}))"
        body = f"'s', {sim}, 'nc', {-int(cell)}, 'c', {int(cell)}"
        if coarse:
            body += f", 'co', round({_dot_sql2('_sgv', _alit_sql(c))}, 6)"
        structs.append(f"named_struct({body})")
    if n == 1 and not coarse:
        picked = (
            f"greatest({','.join(structs)}).c"
            if len(structs) > 1
            else f"({structs[0]}).c"
        )
    else:
        picked = f"slice(sort_array(array({','.join(structs)}), false), 1, {int(n)})"
    return _bind1_sql(
        vec_sql, "_sgv", _bind1_sql(_norm_sql2("_sgv"), "_sgnv", picked)
    )


def _attach_local_rows(df: DataFrame, rows) -> DataFrame:
    """Tag a MODEL DataFrame (kmeans_lite / pq_codebooks output) with
    its driver-side rows so consumers can take the literal-expression
    path without any collect. Why an attribute and not plan
    inspection: PySpark 4.x's ``createDataFrame`` over local python
    data plans as ``LogicalRDD`` (Scan ExistingRDD), not
    ``LocalRelation``, so no plan shape identifies a model. The rows
    already live on the driver (the Lloyd loops are driver-resident);
    the tag just keeps them attached to the handle."""
    df._spark_graft_local_rows = rows
    return df


def _local_rows(model: DataFrame):
    """The driver-side rows of a model frame — (cell, centroid) from
    :func:`kmeans_lite`, (block, code, centroid) from
    :func:`pq_codebooks` — read from the :func:`_attach_local_rows`
    tag (no job, no py4j). None for an untagged frame, which takes the
    distributed side."""
    rows = getattr(model, "_spark_graft_local_rows", None)
    if rows is None:
        return None
    return [(*map(int, r[:-1]), list(r[-1])) for r in rows]


def _assign_cells(
    frame: DataFrame,
    centroids: DataFrame,
    key_col: str,
    vec_col: str,
    n: int = 1,
    coarse: bool = False,
) -> DataFrame:
    """The family's one nearest-cell assignment: ``frame`` + ``cell``,
    one row per (row, cell) for each row's ``n`` nearest centroids by
    cosine, ties to the lowest cell — the Lloyd assignment, IVF
    multi-assignment and query probes. ``coarse=True`` adds
    ``_coarse`` = round(dot(v, centroid), 6), the IVFADC coarse term.

    Literal side (:func:`_literal_side`): one map-side projection over
    the centroid literals (:func:`_topn_cells_sql`; an explode for
    ``n`` > 1) — no crossJoin row expansion and no per-key window,
    which at real scale is a hash exchange of n·k rows. Distributed
    side: broadcast crossJoin + row_number over (desc sim, cell) per
    ``key_col``. Bit-identical: the per-centroid cosine is the SAME
    expression over a literal array (identical IEEE fold order), and
    the struct compare replicates the window order edge-for-edge (NaN
    first, ±Inf in place, NULL last — the ordering note above
    :func:`_topn_cells_sql`).

    An empty model (every training vector NULL) has no cell to offer:
    each row gets one row with a NULL ``cell`` (and ``_coarse``), so a
    cell equi-join matches nothing while row-preserving consumers keep
    every input row."""
    cents = _local_rows(centroids)
    keep = frame.columns
    if cents is not None and not cents:
        extra = [F.lit(None).cast("double").alias("_coarse")] if coarse else []
        return frame.select(*keep, F.lit(None).cast("int").alias("cell"), *extra)
    if _literal_side(cents):
        sql = _topn_cells_sql(cents, f"cast(`{vec_col}` as array<double>)", n, coarse)
        if n == 1 and not coarse:
            return frame.withColumn("cell", F.expr(sql))
        extra = [F.col("_p.co").alias("_coarse")] if coarse else []
        return frame.select(*keep, F.explode(F.expr(sql)).alias("_p")).select(
            *keep, F.col("_p.c").alias("cell"), *extra
        )
    vec = F.col(vec_col).cast("array<double>")
    scored = frame.crossJoin(F.broadcast(centroids)).withColumn(
        "_sim", cosine(vec, F.col("centroid"))
    )
    w = Window.partitionBy(key_col).orderBy(F.desc("_sim"), F.col("cell"))
    extra = [F.round(_dot(vec, F.col("centroid")), 6).alias("_coarse")] if coarse else []
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select(*keep, "cell", *extra)
    )


def _ivf_index(
    corpus: DataFrame,
    n_cells: int | str,
    iterations: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The IVF index of ``corpus``: ``(centroids, assignment)``, the
    :func:`kmeans_lite` coarse quantizer and the checkpointed nearest
    cell of every (id, vec) row — the inverted lists a production IVF
    build stores. Held on the ``corpus`` handle (:func:`io.held`) per
    (n_cells as given, iterations, id_col, vec_col), so
    :func:`ivf_cosine_topk` and :func:`ivfpq_topk` at the same
    parameters on one handle share one build, and every later call
    only probes. A snapshot of the handle's inputs at its first build."""

    def build():
        cells = _resolve_n_cells(corpus, n_cells, vec_col, "ivf_index")
        centroids = kmeans_lite(corpus, cells, iterations, id_col, vec_col)
        return centroids, resilient_checkpoint(
            _assign_cells(corpus.select(id_col, vec_col), centroids, id_col, vec_col)
        )

    return held(corpus, ("ivf_index", n_cells, iterations, id_col, vec_col), build)


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int | str = 16,
    n_probe: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF approximate top-k: k-means-lite coarse quantizer, queries
    probe their ``n_probe`` nearest cells, exact re-score inside the
    probed cells only.

    The scale shape: the index (centroids + the checkpointed cell
    assignment of every corpus vector) is held on the ``corpus`` handle
    and shared with :func:`ivfpq_topk` (:func:`_ivf_index`; pass a new
    handle for changed data), and every call computes only its query
    probes; the per-query candidate set is |corpus| * n_probe / n_cells
    — the recall/cost dial every production ANN system exposes. At
    100 TB the assignment column is written alongside the vectors
    (partition by cell) so probing prunes file scans.
    ``n_cells="auto"`` applies the √(distinct) sizing rule
    (:func:`auto_n_cells`).
    """
    centroids, indexed = _ivf_index(corpus, n_cells, iterations, id_col, vec_col)
    probes = _assign_cells(queries, centroids, query_id_col, query_vec_col, n_probe)
    cand = indexed.join(F.broadcast(probes), "cell").filter(
        F.col(query_id_col) != F.col(id_col)
    )
    scored = cand.select(
        query_id_col,
        id_col,
        F.round(
            cosine(F.col(vec_col).cast("array<double>"), F.col(query_vec_col).cast("array<double>")),
            6,
        ).alias("cosine_sim"),
    )
    return _rank_topk(scored, "cosine_sim", k, query_id_col, id_col)


def label_centroids(
    embeddings: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid vector: posexplode → avg per (label, pos) →
    re-assemble ordered array. One shuffle keyed by (label, pos)."""
    exploded = embeddings.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    per_pos = exploded.groupBy(label_col, "pos").agg(F.avg("v").alias("mean_v"))
    return per_pos.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_v"))), lambda s: s["mean_v"]
        ).alias("centroid")
    )


def hard_negative_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
    anchor_vec_col: str = "anchor_vec",
    anchor_label_col: str = "anchor_label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the ``k`` most-cosine-similar corpus vectors whose label DIFFERS
    from the anchor's — the near-miss negatives that make contrastive
    losses learn boundaries instead of memorizing easy negatives.

    Delegates to :func:`cosine_topk_bruteforce` (one scored-topk
    implementation to keep rounding/tie-break/self-exclusion in sync)
    with the label inequality as the pre-window candidate filter, so
    excluded positives never consume rank positions. ``anchors`` must
    be small (it is crossJoin-broadcast); at corpus scale the anchor
    set is a batch and the candidate side comes from an ANN prefilter
    (:func:`lsh_cosine_topk` / :func:`ivf_cosine_topk`) with this same
    label-aware rank as the verify tail.

    Returns (anchor_id, vec_id, label, cosine_sim, rank).
    """
    out = cosine_topk_bruteforce(
        corpus,
        anchors,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=anchor_id_col,
        query_vec_col=anchor_vec_col,
        candidate_filter=F.col(label_col) != F.col(anchor_label_col),
        payload_cols=(label_col,),
    )
    return out.select(anchor_id_col, id_col, label_col, "cosine_sim", "rank")


def mmr_select(
    cand: DataFrame,
    k: int = 5,
    lam: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rel_col: str = "rel_score",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance: greedily pick ``k`` candidates per
    query maximizing ``lam*relevance − (1−lam)*max_sim_to_selected`` —
    the diversity-aware re-rank that stops a result list (or a
    curated sample) from being k copies of the same near-duplicate.

    Greedy steps are ``k−1`` DataFrame iterations (anti-join the
    selected set, max-cosine against it, windowed argmax per query) —
    the same unrolled-iteration discipline as :func:`kmeans_lite`, so
    a SQL twin (:func:`mmr_sql`) can replay the selection exactly.
    Candidates are rerank-cap-bounded by contract (the reference caps
    rerank at 100), so every per-step join is small and keyed by
    query; nothing scales with the corpus.

    Determinism: relevance and similarity are rounded to ``ndigits``
    BEFORE scoring, ties break on ascending id, and the default
    ``lam=0.5`` keeps the score arithmetic binary-exact given equal
    inputs (0.5* is an exponent shift), so any engine replays the
    same picks.

    Returns (query_col, id_col, mmr_rank, rel_score, mmr_score).
    """
    # lazy checkpoint on the candidate projection: every greedy
    # step re-reads it (anti-join + similarity join), and without the
    # cut each step would re-run the candidate-generation DAG (e.g. a
    # brute-force top-k crossJoin) from scratch — measured 25× slower
    # at sf0.01. Checkpoint instead of persist (r13): same one-
    # materialization reuse within this invocation, but nothing is
    # registered in the CacheManager, so a later identical invocation
    # recomputes from its inputs instead of silently reading this
    # run's cache (cross-run reuse), and the RDD storage is freed on
    # GC — no unpersist bookkeeping.
    base = resilient_checkpoint(
        cand.select(
            F.col(query_col),
            F.col(id_col),
            F.round(F.col(rel_col), ndigits).alias("_rel"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    )
    return _mmr_greedy(base, k, lam, query_col, id_col, ndigits)


def _mmr_greedy(
    base: DataFrame,
    k: int,
    lam: float,
    query_col: str,
    id_col: str,
    ndigits: int,
) -> DataFrame:
    w1 = Window.partitionBy(query_col).orderBy(F.desc("_rel"), F.col(id_col))
    sel = (
        base.withColumn("_rk", F.row_number().over(w1))
        .filter(F.col("_rk") == 1)
        .select(
            query_col,
            id_col,
            F.lit(1).cast("int").alias("mmr_rank"),
            "_rel",
            "_v",
            F.col("_rel").alias("mmr_score"),
        )
    )
    for step in range(2, k + 1):
        rem = base.join(
            sel.select(query_col, id_col), [query_col, id_col], "left_anti"
        )
        joined = rem.join(
            sel.select(F.col(query_col), F.col("_v").alias("_sv")), query_col
        )
        scored = joined.groupBy(query_col, id_col).agg(
            F.first("_rel").alias("_rel"),
            F.first("_v").alias("_v"),
            F.max(F.round(cosine(F.col("_v"), F.col("_sv")), ndigits)).alias("_msim"),
        )
        scored = scored.withColumn(
            "_sc",
            F.round(
                F.lit(lam) * F.col("_rel") - F.lit(1.0 - lam) * F.col("_msim"),
                ndigits,
            ),
        )
        wp = Window.partitionBy(query_col).orderBy(F.desc("_sc"), F.col(id_col))
        pick = (
            scored.withColumn("_rk", F.row_number().over(wp))
            .filter(F.col("_rk") == 1)
            .select(
                query_col,
                id_col,
                F.lit(step).cast("int").alias("mmr_rank"),
                "_rel",
                "_v",
                F.col("_sc").alias("mmr_score"),
            )
        )
        # cut the growing union lineage: the selected set is at most
        # k rows per query (bounded state), and each later step joins
        # against it twice — without the checkpoint, step i re-derives
        # every earlier step's windows recursively. Eager, so the
        # final checkpoint materializes while base is still cached
        # and the returned plan no longer references base at all.
        sel = resilient_checkpoint(sel.unionByName(pick), eager=True)
    return sel.select(
        query_col,
        id_col,
        "mmr_rank",
        F.col("_rel").alias("rel_score"),
        "mmr_score",
    )


def mmr_sql(cand_cte: str, k: int = 5, lam: float = 0.5, ndigits: int = 6) -> str:
    """DuckDB twin of :func:`mmr_select` with the greedy iterations
    unrolled (same discipline as the kmeans oracle). ``cand_cte`` must
    select columns (q, id, rel, v DOUBLE[]) with rel already rounded
    to ``ndigits``. Returns a complete SELECT."""

    def sim(a: str, b: str) -> str:
        return (
            f"round(list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * "
            f"sqrt(list_dot_product({b}, {b}))), {ndigits})"
        )

    parts = [f"mmr_cand AS ({cand_cte})"]
    parts.append(
        "sel1 AS (SELECT q, id, rel, v, 1 AS mmr_rank, rel AS mmr_score "
        "FROM mmr_cand QUALIFY row_number() OVER "
        "(PARTITION BY q ORDER BY rel DESC, id) = 1)"
    )
    for step in range(2, k + 1):
        union = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, step))
        parts.append(f"selu{step} AS ({union})")
        parts.append(
            f"sc{step} AS (SELECT c.q, c.id, first(c.rel) AS rel, "
            f"first(c.v) AS v, round({lam} * first(c.rel) - {1.0 - lam} * "
            f"max({sim('c.v', 's.v')}), {ndigits}) AS sc "
            f"FROM mmr_cand c JOIN selu{step} s ON s.q = c.q "
            f"WHERE NOT EXISTS (SELECT 1 FROM selu{step} x "
            f"WHERE x.q = c.q AND x.id = c.id) "
            f"GROUP BY c.q, c.id)"
        )
        parts.append(
            f"sel{step} AS (SELECT q, id, rel, v, {step} AS mmr_rank, "
            f"sc AS mmr_score FROM sc{step} QUALIFY row_number() OVER "
            f"(PARTITION BY q ORDER BY sc DESC, id) = 1)"
        )
    final_union = " UNION ALL ".join(
        f"SELECT q, id, mmr_rank, rel, mmr_score FROM sel{i}" for i in range(1, k + 1)
    )
    return (
        "WITH " + ", ".join(parts) + " "
        "SELECT q AS query_id, id AS vec_id, CAST(mmr_rank AS INT) AS mmr_rank, "
        f"rel AS rel_score, mmr_score FROM ({final_union})"
    )


def semdedup(
    corpus: DataFrame,
    n_cells: int | str = 16,
    iterations: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
    occupancy_guard_factor: float | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic
    deduplication by clustering then within-cluster cosine pruning —
    the embedding-space analogue of MinHash dedup for a training
    corpus where paraphrases and re-renders share no shingles.

    Shape: canonical :func:`kmeans_lite` coarse clustering (broadcast
    centroids, one corpus pass per Lloyd iteration) → cell-keyed
    SELF-join (pairwise cosine only WITHIN a cell — candidate volume
    is Σ|cell|², bounded by the clustering spread, never corpus²) →
    a vector is dropped when its rounded cosine to any LOWER-id
    vector in the same cell reaches ``threshold``.

    Representative policy: lowest-id-wins (the paper keeps the item
    closest to the centroid; id-order is the deterministic,
    engine-portable choice here and a policy knob by design — greedy
    shadowing, so a dropped vector's own shadows stay dropped).

    At 100 TB: raise ``n_cells`` so cells stay executor-sized — the
    pair join shuffles on ``cell`` and nothing else grows with the
    corpus; centroids stay broadcast (n_cells × dim doubles). Pass
    ``n_cells="auto"`` for the √(distinct) sizing rule
    (:func:`auto_n_cells`) and/or ``occupancy_guard_factor`` to fail
    loudly before a mis-sized layout runs its quadratic within-cell
    stage (:func:`_guard_cell_occupancy`) — round-11 advice: the
    sizing knob is engineered, not manual. The
    duplicate-saturation regime (verbatim clone groups, the dominant
    shape in raw web-scale embedding dumps) collapses to min-id
    representatives BEFORE assignment — a c-clone group would
    otherwise emit c² pair rows inside its cell — and non-rep rows
    are reconstructed EXACTLY afterwards: a clone shares its rep's
    cell (identical vector ⇒ identical centroid cosines ⇒ identical
    deterministic assignment), is always shadowed (cosine to its rep
    rounds to 1.0 ≥ threshold, rep id smaller), and its smallest
    shadower is ``coalesce(rep.dup_of, rep.id)`` (any shadower
    smaller than the rep shadows the rep too — same argument as
    :func:`_verbatim_reps`). The collapse engages only when the
    dominance argument holds (threshold ≤ 1.0, non-NaN, ndigits ≤
    the proven rounding bound); outside it the uncollapsed form runs.

    Returns (id, cell, kept, dup_of) — ``dup_of`` is the smallest
    shadowing id, NULL for kept rows.
    """
    n_cells = _resolve_n_cells(corpus, n_cells, vec_col, "semdedup")
    centroids = kmeans_lite(corpus, n_cells, iterations, id_col, vec_col)
    collapse = (
        threshold <= 1.0
        and threshold == threshold
        and ndigits <= _COLLAPSE_SAFE_NDIGITS
    )
    if collapse:
        # shared grouping with _verbatim_reps (NULL-vector rows never
        # collapse — NULL cosines are never ≥ threshold, so they stay
        # their own reps and ride the uncollapsed path below)
        mapped = _verbatim_rep_mapping(corpus, id_col, vec_col).select(
            F.col(id_col), F.col("_rep_id"), F.col(vec_col)
        )
        pool = (
            mapped.filter(F.col(id_col) == F.col("_rep_id"))
            .select(id_col, vec_col)
            .unionByName(
                corpus.filter(F.col(vec_col).isNull()).select(id_col, vec_col)
            )
        )
    else:
        pool = corpus
    assigned = _assign_cells(pool, centroids, id_col, vec_col)
    if occupancy_guard_factor is not None:
        # guards the COLLAPSED pool when the collapse engages — the
        # population the quadratic stage actually runs on
        _guard_cell_occupancy(assigned, occupancy_guard_factor, "semdedup")
    va = assigned.select(
        "cell",
        F.col(id_col).alias("_ida"),
        F.col(vec_col).cast("array<double>").alias("_va"),
    )
    vb = assigned.select(
        "cell",
        F.col(id_col).alias("_idb"),
        F.col(vec_col).cast("array<double>").alias("_vb"),
    )
    shadows = (
        va.join(vb, "cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(F.round(cosine(F.col("_va"), F.col("_vb")), ndigits) >= threshold)
        .groupBy("_idb")
        .agg(F.min("_ida").alias("dup_of"))
    )
    out = (
        assigned.select(id_col, F.col("cell").cast("long").alias("cell"))
        .join(shadows, F.col(id_col) == F.col("_idb"), "left")
        .select(
            id_col,
            "cell",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )
    if not collapse:
        return out
    nonreps = (
        mapped.filter(F.col(id_col) != F.col("_rep_id"))
        .select(F.col(id_col), F.col("_rep_id"))
        .join(
            out.select(
                F.col(id_col).alias("_rep_id"),
                F.col("cell").alias("_rep_cell"),
                F.col("dup_of").alias("_rep_dup"),
            ),
            "_rep_id",
        )
        .select(
            id_col,
            F.col("_rep_cell").alias("cell"),
            F.lit(False).alias("kept"),
            F.coalesce(F.col("_rep_dup"), F.col("_rep_id")).alias("dup_of"),
        )
    )
    return out.unionByName(nonreps)


_BUILD_TIME_TRAINING_WARNED: set = set()


def _warn_build_time_training(fn_name: str) -> None:
    """Loud once-per-process log that a trainer is about to run Spark
    jobs at plan-BUILD time — the documented inversion of the engine's
    "building a plan must never execute" invariant. A new caller that
    composes these lazily inherits build-time driver actions; the
    zero-job audit (tests/test_plan_contracts.py) enforces which
    registry entries may, and this log makes a violation visible at
    runtime rather than only when that test runs."""
    if fn_name in _BUILD_TIME_TRAINING_WARNED:
        return
    _BUILD_TIME_TRAINING_WARNED.add(fn_name)
    import logging

    logging.getLogger(__name__).warning(
        "%s trains at plan-build time: Spark jobs (seed + per-iteration "
        "aggregate collects) run while the caller constructs its "
        "DataFrame. Callers audited by the zero-job plan-build contract "
        "must be whitelisted in tests/test_plan_contracts.py.",
        fn_name,
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 via the dot-product decomposition
    ``a·a − 2·a·b + b·b`` — three sequential folds, the SAME
    association order a SQL engine's list_dot_product uses, so
    assignment argmins are bit-identical across engines (a naive
    zip_with-subtract-square fold would be too, but the decomposition
    lets the oracle reuse list_dot_product verbatim)."""
    return _dot(a, a) - F.lit(2.0) * _dot(a, b) + _dot(b, b)


def _literal_codebook(codebooks: DataFrame, n_sub: int) -> dict | None:
    """``{block: [(code, centroid), ...]}`` when the codebook takes the
    literal side (:func:`_literal_side`) and every block 1..``n_sub``
    has entries (each literal expression needs its block's codes);
    None otherwise."""
    rows = _local_rows(codebooks)
    if not _literal_side(rows):
        return None
    by_block: dict[int, list] = {}
    for b, code, c in rows:
        by_block.setdefault(b, []).append((code, c))
    return by_block if all(b in by_block for b in range(1, n_sub + 1)) else None


def _block_code_sql(entries: list, sv_sql: str) -> str:
    """Nearest-code argmin for ONE block as a literal expression:
    ``least(struct(d, code)).c`` over the block's codebook entries —
    natural struct order puts min L2 distance first, ties to the
    lowest code, NULL/NaN/±Inf placed exactly like
    row_number().over(asc(_d), code) (see the ordering note above
    :func:`_topn_cells_sql`). The sub-vector expression ``sv_sql`` and
    its self-dot are lambda-bound by the caller (``_sgs``/``_sgss``),
    and ``dot(c, c)`` is folded to a literal at build time
    (bit-identical — :func:`_dot_py`), so each struct evaluates ONE
    16-ish-dim dot product, nothing else."""
    structs = [
        "named_struct('d', (_sgss - 2.0D * "
        + _dot_sql2(sv_sql, _alit_sql(c))
        + f" + {_dlit_sql(_dot_py(c, c))}), 'c', {int(code)})"
        for code, c in sorted(entries)
    ]
    return (
        f"least({','.join(structs)}).c"
        if len(structs) > 1
        else f"({structs[0]}).c"
    )


def _pq_codes_arr_sql(by_block: dict, vec_sql: str, n_sub: int, sub: int) -> str:
    """All ``n_sub`` PQ codes of one vector as ONE literal-codebook
    array expression — ``array(code_1, …, code_n_sub)`` where block
    ``b`` scores ``slice(vec, (b-1)·sub+1, sub)`` against its codebook
    entries with the :func:`_block_code_sql` argmin. The slice is the
    IDENTICAL sub-vector posexplode produces in :func:`pq_encode`, so
    each element is bit-identical to the (id, block, code) row form —
    but the whole encoding is a map-side projection: no explode (n_sub
    rows per vector), no per-(id, block) window, and downstream ADC
    scoring can consume the codes without re-keying by id (the join
    that forced the probe chain's SortMergeJoin, r14). The input
    vector, each block's slice, and each slice's self-dot are
    lambda-bound so they are evaluated once per row/block instead of
    once per codebook entry (:func:`_bind1_sql`)."""
    parts = [
        _bind1_sql(
            f"slice(_sgr, {(b - 1) * sub + 1}, {sub})",
            "_sgs",
            _bind1_sql(
                _dot_sql2("_sgs", "_sgs"),
                "_sgss",
                _block_code_sql(by_block[b], "_sgs"),
            ),
        )
        for b in range(1, n_sub + 1)
    ]
    return _bind1_sql(vec_sql, "_sgr", "array(" + ",".join(parts) + ")")


def _lut_flat_sql(
    by_block: dict, qv_sql: str, n_sub: int, n_codes: int, sub: int
) -> str:
    """Per-query flattened ADC lookup table as ONE literal-codebook
    projection: ``array`` of ``n_sub·n_codes`` doubles where entry
    ``(b−1)·n_codes + code`` (1-based) is ``round(dot(slice(qv, b),
    centroid_{b,code}), 6)`` — exactly the ``_pd`` the broadcast
    (query, block, code) LUT join computed row-by-row, but carried as
    one array column so candidate scoring is pure element_at math.
    A code that lost every member during training is absent from the
    codebook; its slot holds NULL, so the entries after it keep their
    positions (no vector is ever assigned that code)."""
    entries = []
    for b in range(1, n_sub + 1):
        sl = f"slice({qv_sql}, {(b - 1) * sub + 1}, {sub})"
        codes = dict(by_block[b])
        entries += [
            f"round({_dot_sql2(sl, _alit_sql(codes[code]))}, 6)"
            if code in codes
            else "cast(null as double)"
            for code in range(1, n_codes + 1)
        ]
    return "array(" + ",".join(entries) + ")"


def _adc_sum_sql(n_sub: int, n_codes: int) -> str:
    """``round(Σ_b LUT[(b−1)·n_codes + code_b], 6)`` over the ``_lut``
    and ``_codes`` array columns — the fused ADC score. Fixed b=1..n
    summation order; every LUT entry is a multiple of 1e-6 (rounded at
    build), so the rounded sum is order-insensitive (the float error
    of 4 such terms is ~1e-16, far inside the round-to-6 recovery
    band) — oracle-verified against the groupBy-sum form."""
    terms = " + ".join(
        f"element_at(_lut, {(b - 1) * n_codes} + element_at(_codes, {b}))"
        for b in range(1, n_sub + 1)
    )
    return f"round({terms}, 6)"


def _pq_assign(
    exploded: DataFrame, codebooks: DataFrame, id_col: str, n_sub: int
) -> DataFrame:
    """Per-block nearest-code assignment over an exploded
    (id, block, _sv) frame → + ``code`` column, against a
    (block, code, centroid) codebook frame.

    Literal side (:func:`_literal_codebook`): ONE projection
    dispatching on ``block`` over literal centroids (no broadcast join
    row expansion, no per-(id, block) window — which at real scale is
    a hash exchange of n·n_codes rows). Bit-identical to the window
    form: same _l2sq expression over a literal array, and the argmin
    replicates row_number().over(asc(_d), code asc) edge-for-edge
    under the natural struct ordering (NULL first, real values
    including ±Inf in place, NaN last, ties to the lowest code — see
    the ordering note above :func:`_topn_cells_sql`)."""
    by_block = _literal_codebook(codebooks, n_sub)
    if by_block is not None:
        branches = " ".join(
            "WHEN `block` = {b} THEN {e}".format(
                b=b,
                e=_bind1_sql(
                    _dot_sql2("`_sv`", "`_sv`"),
                    "_sgss",
                    _block_code_sql(by_block[b], "`_sv`"),
                ),
            )
            for b in range(1, n_sub + 1)
        )
        return exploded.withColumn("code", F.expr(f"CASE {branches} END"))
    scored = exploded.join(F.broadcast(codebooks), "block").withColumn(
        "_d", _l2sq(F.col("_sv"), F.col("centroid"))
    )
    w = Window.partitionBy(id_col, "block").orderBy(F.asc("_d"), F.col("code"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*exploded.columns, "code")
    )


def _sub_blocks(
    frame: DataFrame, key_col: str, vec_col: str, n_sub: int, sub: int, out_col: str
) -> DataFrame:
    """The PQ split: one ``(key_col, block, out_col)`` row per
    contiguous ``sub``-long sub-vector of ``vec_col`` (as
    ARRAY<DOUBLE>), block 1..``n_sub`` — shared by codebook training,
    encoding and the query side of the ADC lookup table, so every side
    slices identically."""
    blocks = F.array(
        *[
            F.slice(F.col(vec_col).cast("array<double>"), (b - 1) * sub + 1, sub)
            for b in range(1, n_sub + 1)
        ]
    )
    return frame.select(
        F.col(key_col), F.posexplode(blocks).alias("_b0", out_col)
    ).select(F.col(key_col), (F.col("_b0") + 1).alias("block"), out_col)


def _adc_lut(
    queries: DataFrame,
    books: DataFrame,
    n_sub: int,
    sub: int,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Distributed-side ADC lookup table ``(query, block, code, _pd)``:
    each query's sub-blocks joined to the broadcast (block, code,
    centroid) codebook, ``_pd`` = round(dot(sub-query, centroid), 6)."""
    qblocks = _sub_blocks(queries, query_id_col, query_vec_col, n_sub, sub, "_qv")
    return qblocks.join(F.broadcast(books), "block").select(
        query_id_col,
        "block",
        "code",
        F.round(_dot(F.col("_qv"), F.col("centroid")), 6).alias("_pd"),
    )


def pq_codebooks(
    corpus: DataFrame,
    dim: int = 64,
    n_sub: int = 4,
    n_codes: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    quantization for nearest neighbor search"): split the vector into
    ``n_sub`` contiguous sub-blocks and train an independent
    ``n_codes``-centroid L2 quantizer per block with canonical
    k-means (md5 seed order shared across blocks, pre-rounded
    centroid means — the kmeans_lite discipline, so a SQL oracle
    walks the identical trajectory).

    Returns (block, code, centroid) with block in 1..n_sub.

    All ``n_sub`` independent per-block quantizers train in ONE
    Lloyd loop over the exploded (id, block, sub-vector) frame with
    centroids keyed by (block, code) — the per-block math (assignment
    argmin ordered by (_d, code) within each block, pre-rounded
    means grouped by (block, code, pos)) is bit-identical to training
    the blocks serially, so the DuckDB twin's four per-block chains
    still hash-match. Like :func:`kmeans_lite`, the n_sub·n_codes-row
    codebook MODEL lives on the driver between iterations (guarded
    collect) while the corpus stays distributed: each iteration is
    one aggregate job, and the previous all-lazy per-block loop's
    ``n_sub × iterations`` checkpoint/window micro-stages of pure
    scheduling latency disappear (pq_adc gate row measured 6.1→2 s
    at sf0.01). At 100 TB one samples the training corpus first; the
    codebook frame itself is n_sub·n_codes rows (broadcast everywhere
    downstream). The codebook is held on the ``corpus`` handle per
    build parameter set (:func:`io.held`; the :func:`kmeans_lite`
    snapshot contract)."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    if n_sub * n_codes > 4096:
        raise ValueError(
            f"pq_codebooks n_sub*n_codes={n_sub * n_codes} exceeds the "
            "4096 driver-model cap — the codebook is model-sized by contract"
        )
    sub = dim // n_sub
    spark = corpus.sparkSession

    def cent_df(triples):
        return _attach_local_rows(
            spark.createDataFrame(
                triples, "block int, code int, centroid array<double>"
            ),
            triples,
        )

    def fit():
        _warn_build_time_training("pq_codebooks")
        # NULL vectors are not trainable input (see kmeans_lite): as a
        # seed one crashes the seed collect
        trainable = corpus.filter(F.col(vec_col).isNotNull())
        seed_rows = (
            trainable.withColumn("_r", _md5_seed_order(id_col))
            .orderBy("_r")
            .limit(n_codes)
            .select("_r", F.col(vec_col).cast("array<double>").alias("_seed"))
            .collect()
        )
        cents = [
            (b, i + 1, list(r["_seed"])[(b - 1) * sub : b * sub])
            for i, r in enumerate(sorted(seed_rows, key=lambda r: r["_r"]))
            for b in range(1, n_sub + 1)
        ]
        # lazy checkpoint: each Lloyd iteration re-read the corpus
        # scan + spread + sub-block explode otherwise (kmeans_lite's
        # training-cache discipline; freed on GC, no cross-run reuse)
        bcorpus = resilient_checkpoint(
            _sub_blocks(trainable, id_col, vec_col, n_sub, sub, "_sv")
        )
        for _ in range(iterations):
            if not cents:
                # empty trainable corpus: no model to refine (kmeans_lite)
                break
            assigned = _pq_assign(bcorpus, cent_df(cents), id_col, n_sub)
            per_pos = assigned.select(
                "block", "code", F.posexplode("_sv").alias("pos", "v")
            ).groupBy("block", "code", "pos").agg(
                F.round(F.round(F.sum("v"), 6) / F.count("v"), 6).alias("m")
            )
            cents = _lloyd_update(per_pos, ["block", "code"], cents)
        return cent_df(cents)

    key = ("pq_codebooks", dim, n_sub, n_codes, iterations, id_col, vec_col)
    return held(corpus, key, fit)


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    dim: int = 64,
    n_sub: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``n_sub`` codes: per block, the L2-nearest
    codebook centroid (ties → smallest code). One explode to
    (id, block, sub-vector), one broadcast join on block, one
    (id, block)-keyed argmin window. Returns (id, block, code) —
    dim/n_sub/8 bytes per vector per block, the compression PQ
    exists for."""
    exploded = _sub_blocks(corpus, id_col, vec_col, n_sub, dim // n_sub, "_sv")
    return _pq_assign(exploded, codebooks, id_col, n_sub).select(
        id_col, "block", "code"
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_sub: int = 4,
    n_codes: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    rerank_shortlist: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k: queries score against CODES, not
    vectors — per query, a lookup table of ``n_sub × n_codes`` partial
    dot products against the codebooks, then each corpus vector's
    approximate score is the sum of its blocks' LUT entries.

    The scale shape this buys at 100 TB: the scored pass touches only
    the (id, block, code) frame — 8 bytes a block instead of the full
    vector — and the LUT join is broadcast (|Q|·n_sub·n_codes rows).
    The codes frame is built once per index build, not per query
    batch. Returns (query_id, vec_id, adc_score[, cosine_sim], rank);
    adc_score approximates the raw dot product (NOT normalized cosine —
    PQ ranking semantics)."""
    books = pq_codebooks(
        corpus, dim, n_sub, n_codes, iterations, id_col, vec_col
    )
    sub = dim // n_sub
    by_block = _literal_codebook(books, n_sub)
    qv_sql = f"cast(`{query_vec_col}` as array<double>)"
    if by_block is not None:
        # fused ADC scoring (r14, same discipline as ivfpq_topk): the
        # codebook is a driver-resident model, so the codes ride as an
        # ARRAY column computed map-side (no (id, block, code) explode)
        # and the per-query LUT is ONE literal projection broadcast as
        # an array column — the (block, code) LUT join and the
        # (query, id) groupBy-sum both disappear; scoring is
        # element_at math per candidate row. Oracle-exact: identical
        # slice/dot/round expressions, fixed-order rounded-term sum
        # (see _adc_sum_sql).
        lutq = queries.select(
            F.col(query_id_col),
            F.expr(
                _lut_flat_sql(by_block, qv_sql, n_sub, n_codes, sub)
            ).alias("_lut"),
        )
        codes_arr = corpus.select(
            F.col(id_col),
            F.expr(
                _pq_codes_arr_sql(
                    by_block, f"cast(`{vec_col}` as array<double>)", n_sub, sub
                )
            ).alias("_codes"),
        )
        scored = (
            codes_arr.crossJoin(F.broadcast(lutq))
            .filter(F.col(query_id_col) != F.col(id_col))
            .select(
                query_id_col,
                id_col,
                F.expr(_adc_sum_sql(n_sub, n_codes)).alias("adc_score"),
            )
        )
    else:
        codes = pq_encode(corpus, books, dim, n_sub, id_col, vec_col)
        lut = _adc_lut(queries, books, n_sub, sub, query_id_col, query_vec_col)
        scored = (
            codes.join(F.broadcast(lut), ["block", "code"])
            .filter(F.col(query_id_col) != F.col(id_col))
            .groupBy(query_id_col, id_col)
            .agg(F.round(F.sum("_pd"), 6).alias("adc_score"))
        )
    return _shortlist_topk(
        scored, "adc_score", k, rerank_shortlist, corpus, queries,
        id_col, vec_col, query_id_col, query_vec_col,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 4,
    coarse_iterations: int = 2,
    dim: int = 64,
    n_sub: int = 4,
    n_codes: int = 8,
    pq_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    rerank_shortlist: int | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the FAISS IVFADC index (Jégou et
    al. 2011 §IV) as DataFrame ops: the coarse quantizer (canonical
    k-means, the IVF path) partitions the corpus into cells; each
    vector stores only its cell id plus the PQ codes of its RESIDUAL
    (v − cell centroid); a query probes its ``n_probe`` nearest cells
    and scores candidates as ``dot(q, c_cell) + Σ_b LUT[b, code_b]``
    with the LUT built once per query against the residual codebooks.

    Why residuals: within a cell the residual magnitudes are small
    and centered, so the same 8-codes-per-block budget quantizes them
    far more finely than raw vectors — the reason IVFADC beats flat
    PQ at equal bits. Storage per vector: one cell id + n_sub codes.

    Scale shape: everything the PQ/IVF paths already have — the
    probed-candidate set is |corpus|·n_probe/n_cells, the scored pass
    touches codes only, the LUT (|Q|·n_sub·n_codes) and the coarse
    term (|Q|·n_probe) broadcast. Fully oracled: coarse trajectory =
    the canonical-kmeans chain, residual subtraction is exact
    element-wise double math, and the per-block chains reuse the PQ
    discipline, so the DuckDB twin hash-matches.
    """
    # the cell assignment IS the IVF index artifact — it feeds both
    # the residual/codes build and the query-time candidate probe, and
    # a broadcast probe side re-executes its upstream chain (no
    # ReusedExchange), so it is materialized once and held on the
    # corpus handle: the same index ivf_cosine_topk builds and probes
    # at these (n_cells, iterations) (reliable mode covers it). The
    # residual codes below are still computed per call.
    cents, indexed = _ivf_index(corpus, n_cells, coarse_iterations, id_col, vec_col)
    cents_l = _local_rows(cents)
    if _literal_side(cents_l):
        # literal residual (r14): the centroid model is driver-local,
        # so v − centroid(cell) is one CASE-on-cell projection — the
        # broadcast join existed only to look the centroid up. With
        # the literal assignment and literal codes, the whole index
        # build is scan → projections, no join (§2.4). Same zip_with
        # subtraction over the identical literal arrays, bit-exact.
        case = " ".join(
            f"WHEN `cell` = {int(cell)} THEN {_alit_sql(c)}"
            for cell, c in cents_l
        )
        resid = indexed.select(
            id_col,
            "cell",
            F.expr(
                f"zip_with(cast(`{vec_col}` as array<double>), "
                f"CASE {case} END, (x, y) -> x - y)"
            ).alias("_res"),
        )
    else:
        resid = indexed.join(F.broadcast(cents), "cell").select(
            id_col,
            "cell",
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("centroid"),
                lambda x, y: x - y,
            ).alias("_res"),
        )
    # the residual frame is per call, so its codebook is held on the
    # raw corpus handle, keyed by every parameter it depends on
    books = held(
        corpus,
        ("ivfpq_books", n_cells, coarse_iterations, dim, n_sub, n_codes,
         pq_iterations, id_col, vec_col),
        lambda: pq_codebooks(resid, dim, n_sub, n_codes, pq_iterations, id_col, "_res"),
    )
    sub = dim // n_sub
    by_block = _literal_codebook(books, n_sub)
    qv_sql = f"cast(`{query_vec_col}` as array<double>)"
    # each query's n_probe nearest cells, with the coarse dot carried
    # in the same projection on the literal side
    probes = _assign_cells(
        queries, cents, query_id_col, query_vec_col, n_probe, coarse=True
    )
    if by_block is not None:
        # fused probe/score (r14): the residual codebook is a
        # driver-resident model, so the probe chain collapses into
        # two projections + ONE broadcast join. (a) probes carry the
        # per-query flattened LUT — no qblocks explode, no LUT
        # broadcast join. (b) candidates: the codes ride as an ARRAY
        # column computed map-side from the residual (no (id, block,
        # code) explode → no re-key-by-id SortMergeJoin, no (query,
        # id) groupBy — the previous chain's two heaviest exchanges),
        # and the ADC sum is element_at math per candidate row. Values
        # oracle-exact: same slice/dot/round expressions, and the
        # fixed-order LUT sum of rounded terms re-rounds to the
        # identical multiple of 1e-6 (see _adc_sum_sql).
        probes = probes.select(
            query_id_col,
            "cell",
            "_coarse",
            F.expr(
                _lut_flat_sql(by_block, qv_sql, n_sub, n_codes, sub)
            ).alias("_lut"),
        )
        codes_arr = resid.select(
            F.col(id_col),
            F.col("cell"),
            F.expr(_pq_codes_arr_sql(by_block, "`_res`", n_sub, sub)).alias(
                "_codes"
            ),
        )
        scored = (
            codes_arr.join(F.broadcast(probes), "cell")
            .filter(F.col(query_id_col) != F.col(id_col))
            .select(
                query_id_col,
                id_col,
                F.round(
                    F.col("_coarse") + F.expr(_adc_sum_sql(n_sub, n_codes)), 6
                ).alias("adc_score"),
            )
        )
    else:
        lut = _adc_lut(queries, books, n_sub, sub, query_id_col, query_vec_col)
        codes = pq_encode(resid, books, dim, n_sub, id_col, "_res")
        cand = (
            indexed.select(id_col, "cell")
            .join(F.broadcast(probes), "cell")
            .filter(F.col(query_id_col) != F.col(id_col))
        )
        s1 = (
            cand.join(codes, id_col)
            .join(F.broadcast(lut), [query_id_col, "block", "code"])
            .groupBy(query_id_col, id_col, "_coarse")
            .agg(F.round(F.sum("_pd"), 6).alias("_s1"))
        )
        scored = s1.select(
            query_id_col,
            id_col,
            F.round(F.col("_coarse") + F.col("_s1"), 6).alias("adc_score"),
        )
    return _shortlist_topk(
        scored, "adc_score", k, rerank_shortlist, corpus, queries,
        id_col, vec_col, query_id_col, query_vec_col,
    )


def sq8_stats(
    corpus: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension (pos, lo, hi) training stats for 8-bit scalar
    quantization — one posexplode scan, a ``pos``-keyed min/max
    aggregate (map-side combinable), and a dim-rows output frame that
    broadcasts everywhere downstream. pos is 1-indexed (SQL subscript
    convention)."""
    expl = corpus.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("_p0", "_x")
    )
    return expl.groupBy((F.col("_p0") + 1).alias("pos")).agg(
        F.min("_x").alias("lo"), F.max("_x").alias("hi")
    )


def _sq8_code(v: Column, lo: Column, hi: Column) -> Column:
    """The canonical SQ8 bucket: round-half-up of the affine map onto
    0..255, clamped. ``floor(x·255/(hi−lo) + 0.5)`` is plain IEEE
    double math in one fixed association order, so Spark and a SQL
    oracle bucket bit-identically; degenerate dimensions (hi == lo)
    carry no information and encode as 0."""
    scaled = F.floor((v - lo) * F.lit(255.0) / (hi - lo) + F.lit(0.5))
    return F.when(
        hi > lo,
        F.least(F.lit(255).cast("long"), F.greatest(F.lit(0).cast("long"), scaled)),
    ).otherwise(F.lit(0).cast("long"))


def _sq8_bounds(stats: DataFrame) -> DataFrame:
    """:func:`sq8_stats` as ONE row of pos-ordered (_lo[], _hi[]) arrays."""
    return stats.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lo"))), lambda s: s["lo"]
        ).alias("_lo"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "hi"))), lambda s: s["hi"]
        ).alias("_hi"),
    )


def sq8_encode(
    corpus: DataFrame,
    stats: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Encode vectors as arrays of 0..255 codes using trained
    per-dimension stats. The stats frame is collapsed to ONE row of
    (lo[], hi[]) arrays and broadcast — the encode pass is map-only
    (no shuffle), 1 byte of information per dimension, the 4×/8×
    compression scalar quantization exists for."""
    one = _sq8_bounds(stats)
    return corpus.crossJoin(F.broadcast(one)).select(
        F.col(id_col),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda v, i: _sq8_code(
                v,
                F.element_at(F.col("_lo"), i + F.lit(1)),
                F.element_at(F.col("_hi"), i + F.lit(1)),
            ),
        ).alias(out_col),
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank_shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Asymmetric 8-bit scalar-quantized top-k — the SQ8 index of
    FAISS/Milvus as DataFrame ops, completing the LSH / IVF / PQ /
    SQ quantization quartet. The corpus is stored as 1-byte-per-dim
    codes under a corpus-trained per-dimension affine map; at query
    time each code array is RECONSTRUCTED
    (``v̂_i = lo_i + code_i·(hi_i−lo_i)/255``) and the full-precision
    query scores ``dot(q, v̂)`` — the asymmetric-distance form, which
    keeps the query side error-free. (A symmetric raw-code dot
    product is NOT a dot-product proxy: the per-dim offsets add
    query- and candidate-dependent cross terms that scramble
    ranking — measured top-5 recall 4/15 vs 15/15 for this form.)
    Reconstruction and scoring are one-association-order IEEE double
    chains shared with the SQL twin, so rounded scores hash-match.

    Scale shape at 100 TB: stats is one combinable scan → dim rows;
    encode is map-only behind a broadcast; the scored pass reads
    1-byte-per-dim codes instead of full vectors (the 4-8×
    compression SQ exists for) and broadcasts the query side (|Q|
    small, documented); the optional exact re-rank reads true
    vectors for |Q|·shortlist rows only (the standard two-stage
    read, same as pq_adc_topk). Returns
    (query_id, vec_id, sq_score[, cosine_sim], rank)."""
    stats = sq8_stats(corpus, vec_col)
    codes = sq8_encode(corpus, stats, id_col, vec_col)
    one = _sq8_bounds(stats)
    recon = codes.crossJoin(F.broadcast(one)).select(
        F.col(id_col),
        F.transform(
            F.col("codes"),
            lambda c, i: F.element_at(F.col("_lo"), i + F.lit(1))
            + c.cast("double")
            * (
                F.element_at(F.col("_hi"), i + F.lit(1))
                - F.element_at(F.col("_lo"), i + F.lit(1))
            )
            / F.lit(255.0),
        ).alias("_rv"),
    )
    qv0 = queries.select(
        F.col(query_id_col), F.col(query_vec_col).cast("array<double>").alias("_qv0")
    )
    scored = (
        recon.crossJoin(F.broadcast(qv0))
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            F.round(_dot(F.col("_qv0"), F.col("_rv")), 6).alias("sq_score"),
        )
    )
    return _shortlist_topk(
        scored, "sq_score", k, rerank_shortlist, corpus, queries,
        id_col, vec_col, query_id_col, query_vec_col,
    )


def kcenter_select(
    corpus: DataFrame,
    k: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center selection (Gonzalez 1985 farthest-point
    traversal — the 2-approximation for the k-center objective, and
    the standard coreset / diverse-subset picker for training-data
    curation): seed with the canonical md5-min vector, then k−1
    times pick the point FARTHEST from the selected set (squared L2
    via the ``_l2sq`` decomposition, ties → smallest id) and fold it
    in with a running ``least(dmin, d²(·, new))`` update.

    Returns (round, vec_id, sel_dist_sq): the selection order and
    each pick's distance-to-set at selection time (null for the
    seed) — sel_dist_sq is non-increasing, and the last value bounds
    the coverage radius within 2× of optimal.

    Scale shape: k corpus passes (inherent to the greedy), each a
    map-only broadcast of ONE new center + a global top-1
    (takeOrdered — no full sort). Only the 1-row pick frames are
    checkpointed (lazily), so lineage stays linear in k and
    nothing corpus-sized is ever materialized. Exactness: the
    distance decomposition shares the oracle's list_dot_product
    association order, so argmax comparisons are bit-identical —
    the kmeans_lite discipline."""
    pts = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    seed = (
        pts.withColumn("_h", _md5_seed_order(id_col))
        .orderBy("_h", id_col)
        .limit(1)
        .select(id_col, "_v")
    )
    seed = resilient_checkpoint(seed)
    state = pts.crossJoin(
        F.broadcast(seed.select(F.col("_v").alias("_c")))
    ).select(
        F.col(id_col), F.col("_v"), _l2sq(F.col("_v"), F.col("_c")).alias("_dmin")
    )
    picks = [
        seed.select(
            F.lit(1).alias("round"),
            F.col(id_col),
            F.lit(None).cast("double").alias("sel_dist_sq"),
        )
    ]
    for r in range(2, k + 1):
        pick = state.orderBy(F.desc("_dmin"), F.col(id_col)).limit(1)
        pick = resilient_checkpoint(pick)
        picks.append(
            pick.select(
                F.lit(r).alias("round"),
                F.col(id_col),
                F.round(F.col("_dmin"), 6).alias("sel_dist_sq"),
            )
        )
        state = state.crossJoin(
            F.broadcast(pick.select(F.col("_v").alias("_c")))
        ).select(
            F.col(id_col),
            F.col("_v"),
            F.least(F.col("_dmin"), _l2sq(F.col("_v"), F.col("_c"))).alias("_dmin"),
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def kcenter_sql(k: int = 6, table: str = "embeddings") -> str:
    """DuckDB twin of :func:`kcenter_select`: the greedy unrolled as
    k MATERIALIZED CTE steps (materialization is load-bearing —
    DuckDB inlines plain CTEs and the step chain goes exponential),
    each picking the farthest point then folding it into the running
    min-distance. Distance uses the same list_dot_product
    decomposition, so every comparison matches Spark bit-for-bit."""

    def l2(v: str, c: str) -> str:
        return (
            f"(list_dot_product({v}, {v}) - 2.0 * list_dot_product({v}, {c})"
            f" + list_dot_product({c}, {c}))"
        )

    ctes = [
        f"""pts AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}
        )""",
        f"""c1 AS MATERIALIZED (
            SELECT vec_id, v FROM (
                SELECT vec_id, v,
                       CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                FROM pts ORDER BY h, vec_id LIMIT 1
            )
        )""",
        f"""s1 AS MATERIALIZED (
            SELECT p.vec_id, p.v, {l2('p.v', 'c.v')} AS dmin
            FROM pts p CROSS JOIN c1 c
        )""",
    ]
    for r in range(2, k + 1):
        ctes.append(
            f"""c{r} AS MATERIALIZED (
            SELECT vec_id, v, dmin FROM s{r - 1}
            ORDER BY dmin DESC, vec_id LIMIT 1
        )"""
        )
        if r < k:
            ctes.append(
                f"""s{r} AS MATERIALIZED (
            SELECT s.vec_id, s.v, least(s.dmin, {l2('s.v', 'c.v')}) AS dmin
            FROM s{r - 1} s CROSS JOIN c{r} c
        )"""
            )
    selects = [
        "SELECT 1 AS round, vec_id, CAST(NULL AS DOUBLE) AS sel_dist_sq FROM c1"
    ] + [
        f"SELECT {r} AS round, vec_id, round(dmin, 6) AS sel_dist_sq FROM c{r}"
        for r in range(2, k + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def coreset_coverage(
    corpus: DataFrame,
    reps: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Facility-location coverage audit of a selected representative
    subset (the objective k-center/MMR/semdedup selections optimize,
    measured as a certificate AFTER selection): per corpus vector the
    max cosine to ANY representative, reduced to one governance row —

    - ``mean_coverage_micro`` — the facility-location objective in
      integer micro units (how well the subset represents the corpus),
    - ``min_coverage_micro`` — the worst-covered point (the k-center
      objective),
    - ``n_covered_900k`` — corpus points with a representative at
      cosine ≥ 0.9 (a retrieval-quality proxy).

    Scale shape: ``reps`` is the SELECTED subset — small by purpose —
    so the scoring join is a broadcast nested loop (corpus × k reps,
    linear in corpus, no shuffle), followed by one corpus-keyed max
    and a one-row reduce. Cosines round to 6 decimals THEN scale to
    micro integers, the engine's established float-boundary
    discipline, so the SQL oracle matches bit-for-bit.
    """
    rep_side = F.broadcast(
        reps.select(
            F.col(id_col).alias("_rep_id"), F.col(vec_col).alias("_rep_vec")
        )
    )
    micro = F.round(cosine(F.col(vec_col), F.col("_rep_vec")) * 1_000_000).cast(
        "long"
    )
    per_point = (
        corpus.select(F.col(id_col).alias("_cid"), F.col(vec_col))
        .crossJoin(rep_side)
        .select("_cid", micro.alias("_c"))
        .groupBy("_cid")
        .agg(F.max("_c").alias("_cov"))
    )
    nrep = reps.agg(F.count(F.lit(1)).cast("long").alias("n_reps"))
    return (
        per_point.agg(
            F.count(F.lit(1)).cast("long").alias("n_corpus"),
            F.sum("_cov").alias("_s"),
            F.min("_cov").alias("min_coverage_micro"),
            F.sum((F.col("_cov") >= 900_000).cast("long")).alias(
                "n_covered_900k"
            ),
        )
        .join(F.broadcast(nrep), how="cross")
        .select(
            "n_reps",
            "n_corpus",
            F.expr("if(n_corpus = 0, 0L, _s div n_corpus)").alias(
                "mean_coverage_micro"
            ),
            "min_coverage_micro",
            "n_covered_900k",
        )
    )
