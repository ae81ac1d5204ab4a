"""Link-graph PageRank for crawl-frontier prioritization.

A 100 TB crawl corpus needs a principled "which URLs matter" signal to
budget re-crawls and to weight training-data sources; PageRank over
the host/page link graph is the standard answer (Page et al. 1999,
"The PageRank citation ranking"). The reference pipeline crawls and
scrapes (`fast_tuoyu_scraper.py`, `多数据源获取链接.py`) but ranks
implicitly by source order; this operator gives the engine the
explicit graph-ranking primitive the crawl stack composes with
(`operators/robots.py` filters the frontier, this ranks it).

Design — fixed-point INTEGER arithmetic, not floats:

- Ranks are BIGINT mass in units of ``1/SCALE`` (micro-pageranks at
  the default ``SCALE = 10**12``). Every per-iteration step is integer
  division (``div``), so the result is bit-exact regardless of
  aggregation order, partitioning, or engine — the property that lets
  the DuckDB oracle match hash-exact and that makes production reruns
  reproducible across cluster sizes. Mass lost to integer floor-div
  (≤ outdeg per node per iteration, ~1e-10 relative at the default
  scale) is far below any ranking-relevant signal.
- Each iteration is one broadcast-or-SMJ equi-join (ranks × edges on
  src — at corpus scale a keyed SMJ on uniformly-hashed ids) plus one
  map-side-combinable sum keyed by dst, then a left join back onto
  the node frame.  No all-pairs stage anywhere; cost per iteration is
  O(|E|) shuffled bytes.
- Dangling mass (nodes with no out-edges) is a ONE-ROW aggregate
  broadcast back into the update — the standard correction, kept as a
  cross-join of a single row, never a skewed key.
- A per-iteration ``io.resilient_checkpoint`` cuts lineage: iterative
  DataFrame loops otherwise re-derive every predecessor through
  lineage and planning time grows super-linearly with iterations
  (same failure mode measured for un-checkpointed BPE merges,
  operators/bpe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.io import resilient_checkpoint

SCALE = 10**12


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 5,
    damping_pct: int = 85,
    scale: int = SCALE,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-point PageRank.

    ``nodes``: one row per vertex (``id_col``); every vertex receives
    base rank even with no in-links. ``edges``: (src, dst) rows,
    assumed distinct (multi-edges would double-count mass).
    ``damping_pct`` is the damping factor in integer percent (85 =
    the classic 0.85) so the update stays in BIGINT end to end.

    Returns (id, out_deg, rank_scaled) where ``rank_scaled`` is the
    BIGINT fixed-point rank; ``rank_scaled / scale`` sums to ~1.
    """
    nodes = nodes.select(F.col(id_col).alias("id"))
    edges = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))

    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # node frame with out-degree attached once; rank updates join onto
    # this (id-keyed, uniform) every iteration
    base = nodes.join(deg, nodes.id == deg.src, "left").select(
        "id", F.coalesce(F.col("out_deg"), F.lit(0)).alias("out_deg")
    )
    # r13: keyed layouts + LAZY checkpoints. With edges partitioned
    # on src and every rank frame on id, BOTH loop joins
    # (edges.src = ranks.id and ranks.id = contribs.dst) are
    # exchange-free — the only shuffle per iteration is the
    # groupBy(dst). Lazy checkpoints still truncate the logical
    # plan immediately (planning stays flat in n_iter) but stop
    # paying one eager materialization job per frame: the next
    # consumer computes the blocks in its own job.
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    base = resilient_checkpoint(base.repartition(n_part, F.col("id")))
    edges = resilient_checkpoint(edges.repartition(n_part, F.col("src")))

    nn = base.agg(F.count(F.lit(1)).alias("_n"))

    ranks = base.join(F.broadcast(nn), how="cross").select(
        "id",
        "out_deg",
        F.expr(f"{scale} div _n").alias("rank_scaled"),
        F.col("_n"),
    )
    ranks = resilient_checkpoint(ranks)

    teleport_pct = 100 - damping_pct
    for _ in range(n_iter):
        contribs = (
            edges.join(ranks.filter(F.col("out_deg") > 0), edges.src == ranks.id)
            .select("dst", F.expr("rank_scaled div out_deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("out_deg") == 0, F.col("rank_scaled"))),
                F.lit(0),
            ).alias("_dang")
        )
        ranks = (
            ranks.join(contribs, ranks.id == contribs.dst, "left")
            .join(F.broadcast(dangling), how="cross")
            .select(
                "id",
                "out_deg",
                F.expr(
                    f"(({teleport_pct} * cast({scale} as bigint)) div (100 * _n))"
                    f" + (({damping_pct} * (coalesce(contrib, 0L) + (_dang div _n))) div 100)"
                ).alias("rank_scaled"),
                "_n",
            )
        )
        ranks = resilient_checkpoint(ranks)
    return ranks.select("id", "out_deg", "rank_scaled")


FRAC_SCALE = 10**6


def weighted_pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping_pct: int = 85,
    scale: int = SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Fixed-point PageRank over a WEIGHTED graph: a node's mass flows
    to each neighbor in proportion to edge weight instead of uniformly
    (the TextRank formulation, Mihalcea & Tarau 2004 §2.2).

    ``edges``: (src, dst, weight) rows, assumed distinct per (src,
    dst) with positive integer weights; callers with undirected
    semantics pass both directions. The node set is ``distinct
    (src ∪ dst)`` with the standard dangling-mass correction (same
    one-row aggregate + broadcast as :func:`pagerank`): a dst-only
    node (wdeg 0) keeps its rank in the system by redistributing it
    uniformly, so mass sums to ~scale on ARBITRARY directed input,
    not just symmetrized graphs. On symmetrized co-occurrence input
    (dst ⊆ src, no dangling nodes) the dangling sum is exactly 0 and
    every update is bit-identical to the pre-correction operator —
    the TextRank oracles are unchanged.

    Integer discipline with unbounded weights: the per-source weight
    fractions are pre-quantized ONCE to ``frac = (w * 1e6) div
    wdeg(src)`` (≤ 1e6 regardless of raw weight magnitude), so the
    per-edge term ``(rank * frac) div 1e6`` stays inside BIGINT for
    any corpus — rank ≤ scale = 1e12 times frac ≤ 1e6 is 1e18 <
    2^63. Dividing rank by wdeg directly instead would zero out hot
    nodes (wdeg of a stop-token can exceed its rank); multiplying
    rank by raw weight would overflow on them.

    Per iteration: one src-keyed equi-join (ranks × quantized edges)
    + one map-side-combinable sum keyed by dst + one left join back —
    O(|E|) shuffled bytes, no all-pairs stage, same shape as
    :func:`pagerank`.

    Returns (id, wdeg, rank_scaled); ``rank_scaled / scale`` sums to
    ~1 (minus integer floor loss and the quantization residue, both
    deterministic and mirrored by the SQL oracle).
    """
    edges = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    )
    wdeg = edges.groupBy("src").agg(F.sum("w").alias("wdeg"))
    # the quantizing multiply itself must survive stop-token weights:
    # w can be ~1e15 at 100 TB, so w * 1e6 overflows BIGINT. Widening
    # to DECIMAL(38,0) keeps the product exact (1e21 << 1e38) and
    # `div` performs exact integral division back to BIGINT — the
    # DuckDB twin mirrors via HUGEINT. The result is ≤ 1e6 always.
    quant = edges.join(wdeg, "src").select(
        "src",
        "dst",
        F.expr(
            f"(cast(w as decimal(38,0)) * {FRAC_SCALE}) div wdeg"
        ).alias("frac"),
    )
    # node set = src ∪ dst; dst-only nodes carry wdeg 0 and feed the
    # dangling-mass term below (0 rows on symmetrized input).
    ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    nodes = ids.join(
        wdeg.select(F.col("src").alias("id"), "wdeg"), "id", "left"
    ).select("id", F.coalesce(F.col("wdeg"), F.lit(0).cast("long")).alias("wdeg"))
    # Eager checkpoints, the pagerank discipline. (eager=False was
    # measured to still materialize the AQE query stages at
    # plan-build time, so laziness buys nothing here; builders
    # composing this operator belong in the plan-build audit's
    # checkpoint_builders whitelist either way.)
    # r13: keyed layouts, the pagerank discipline — quant on src
    # and nodes/ranks on id make both loop joins exchange-free
    # (only the groupBy(dst) shuffles per iteration)
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    quant = resilient_checkpoint(quant.repartition(n_part, F.col("src")), eager=True)
    nodes = resilient_checkpoint(nodes.repartition(n_part, F.col("id")), eager=True)
    # Dangling nodes are known ONCE from the node frame: on
    # symmetrized input (dst ⊆ src — every TextRank caller) there
    # are none and the per-iteration dangling aggregate is exactly
    # 0, so it can be short-circuited to a literal. This removes
    # the third downstream consumer of `ranks` per iteration (the
    # round-11 advice): contribs + join-back only, ~2x lineage
    # fan-out instead of ~3x. Bit-identical — the aggregate it
    # replaces coalesces an empty sum to 0L. One cheap count on
    # the already-checkpointed node frame.
    has_dangling = nodes.filter(F.col("wdeg") == 0).limit(1).count() > 0
    nn = nodes.agg(F.count(F.lit(1)).alias("_n"))
    ranks = nodes.join(F.broadcast(nn), how="cross").select(
        "id", "wdeg", F.expr(f"{scale} div _n").alias("rank_scaled"), "_n"
    )
    ranks = resilient_checkpoint(ranks, eager=True)
    teleport_pct = 100 - damping_pct
    for _ in range(n_iter):
        contribs = (
            quant.join(ranks.select("id", "rank_scaled"), quant.src == F.col("id"))
            .select(
                "dst",
                F.expr(f"(rank_scaled * frac) div {FRAC_SCALE}").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        if has_dangling:
            dangling = ranks.agg(
                F.coalesce(
                    F.sum(F.when(F.col("wdeg") == 0, F.col("rank_scaled"))),
                    F.lit(0).cast("long"),
                ).alias("_dang")
            )
        else:
            dangling = ranks.sparkSession.range(1).select(
                F.lit(0).cast("long").alias("_dang")
            )
        ranks = (
            ranks.join(contribs, ranks.id == contribs.dst, "left")
            .join(F.broadcast(dangling), how="cross")
            .select(
                "id",
                "wdeg",
                F.expr(
                    f"(({teleport_pct} * cast({scale} as bigint)) div (100 * _n))"
                    f" + (({damping_pct} * (coalesce(contrib, 0L)"
                    f" + (_dang div _n))) div 100)"
                ).alias("rank_scaled"),
                "_n",
            )
        )
        ranks = resilient_checkpoint(ranks, eager=True)
    return ranks.select("id", "wdeg", "rank_scaled")


def trustrank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 5,
    damping_pct: int = 85,
    scale: int = SCALE,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "id",
) -> DataFrame:
    """Seed-personalized PageRank — TrustRank (Gyöngyi, Garcia-Molina
    & Pedersen 2004, "Combating web spam with TrustRank"): teleport
    mass lands ONLY on a curated seed set of trusted nodes instead of
    uniformly, so trust attenuates with link distance from the seeds
    and link-spam islands (unreachable from any seed) decay to zero —
    the crawl-quality signal that decides which discovered hosts earn
    fetch budget.

    Same integer fixed-point discipline as :func:`pagerank` (BIGINT
    mass, every update an integer ``div``, bit-exact under any
    partitioning/engine); the only changes are the initial vector
    (``scale div n_seeds`` on seeds, 0 elsewhere) and the
    teleport/dangling terms, which credit seeds alone. ``seeds`` is a
    one-column frame of trusted ids — seed membership joins onto the
    node frame ONCE before the loop and rides it as a flag, so the
    per-iteration shape is identical to pagerank: one src-keyed
    equi-join + one map-side-combinable sum + the node join-back.

    Returns (id, out_deg, is_seed, rank_scaled); mass sums to ~scale.
    """
    nodes = nodes.select(F.col(id_col).alias("id"))
    edges = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    seed_ids = seeds.select(F.col(seed_col).alias("id")).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    base = (
        nodes.join(deg, nodes.id == deg.src, "left")
        .join(seed_ids.withColumn("_s", F.lit(True)), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("out_deg"), F.lit(0)).alias("out_deg"),
            F.coalesce(F.col("_s"), F.lit(False)).alias("is_seed"),
        )
    )
    base = resilient_checkpoint(base, eager=True)
    edges = resilient_checkpoint(edges, eager=True)
    ns = base.agg(
        F.sum(F.col("is_seed").cast("long")).alias("_ns")
    )
    ranks = base.join(F.broadcast(ns), how="cross").select(
        "id",
        "out_deg",
        "is_seed",
        F.expr(f"if(is_seed, {scale} div _ns, 0L)").alias("rank_scaled"),
        "_ns",
    )
    ranks = resilient_checkpoint(ranks, eager=True)
    teleport_pct = 100 - damping_pct
    for _ in range(n_iter):
        contribs = (
            edges.join(ranks.filter(F.col("out_deg") > 0), edges.src == ranks.id)
            .select("dst", F.expr("rank_scaled div out_deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("out_deg") == 0, F.col("rank_scaled"))),
                F.lit(0),
            ).alias("_dang")
        )
        ranks = (
            ranks.join(contribs, ranks.id == contribs.dst, "left")
            .join(F.broadcast(dangling), how="cross")
            .select(
                "id",
                "out_deg",
                "is_seed",
                F.expr(
                    f"if(is_seed, ({teleport_pct} * cast({scale} as bigint))"
                    f" div (100 * _ns), 0L)"
                    f" + (({damping_pct} * (coalesce(contrib, 0L)"
                    f" + if(is_seed, _dang div _ns, 0L))) div 100)"
                ).alias("rank_scaled"),
                "_ns",
            )
        )
        ranks = resilient_checkpoint(ranks, eager=True)
    return ranks.select("id", "out_deg", "is_seed", "rank_scaled")


def synthetic_link_graph(
    docs: DataFrame,
    n_links: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic document link graph: doc ``i`` links to
    ``md5(i || '#' || j) % N`` for j in 1..n_links (self-links
    dropped, multi-edges collapsed).

    The testdata documents table has no hyperlink column, so — like
    the multimodal fixtures — the graph is derived closed-form from
    the portable md5 hash family, reproducible in any engine. In
    production this is replaced by the real (src_url, href) frame the
    WARC/scrape stack extracts; ``pagerank`` itself is agnostic.
    """
    n = docs.select(F.count(F.lit(1)).alias("_n"))
    hops = F.array([F.lit(j) for j in range(1, n_links + 1)])
    h = (
        "cast(conv(substring(md5(concat(cast(src as string), '#', cast(j as string)))"
        ", 1, 15), 16, 10) as bigint)"
    )
    return (
        docs.select(F.col(id_col).alias("src"))
        .join(F.broadcast(n), how="cross")
        .select("src", F.explode(hops).alias("j"), "_n")
        .select("src", (F.expr(h) % F.col("_n")).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def frontier_schedule(
    frontier: DataFrame,
    host_col: str = "host",
    priority_col: str = "rank_scaled",
    id_col: str = "id",
    per_host_cap: int = 4,
) -> DataFrame:
    """Politeness-aware crawl-wave assignment: order each host's URLs
    by priority (PageRank mass, recency score — any total order with
    the id tiebreak) and emit ``wave`` numbers such that no host has
    more than ``per_host_cap`` URLs per wave — the standard frontier
    discipline (a crawler fetches wave w everywhere before wave w+1,
    bounding per-host request rate while global throughput stays
    proportional to host count).

    One (host)-keyed window; host skew is the thing to watch at
    100 TB (one giant host ⇒ one giant partition) — mitigated
    upstream by sharding mega-hosts on a path prefix before
    scheduling. Returns the frontier plus (wave, slot): slot ∈
    [1, per_host_cap] is the position within the host's wave.
    """
    w = Window.partitionBy(host_col).orderBy(
        F.desc(priority_col), F.col(id_col)
    )
    rn = F.row_number().over(w)
    return (
        frontier.withColumn("_rn", rn)
        .withColumn("wave", F.expr(f"cast((_rn - 1) div {per_host_cap} as bigint)"))
        .withColumn("slot", F.expr(f"cast((_rn - 1) % {per_host_cap} + 1 as int)"))
        .drop("_rn")
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph (edges may arrive directed; they are
    symmetrized). Compact-forward formulation: orient every edge from
    its lower-DEGREE endpoint to its higher-degree endpoint
    (lexicographic (degree, id) — a total acyclic order), build
    wedges as ordered out-neighbor pairs at a pivot, close them
    against the oriented edge set — each triangle is materialized
    exactly once, then credited to all three corners.

    Why degree order and not id order: under id order a celebrity
    vertex contributes indeg·outdeg ≈ d² wedges on its own key — the
    classic power-law blowup. Under degree order a pivot's
    out-degree is bounded by O(√m) (every out-neighbor has degree ≥
    the pivot's), so total wedge volume is O(m^1.5) — bounded by the
    graph's arboricity, not by its hottest hub — and the pivot's key
    is never hotter than √m on the wedge join. Output is
    orientation-invariant (same triangles, same corners), so the
    DuckDB oracle needs no mirroring.

    Scale shape: two vertex-keyed degree joins + the pivot-keyed
    wedge join + the (y,z)-keyed closing join + one explode + one
    count aggregate — never an all-pairs stage. The coefficient is
    EXACT fixed-point: ``(2·T·1e6) div (d·(d−1))`` — no float
    anywhere (the PageRank discipline), so the oracle matches
    bit-for-bit.

    Returns (id, degree, n_triangles, clustering_micro).
    """
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = und.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    keyed = (
        und.join(deg.select(F.col("id").alias("a"), F.col("degree").alias("_da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("degree").alias("_db")), "b")
        .select(
            "a",
            "b",
            F.struct(F.col("_da").alias("d"), F.col("a").alias("v")).alias("ka"),
            F.struct(F.col("_db").alias("d"), F.col("b").alias("v")).alias("kb"),
        )
    )
    # keep each undirected edge once, directed low-key -> high-key
    oriented = keyed.filter(F.col("ka") < F.col("kb")).select("a", "b", "kb")
    w1 = oriented.alias("e1")
    w2 = oriented.alias("e2")
    # ordered out-neighbor pairs at pivot a; the closing edge between
    # y and z (if present) is oriented y->z because k(y) < k(z)
    wedges = w1.join(
        w2,
        (F.col("e1.a") == F.col("e2.a")) & (F.col("e1.kb") < F.col("e2.kb")),
    ).select(
        F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
    )
    closing = oriented.select(
        F.col("a").alias("y"), F.col("b").alias("z")
    )
    tris = wedges.join(closing, ["y", "z"])
    per_node = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        )
        .withColumn(
            "clustering_micro",
            F.when(
                F.col("degree") >= 2,
                F.expr("(2 * n_triangles * 1000000) div (degree * (degree - 1))"),
            ).otherwise(F.lit(0).cast("long")),
        )
    )


HITS_SCALE = 10**6


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 5,
    scale: int = HITS_SCALE,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-point HITS (Kleinberg 1999): authorities = mass flowing
    IN along edges from hub scores, hubs = mass flowing OUT from
    authority scores, each L1-normalized to ``scale`` per iteration —
    the directional complement to :func:`pagerank` (a crawl audit
    reads hubs = index/directory pages, authorities = content pages).

    Same integer discipline as pagerank: updates are keyed sums of
    BIGINT mass with a one-row normalization broadcast and integer
    ``div`` — bit-exact under any partitioning and engine. (Classic
    HITS normalizes by the L2 norm; L1 keeps the arithmetic integral
    and yields the same ranking order.) Per iteration: two keyed
    joins + two map-side-combinable sums + two one-row broadcasts.

    The default scale is 1e6 (not pagerank's 1e12): the
    normalization multiplies a pre-norm mass (≤ scale·max_degree) by
    ``scale`` before the div, so scale² · degree must stay inside
    BIGINT — 1e6 leaves headroom to degree ~1e6 at N ~1e9 nodes.

    Returns (id, hub_scaled, auth_scaled).
    """
    nodes = nodes.select(F.col(id_col).alias("id"))
    edges = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    nodes = resilient_checkpoint(nodes, eager=True)
    edges = resilient_checkpoint(edges, eager=True)
    nn = nodes.agg(F.count(F.lit(1)).alias("_n"))
    state = nodes.join(F.broadcast(nn), how="cross").select(
        "id",
        F.expr(f"{scale} div _n").alias("hub"),
        F.expr(f"{scale} div _n").alias("auth"),
    )
    state = resilient_checkpoint(state, eager=True)

    def _norm(df: DataFrame, col: str) -> DataFrame:
        tot = df.agg(F.sum(col).alias("_t"))
        return df.join(F.broadcast(tot), how="cross").select(
            *[c for c in df.columns if c != col],
            F.expr(f"({col} * cast({scale} as bigint)) div _t").alias(col),
        )

    for _ in range(n_iter):
        auth_in = (
            edges.join(state.select("id", "hub"), edges.src == F.col("id"))
            .groupBy("dst")
            .agg(F.sum("hub").alias("_a"))
        )
        state = state.join(auth_in, state.id == auth_in.dst, "left").select(
            "id", "hub", F.coalesce(F.col("_a"), F.lit(0)).cast("long").alias("auth")
        )
        state = _norm(state, "auth")
        hub_out = (
            edges.join(state.select("id", "auth"), edges.dst == F.col("id"))
            .groupBy("src")
            .agg(F.sum("auth").alias("_h"))
        )
        state = state.join(hub_out, state.id == hub_out.src, "left").select(
            "id", F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("hub"), "auth"
        )
        state = _norm(state, "hub")
        state = resilient_checkpoint(state, eager=True)
    return state.select("id", F.col("hub").alias("hub_scaled"), F.col("auth").alias("auth_scaled"))


def reciprocity(edges: DataFrame) -> DataFrame:
    """Directed-graph reciprocity → one row
    (n_edges, n_reciprocal, reciprocity_u): the fraction of directed
    edges whose reverse edge also exists — the classic crawl-graph
    health signal (link farms reciprocate; organic webs mostly
    don't). One distinct pass + one self-equi-join on the reversed
    key + one reduce; exact integer micro ratio."""
    e = edges.select("src", "dst").distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, on=["src", "dst"], how="left_semi")
    a = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    b = recip.agg(F.count(F.lit(1)).cast("long").alias("n_reciprocal"))
    return a.crossJoin(b).select(
        "n_edges",
        "n_reciprocal",
        F.expr(
            "CASE WHEN n_edges > 0 THEN "
            "cast(n_reciprocal * 1000000 div n_edges as bigint) END"
        ).alias("reciprocity_u"),
    )


def kcore(
    edges: DataFrame,
    k: int = 4,
    rounds: int = 6,
) -> DataFrame:
    """k-core decomposition by fixed-round peeling (Seidman 1983 /
    the Batagelj-Zaveršnik bulk variant): symmetrize, then each round
    drops every node whose degree WITHIN the surviving subgraph is
    < k — the maximal subgraph where everyone keeps ≥ k neighbors,
    the standard crawl-graph "dense nucleus" extractor. Returns
    (id, core_degree) for survivors.

    Fixed-round contract (the engine's loop discipline — plans can't
    branch on data): ``rounds`` bounds the peel DEPTH, and peeling is
    monotone, so if round r equals round r−1 the result IS the exact
    k-core; the unit test certifies convergence on the test graph and
    the docstring records the contract. Per round: two semi-joins +
    one keyed degree aggregate; survivor frames are checkpointed
    lazily (the pagerank discipline) so lineage stays linear in
    rounds."""
    sym = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    alive = sym.select(F.col("src").alias("id")).distinct()
    alive = resilient_checkpoint(alive)
    for _ in range(rounds):
        deg = (
            sym.join(alive.select(F.col("id").alias("src")), on="src", how="left_semi")
            .join(alive.select(F.col("id").alias("dst")), on="dst", how="left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).cast("long").alias("_d"))
        )
        alive = deg.filter(F.col("_d") >= k).select(F.col("src").alias("id"))
        alive = resilient_checkpoint(alive)
    final_deg = (
        sym.join(alive.select(F.col("id").alias("src")), on="src", how="left_semi")
        .join(alive.select(F.col("id").alias("dst")), on="dst", how="left_semi")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )
    return final_deg.select(F.col("src").alias("id"), "core_degree")


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "id",
) -> DataFrame:
    """Minimum hop distance from a seed set along directed edges —
    the crawl-depth audit that complements :func:`trustrank`: depth
    from the trusted whitelist is what bounds a crawl budget
    (fetch-frontier policies cap at depth k), and unreachable pages
    are the same spam-island set TrustRank zeroes.

    Distributed min-distance propagation, the :func:`~data_pipeline_
    childcare_spark.operators.components.connected_components`
    discipline: dist(v) ← min(dist(v), min over in-neighbors
    dist(u)+1), iterated ``max_hops`` times with an early exit when a
    round changes nothing (converged = every reachable node final).
    Each round is one src-keyed join + one dst-keyed
    map-side-combinable min + a left join back, frames
    checkpointed per round. After k rounds distances ≤ k are
    exact — the documented contract (a node at true depth > max_hops
    is absent from the output), which the SQL oracle mirrors with a
    depth-capped recursion.

    Returns (id, dist) for REACHED nodes only, dist 0 = seed.
    """
    edges = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    dist = resilient_checkpoint(
        seeds.select(F.col(seed_col).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long")),
        eager=True,
    )
    edges = resilient_checkpoint(edges, eager=True)
    for _ in range(max_hops):
        nbr = (
            edges.join(dist, edges.src == dist.id)
            .groupBy("dst")
            .agg((F.min("dist") + 1).alias("_nd"))
        )
        new = (
            dist.join(nbr, dist.id == nbr.dst, "full")
            .select(
                F.coalesce(F.col("id"), F.col("dst")).alias("id"),
                F.least(
                    F.coalesce(F.col("dist"), F.col("_nd")),
                    F.coalesce(F.col("_nd"), F.col("dist")),
                ).alias("dist"),
                (
                    F.col("id").isNull()
                    | (F.col("_nd") < F.coalesce(F.col("dist"), F.col("_nd")))
                ).alias("_chg"),
            )
        )
        new = resilient_checkpoint(new, eager=True)
        changed = new.filter(F.col("_chg")).limit(1).count()
        dist = new.drop("_chg")
        if changed == 0:
            break
    return dist
