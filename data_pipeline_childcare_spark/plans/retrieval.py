"""Retrieval/query lifecycles (SURVEY.md §3.3) as DataFrame plans.

Tuoyu rule-filter path (the flagship): dedup → kv-parse → rule filter
→ surviving-document semi-join → segment-level re-check → ordered
db→doc rollup; restated from retrieve.py:1501-1696 exactly as the
SURVEY §3.3 plan sketch.

X-Pilot path: per-query ranking → RRF fusion → pluggable rerank with
graceful fallback (retrieve.py:229-232's degradation chain) → per-task
top-k with first-task-wins dedup → nested rollup
(retrieve.py:1713-1808).

Scale shape: every stage is one keyed shuffle at most; dedup runs
BEFORE the kv-parse so the parse work never touches duplicate rows
(the reference's manual optimization, SURVEY §4 — Catalyst cannot
reorder through the parse expression, so the order is explicit here).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.functions.dates import parse_ts_multi
from data_pipeline_childcare_spark.functions.text import kv_block_to_map, pipe_header_to_map
from data_pipeline_childcare_spark.io import resilient_checkpoint
from data_pipeline_childcare_spark.operators.rrf import rank_lists, rrf_fuse
from data_pipeline_childcare_spark.operators.rules import RegionalRule, check_rule, record_type_col


def enrich_chunks_with_doc_meta(chunks: DataFrame, doc_meta: DataFrame) -> DataFrame:
    """Chunk × document-metadata enrichment (SURVEY §2.3 J1): the
    reference prefetches per-(db, doc) detail dicts into a cache
    (retrieve.py:241-274); here the metadata dim is broadcast and the
    join is LEFT OUTER (missing detail → nulls, the reference's `{}`)."""
    return chunks.join(F.broadcast(doc_meta), ["database_id", "document_id"], "left")


def parse_chunk_records(chunks: DataFrame, content_col: str = "content") -> DataFrame:
    """content → rec map + record_type (auto_parse dispatch). Survey
    chunks carry a pipe header (城市：X | 岗位：Y) merged over the kv
    lines (parse_survey_content, retrieve.py:819-907)."""
    kv = kv_block_to_map(F.col(content_col))
    header = pipe_header_to_map(F.element_at(F.split(F.col(content_col), r"\n"), 1))
    rec = F.map_concat(
        F.map_filter(header, lambda k, _: ~F.map_contains_key(kv, k)),
        kv,
    )
    return chunks.withColumn("rec", rec).withColumn(
        "record_type", record_type_col(F.col("rec"))
    )


def extract_rule_fields(parsed: DataFrame) -> DataFrame:
    """Project the rule-relevant record fields out of the ``rec`` map
    into plain columns, ONCE. The rule conjunction references its
    inputs ~30× (a province scope alone is a >20-arm contains chain);
    if each reference is a map-extraction over ``rec``, Catalyst's
    filter pushdown inlines the whole kv-parse expression tree into
    every reference — measured: 576 copies of map_from_entries in the
    flagship plan, 200+ KB of optimized plan, with plan build/codegen
    dominating sf0.01 wall-time. Extracting to named columns (and
    cutting lineage right after — see tuoyu_rule_filter) keeps the
    parse tree in the plan exactly once."""
    g = F.col("rec").getItem
    return parsed.withColumns(
        {
            "_loc": F.coalesce(g("城市"), g("省份"), g("详细地址"), F.lit("")),
            "_lvl": F.coalesce(g("学历"), F.lit("")),
            "_maj": F.coalesce(g("开设专业"), g("专业"), g("岗位")),
            "_name": F.coalesce(g("机构名称"), g("别名"), F.lit("")),
            "_alias": g("别名"),
            "_ts": parse_ts_multi(
                F.coalesce(g("备案及完成时间"), F.concat(g("年份"), F.lit("-01-01")))
            ),
        }
    )


def _rule_condition(rule: RegionalRule) -> Column:
    """The rule conjunction over the columns extract_rule_fields
    projects (apply to its output, not to a raw parsed frame)."""
    return check_rule(
        rule,
        record_type=F.col("record_type"),
        location_col=F.col("_loc"),
        level_col=F.col("_lvl"),
        major_col=F.col("_maj"),
        name_col=F.col("_name"),
        alias_col=F.col("_alias"),
        ts_col=F.col("_ts"),
    )


def tuoyu_rule_filter(
    chunks: DataFrame,
    segments: DataFrame,
    rule: RegionalRule,
) -> DataFrame:
    """Flagship query (SURVEY §3.3 sketch):

    1. dropDuplicates(chunk_id) — dedup BEFORE the parse expressions;
    2. parse + rule-filter retrieved chunks → surviving document ids;
    3. semi-join the full segment table on those documents;
    4. re-apply the rule at segment granularity (retrieve.py:1609-1623);
    5. roll up db→document with position-ordered blocks and
       Tuoyu_Questionnaire / Tuoyu_institution classification.

    The parsed narrow projections and the surviving document-id set
    are LAZILY checkpointed (through :func:`io.resilient_checkpoint`)
    before the segment semi-join (lazy: plan building must never run jobs —
    test_no_driver_actions_while_building_plans; the RDDs materialize
    once at the first action). The kv-parse + gazetteer rule condition are
    multi-megabyte expression trees; without the cut they are embedded
    TWICE in the final plan (once in the semi-join build side, once in
    the segment leg), and plan construction/optimization/serialization
    cost is driver CPU that grows with composition depth, not data.
    The checkpoint only cuts lineage, so oracle hashes are
    unaffected.
    """
    cond = _rule_condition(rule)
    _FIELDS = ["_loc", "_lvl", "_maj", "_name", "_alias", "_ts"]

    parsed_chunks = extract_rule_fields(
        parse_chunk_records(chunks.dropDuplicates(["chunk_id"]))
    )
    # narrow projection (ids + extracted fields) then cut lineage:
    # downstream the rule condition references plain materialized
    # columns, so the kv-parse tree can't be inlined per reference
    parsed_chunks = resilient_checkpoint(parsed_chunks.select(
        "database_id", "document_id", "record_type", *_FIELDS
    ))
    hits = (
        parsed_chunks.filter(cond)
        .select("database_id", "document_id")
        .distinct()
    )
    hits = resilient_checkpoint(hits)
    parsed_segs = extract_rule_fields(parse_chunk_records(segments))
    parsed_segs = resilient_checkpoint(parsed_segs.select(
        "database_id", "document_id", "position", "content",
        "record_type", *_FIELDS,
    ))
    seg_checked = (
        parsed_segs
        .join(hits, ["database_id", "document_id"], "left_semi")
        .filter(cond)
    )
    blocks = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("position"),
                F.col("content"),
                F.col("record_type"),
            )
        )
    )
    return seg_checked.groupBy("database_id", "document_id").agg(
        blocks.alias("content_blocks"),
        F.when(
            F.max(F.when(F.col("record_type") == "survey", 1).otherwise(0)) == 1,
            F.lit("Tuoyu_Questionnaire"),
        )
        .otherwise(F.lit("Tuoyu_institution"))
        .alias("source_type"),
        F.count("*").alias("n_blocks"),
    )


def bm25_rerank_scorer(
    query: str,
    content_col: str = "content",
    k1: float = 1.2,
    b: float = 0.75,
    ndigits: int = 6,
) -> Callable[[DataFrame], DataFrame]:
    """Shippable DEFAULT rerank scorer for :func:`xpilot_retrieval`.

    The reference's rerank stage (retrieve.py:184-232) POSTs the query
    and the top-100 candidate contents to a hosted cross-encoder and
    backfills ``relevance_score``; the model endpoint stays a
    pluggable hook here, and THIS is the honest local default behind
    it: BM25 of the query terms against each candidate's content,
    with document frequencies computed over the capped candidate set
    itself (the only corpus the reference's scorer sees either — it is
    handed exactly those ≤100 chunks).

    Engine-portable determinism: token counts and candidate counts are
    integer-valued doubles (exact in any summation order), the idf is
    rounded to 8 digits straight after the only transcendental (ln),
    each per-term contribution is rounded to 8, and the final score to
    ``ndigits`` — so a SQL twin replays bit-equal scores. Candidates
    containing no query term score 0.0 and keep their deterministic
    downstream tie-break (chunk_id).

    Cost shape: every aggregate/join runs over the rerank-capped set
    (≤100 rows by contract), so all sides broadcast; nothing scales
    with the corpus.
    """
    terms = sorted({t for t in query.lower().split() if t})

    def scorer(capped: DataFrame) -> DataFrame:
        if not terms:
            return capped.withColumn(
                "rerank_score", F.round(F.col("rrf_score"), ndigits)
            )
        toks = F.filter(
            F.split(F.lower(F.col(content_col)), r"\s+"), lambda x: x != ""
        )
        base = capped.withColumn("_toks", toks).withColumn(
            "_len", F.size("_toks").cast("double")
        )
        stats = base.agg(
            F.count("*").cast("double").alias("_n"), F.avg("_len").alias("_avg")
        )
        hits = base.select(
            "chunk_id", "_len", F.explode("_toks").alias("_t")
        ).filter(F.col("_t").isin(terms))
        tf = hits.groupBy("chunk_id", "_t").agg(
            F.count("*").cast("double").alias("_tf"), F.first("_len").alias("_dl")
        )
        dfreq = tf.groupBy("_t").agg(F.count("*").cast("double").alias("_df"))
        idf = F.round(
            F.log(F.lit(1.0) + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)),
            8,
        )
        contrib = (
            tf.join(F.broadcast(dfreq), "_t")
            .crossJoin(F.broadcast(stats))
            .select(
                "chunk_id",
                F.round(
                    idf
                    * (F.col("_tf") * (k1 + 1.0))
                    / (F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avg"))),
                    8,
                ).alias("_c"),
            )
        )
        scores = contrib.groupBy("chunk_id").agg(
            F.round(F.sum("_c"), ndigits).alias("rerank_score")
        )
        return capped.join(F.broadcast(scores), "chunk_id", "left").withColumn(
            "rerank_score", F.coalesce(F.col("rerank_score"), F.lit(0.0))
        )

    return scorer


def cross_encoder_rerank_scorer(
    query: str,
    model_name: str = "cross-encoder/ms-marco-MiniLM-L-6-v2",
    content_col: str = "content",
    ndigits: int = 6,
    model_loader: Callable[[], object] | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Model-backed rerank scorer for :func:`xpilot_retrieval` — the
    executable twin of the reference's hosted cross-encoder stage
    (retrieve.py:184-232, bge-reranker-v2-m3): score each (query,
    candidate content) pair with a real cross-encoder and attach
    ``rerank_score``.

    Same callable contract as :func:`bm25_rerank_scorer` (the oracle
    default): takes the rerank-capped frame, returns it with a
    ``rerank_score`` column. Scoring runs in an Arrow-batched pandas
    UDF; the model is loaded once per executor process and cached.

    Degradation chain: the model is loaded EAGERLY here on the driver
    (and the loader re-runs per executor), so a missing
    sentence-transformers install or an unloadable model raises inside
    xpilot_retrieval's try — which falls back to RRF order, the
    reference's own API-failure behavior. sentence-transformers is an
    OPTIONAL dependency: nothing else in the engine imports it.

    ``model_loader`` overrides model construction (tests inject a
    deterministic fake to exercise the UDF plumbing without the
    dependency); the loaded object needs one method,
    ``predict(list[tuple[str, str]]) -> sequence[float]`` — the
    sentence-transformers ``CrossEncoder`` signature.
    """
    if model_loader is None:
        def model_loader() -> object:  # noqa: PLR0206
            from sentence_transformers import CrossEncoder  # optional dep

            return CrossEncoder(model_name)

    # eager load: dependency/model failures must raise at scorer-call
    # time (inside the caller's try), not at lazy plan execution
    model_loader()

    _cache: dict[str, object] = {}

    def scorer(capped: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        # no type hints: the module's `from __future__ import
        # annotations` would stringify them and break pandas_udf's
        # signature inference
        @pandas_udf("double")
        def _score(contents):
            if "m" not in _cache:  # once per executor process
                _cache["m"] = model_loader()
            preds = _cache["m"].predict(
                [(query, c if c is not None else "") for c in contents]
            )
            return pd.Series([round(float(p), ndigits) for p in preds])

        return capped.withColumn("rerank_score", _score(F.col(content_col)))

    return scorer


def chained_rerank_scorer(
    *factories: Callable[[], Callable[[DataFrame], DataFrame]],
) -> Callable[[DataFrame], DataFrame]:
    """First-working-scorer degradation chain — the production wiring
    of the reference's rerank stage (retrieve.py:229-232: hosted
    cross-encoder, and on ANY failure keep going with what you have):

        xpilot_retrieval(..., rerank_scorer=chained_rerank_scorer(
            lambda: cross_encoder_rerank_scorer(q),   # hosted/model
            lambda: bm25_rerank_scorer(q),            # local default
        ))

    Each factory is constructed AND applied inside the chain's try:
    cross_encoder_rerank_scorer loads its model eagerly at
    construction, so a missing dependency or unloadable weights falls
    through to the next factory here instead of surfacing at plan
    execution. If every factory fails, the last error propagates —
    into xpilot_retrieval's own try, whose fallback is RRF order, so
    the full chain is model → BM25 → RRF, failures logged nowhere but
    degraded everywhere, exactly the reference's behavior."""
    if not factories:
        raise ValueError("chained_rerank_scorer needs at least one factory")

    def scorer(capped: DataFrame) -> DataFrame:
        last_err: Exception | None = None
        for make in factories:
            try:
                return make()(capped)
            except Exception as e:  # noqa: BLE001 — degrade to next tier
                last_err = e
        raise last_err  # type: ignore[misc]

    return scorer


def xpilot_retrieval(
    retrieved: DataFrame,
    tasks: DataFrame,
    rerank_scorer: Callable[[DataFrame], DataFrame] | None = None,
    rerank_cap: int = 100,
    top_k: int = 20,
) -> DataFrame:
    """RAG path: ``retrieved`` holds (query_id, chunk_id, score,
    database_id, document_id, position, content) rows from per-query
    retrieval; ``tasks`` maps (task_id, query_id [, priority]).

    Stages: per-query rank → RRF fuse → optional rerank of the top
    ``rerank_cap`` (scorer failure falls back to RRF order — the
    reference's degradation chain) → per-task top-k with
    first-task-wins dedup → db→doc rollup with score-ordered blocks.

    Every task ranks the same capped list by the same score, so the
    per-task top-k is one slice of it: task j (0-based, ``task_id``
    order) gets ranks ``j*top_k+1 .. (j+1)*top_k`` of (score desc,
    chunk_id) — :func:`top_k_sequential_dedup`'s picks without its
    anti-joins. Duplicate and NULL task ids count once / not at all.

    ``rerank_scorer``: None skips the rerank stage entirely;
    :func:`bm25_rerank_scorer` is the shippable local default
    (pass ``bm25_rerank_scorer(query)``); a hosted cross-encoder
    plugs in through the same callable contract (add a
    ``rerank_score`` column to the capped frame).
    """
    ranked = rank_lists(retrieved, "query_id", "score", "chunk_id")
    fused = rrf_fuse(
        ranked,
        item_col="chunk_id",
        list_col="query_id",
        payload_cols=["database_id", "document_id", "position", "content"],
    )
    # the reference reranks the top of the RRF-SORTED list
    # (chunks[:100] of an already-ordered response) — an unordered
    # limit() would also re-evaluate nondeterministically across the
    # scorer's multiple reads of `capped`; TakeOrderedAndProject is
    # deterministic and distributed
    capped = fused.orderBy(F.desc("rrf_score"), "chunk_id").limit(rerank_cap)
    if rerank_scorer is not None:
        try:
            capped = rerank_scorer(capped)
            order_col = "rerank_score"
        except Exception:  # noqa: BLE001 — fallback keeps RRF order
            order_col = "rrf_score"
    else:
        order_col = "rrf_score"

    # top_k_per_group's order (desc: NaN first, NULL last); both
    # windows hold <= rerank_cap rows / a handful of tasks
    if top_k < 1:  # also keeps ANSI's DIVIDE_BY_ZERO out of the slot
        capped = capped.limit(0)
    rn = F.row_number().over(Window.orderBy(F.desc(order_col), "chunk_id"))
    ranked = capped.withColumn("_slot", F.floor((rn - 1) / top_k))
    task_slots = (
        tasks.select("task_id").dropna().distinct()
        .withColumn("_slot", F.row_number().over(Window.orderBy("task_id")) - 1)
    )
    winners = ranked.join(F.broadcast(task_slots), "_slot").drop("_slot")
    blocks = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col(order_col)).alias("neg_score"),
                F.col("position"),
                F.col("content"),
                F.col("chunk_id"),
            )
        )
    )
    return winners.groupBy("task_id", "database_id", "document_id").agg(
        blocks.alias("content_blocks"), F.count("*").alias("n_blocks")
    )
