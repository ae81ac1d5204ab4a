"""Similarity search: exactness of the brute-force path (vs numpy) and
recall of the LSH-bucketed scale path on real test embeddings."""

from __future__ import annotations

import pathlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

import data_pipeline_childcare_spark as eng
from data_pipeline_childcare_spark.operators import similarity as sim
from data_pipeline_childcare_spark.operators.similarity import (
    cosine_topk_bruteforce,
    label_centroids,
    lsh_cosine_topk,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return eng.load_table(spark, "embeddings", SF_DIR).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def _queries(df, n=3):
    return df.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_bruteforce_matches_numpy(spark):
    emb = _emb(spark)
    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    got = cosine_topk_bruteforce(emb, _queries(emb, 1), k=5).collect()

    q = mat[ids == 0][0]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = [int(ids[i]) for i in np.argsort(-sims) if ids[i] != 0][:5]
    assert [r["vec_id"] for r in got] == order
    top = got[0]
    expect = float(np.round(sims[ids == order[0]][0], 6))
    assert abs(top["cosine_sim"] - expect) < 1e-5


def test_lsh_recall_against_bruteforce(spark):
    emb = _emb(spark)
    q = _queries(emb, 3)
    exact = {
        (r["query_id"], r["vec_id"]) for r in cosine_topk_bruteforce(emb, q, k=10).collect()
    }
    approx_rows = lsh_cosine_topk(emb, q, dim=64, k=10, n_planes=3, n_tables=8).collect()
    approx = {(r["query_id"], r["vec_id"]) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    # 8 OR-amplified tables × 3-bit buckets: recall ≈ 1-(1-p³)⁸ — on
    # unclustered random vectors this must land well above chance
    assert recall >= 0.5, f"recall {recall}"
    # every approximate hit must carry the TRUE cosine score (the
    # re-score stage is exact): compare against the exact path
    exact_scores = {
        (r["query_id"], r["vec_id"]): r["cosine_sim"]
        for r in cosine_topk_bruteforce(emb, q, k=499).collect()
    }
    for r in approx_rows:
        key = (r["query_id"], r["vec_id"])
        assert key in exact_scores
        assert abs(r["cosine_sim"] - exact_scores[key]) < 1e-6


def test_ivf_recall_and_score_exactness(spark):
    from data_pipeline_childcare_spark.operators.similarity import ivf_cosine_topk

    emb = _emb(spark)
    q = _queries(emb, 3)
    exact = {
        (r["query_id"], r["vec_id"]) for r in cosine_topk_bruteforce(emb, q, k=10).collect()
    }
    rows = ivf_cosine_topk(emb, q, k=10, n_cells=8, n_probe=4, iterations=2).collect()
    approx = {(r["query_id"], r["vec_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    # probing half the cells (4/8) must recover well over half the
    # true neighbors on random vectors
    assert recall >= 0.4, f"recall {recall}"
    exact_scores = {
        (r["query_id"], r["vec_id"]): r["cosine_sim"]
        for r in cosine_topk_bruteforce(emb, q, k=499).collect()
    }
    for r in rows:
        assert abs(r["cosine_sim"] - exact_scores[(r["query_id"], r["vec_id"])]) < 1e-6


def test_kmeans_lite_partitions_corpus(spark):
    from data_pipeline_childcare_spark.operators.similarity import kmeans_lite, _assign_cells

    emb = _emb(spark)
    cents = kmeans_lite(emb, k=8, iterations=2)
    assert cents.count() <= 8  # empty cells may drop
    assigned = _assign_cells(emb, cents, "vec_id", "embedding")
    # every vector lands in exactly one cell
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()


def test_label_centroids_match_numpy(spark):
    emb = _emb(spark)
    rows = emb.collect()
    got = {r["label"]: r["centroid"] for r in label_centroids(emb).collect()}
    labels = {r["label"] for r in rows}
    for lab in labels:
        mat = np.array([r["embedding"] for r in rows if r["label"] == lab])
        np.testing.assert_allclose(got[lab], mat.mean(axis=0), rtol=1e-9)


def test_embedding_cosine_dedup(spark):
    from data_pipeline_childcare_spark.operators.similarity import embedding_cosine_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0]),   # near-dup of 1 → dropped
        (3, [0.0, 1.0, 0.0]),     # orthogonal → kept
        (4, [0.0, 0.98, 0.05]),   # near-dup of 3 → dropped
        (5, [-1.0, 0.0, 0.0]),    # anti-parallel → kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(r["vec_id"] for r in embedding_cosine_dedup(df, threshold=0.9).collect())
    assert kept == [1, 3, 5]
    # threshold above every off-diagonal cosine keeps everything
    assert embedding_cosine_dedup(df, threshold=0.999999).count() == 5


def test_embedding_cosine_dedup_verbatim_collapse_saturation(spark):
    """The round-9 verbatim-collapse stage: clone-saturated corpora
    give the SAME kept set as the uncollapsed formulation — every
    non-rep clone is dropped (its rep dominates at rounded cosine
    exactly 1.0), the rep itself lives or dies by the rep-level
    pairs, and degenerate (zero) vectors follow the engines'
    NaN-above-everything comparison: a zero vector drops every
    LARGER-id vector it meets (cosine NaN ≥ t is true in Spark and
    DuckDB alike), and identical zero clones collapse like any other
    group."""
    from data_pipeline_childcare_spark.operators.similarity import (
        embedding_cosine_dedup,
        embedding_cosine_dedup_lsh,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),     # verbatim clone of 1 → dropped
        (3, [1.0, 0.0, 0.0]),     # verbatim clone of 1 → dropped
        (4, [0.0, 1.0, 0.0]),     # orthogonal → kept at 0.9
        (5, [0.0, 1.0, 0.0]),     # verbatim clone of 4 → dropped
        (6, [-1.0, 0.0, 0.0]),    # anti-parallel → kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(
        r["vec_id"] for r in embedding_cosine_dedup(df, threshold=0.9).collect()
    )
    assert kept == [1, 4, 6]
    kept_lsh = sorted(
        r["vec_id"]
        for r in embedding_cosine_dedup_lsh(df, dim=3, threshold=0.9).collect()
    )
    # clones share every bucket, so the collapse path must drop them too
    assert set(kept_lsh) <= {1, 4, 6} and {2, 3, 5}.isdisjoint(kept_lsh)

    # zero vectors: under the session's ANSI mode the cosine's
    # norm-product division throws DIVIDE_BY_ZERO — in the collapsed
    # formulation exactly as in the uncollapsed one (the rep-level
    # verify still evaluates the degenerate pair), so the collapse
    # does not silently change degenerate-input behavior
    import pytest
    from pyspark.errors import ArithmeticException

    zrows = [(7, [0.0, 0.0, 0.0]), (8, [0.0, 0.0, 0.0]), (9, [0.0, 1.0, 0.0])]
    zdf = spark.createDataFrame(zrows, "vec_id long, embedding array<double>")
    with pytest.raises(ArithmeticException):
        embedding_cosine_dedup(zdf, threshold=0.9).collect()

    # threshold > 1.0 means "disable": rounded cosine never exceeds
    # 1.0, so the dedup degrades to a no-op instead of raising.
    kept_all = {r["vec_id"] for r in embedding_cosine_dedup(df, threshold=1.5).collect()}
    assert kept_all == {r["vec_id"] for r in df.collect()}

    # ndigits beyond the provable self-cosine rounding bound bypasses
    # the verbatim collapse — clones must then survive a threshold of
    # exactly 1.0 unless the computed rounded cosine really reaches it.
    clones = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    kept_hi = {r["vec_id"] for r in
               embedding_cosine_dedup(clones, threshold=1.0, ndigits=17).collect()}
    kept_lo = {r["vec_id"] for r in
               embedding_cosine_dedup(clones, threshold=1.0, ndigits=6).collect()}
    assert kept_lo == {1}
    # at ndigits=17 the outcome follows the computed cosine (no
    # unconditional clone drop); whichever way the float lands, row 1
    # must survive and the result equals the uncollapsed formulation
    assert 1 in kept_hi


def test_embedding_cosine_dedup_lsh_recall_and_no_false_drops(spark):
    from data_pipeline_childcare_spark.operators.similarity import (
        embedding_cosine_dedup,
        embedding_cosine_dedup_lsh,
    )

    emb = _emb(spark)
    kept_exact = {r["vec_id"] for r in embedding_cosine_dedup(emb, threshold=0.4).collect()}
    kept_lsh = {
        r["vec_id"]
        for r in embedding_cosine_dedup_lsh(emb, dim=64, threshold=0.4).collect()
    }
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    dropped_exact = all_ids - kept_exact
    dropped_lsh = all_ids - kept_lsh
    # every LSH drop is verified by the exact cosine → no false drops
    assert dropped_lsh <= dropped_exact
    # and the candidate generator must SEE ≥95% of the true duplicates
    recall = len(dropped_lsh) / len(dropped_exact) if dropped_exact else 1.0
    assert recall >= 0.95, f"recall {recall} ({len(dropped_lsh)}/{len(dropped_exact)})"


def test_embedding_cosine_dedup_ivf_recall_and_no_false_drops(spark):
    from data_pipeline_childcare_spark.operators.similarity import (
        embedding_cosine_dedup,
        embedding_cosine_dedup_ivf,
    )

    emb = _emb(spark)
    kept_exact = {r["vec_id"] for r in embedding_cosine_dedup(emb, threshold=0.4).collect()}
    kept_ivf = {
        r["vec_id"]
        for r in embedding_cosine_dedup_ivf(emb, threshold=0.4).collect()
    }
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    dropped_exact = all_ids - kept_exact
    dropped_ivf = all_ids - kept_ivf
    # verified tail → an IVF drop is always a true near-dup
    assert dropped_ivf <= dropped_exact
    recall = len(dropped_ivf) / len(dropped_exact) if dropped_exact else 1.0
    assert recall >= 0.95, f"recall {recall} ({len(dropped_ivf)}/{len(dropped_exact)})"


def test_hard_negative_topk_label_aware(spark):
    from data_pipeline_childcare_spark.operators.similarity import hard_negative_topk

    # anchor [1,0]; same-label near-dup must be excluded, the hardest
    # DIFFERENT-label vector (closest cosine) must rank first
    rows = [
        (0, [1.0, 0.0], 0),      # anchor, label 0
        (1, [0.99, 0.01], 0),    # same label, nearly identical -> excluded
        (2, [0.9, 0.1], 1),      # different label, very close -> rank 1
        (3, [0.0, 1.0], 1),      # different label, orthogonal -> rank 2
        (4, [-1.0, 0.0], 2),     # different label, opposite -> rank 3
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    anchors = emb.filter("vec_id = 0").selectExpr(
        "vec_id AS anchor_id", "embedding AS anchor_vec", "label AS anchor_label"
    )
    got = hard_negative_topk(emb, anchors, k=3).orderBy("rank").collect()
    assert [r["vec_id"] for r in got] == [2, 3, 4]
    assert all(r["label"] != 0 for r in got)
    assert got[0]["cosine_sim"] > got[1]["cosine_sim"] > got[2]["cosine_sim"]


def test_mmr_select_diversifies(spark):
    from data_pipeline_childcare_spark.operators.similarity import mmr_select

    # candidates: two near-identical high-relevance vectors + one
    # orthogonal mid-relevance vector. Pure relevance would rank the
    # twin second; MMR must leapfrog the orthogonal one over it.
    rows = [
        (7, 1, 0.99, [1.0, 0.0]),
        (7, 2, 0.98, [0.999, 0.01]),   # near-dup of 1
        (7, 3, 0.50, [0.0, 1.0]),      # orthogonal
    ]
    cand = spark.createDataFrame(
        rows, "query_id long, vec_id long, rel_score double, embedding array<double>"
    )
    got = mmr_select(cand, k=3, lam=0.5).orderBy("mmr_rank").collect()
    assert [r["vec_id"] for r in got] == [1, 3, 2]
    assert [r["mmr_rank"] for r in got] == [1, 2, 3]
    # rank-1 score is raw relevance; later scores are penalized
    assert got[0]["mmr_score"] == 0.99
    assert got[1]["mmr_score"] < got[0]["mmr_score"]
    # a query with fewer candidates than k yields fewer rows, no error
    small = cand.filter("vec_id = 1")
    assert mmr_select(small, k=3, lam=0.5).count() == 1


def test_mmr_select_no_materialized_leak_on_failure(spark, monkeypatch):
    """The candidate projection rides a LAZY localCheckpoint (r13 —
    replacing the old persist-in-CacheManager, whose registration
    leaked for the session's lifetime unless an explicit finally-block
    unpersisted it). An exception before/inside the greedy loop must
    not leave MATERIALIZED blocks behind: with eager=False nothing is
    computed before the first action, and the registration itself is
    GC-scoped (the ContextCleaner unpersists it once the frame goes
    out of scope — no CacheManager entry holds it alive)."""
    import pytest as _pytest

    from data_pipeline_childcare_spark.operators import similarity as sim

    cand = spark.createDataFrame(
        [(7, 1, 0.99, [1.0, 0.0]), (7, 3, 0.50, [0.0, 1.0])],
        "query_id long, vec_id long, rel_score double, embedding array<double>",
    )
    sc = spark.sparkContext._jsc.sc()

    def cached_partitions() -> int:
        return sum(i.numCachedPartitions() for i in sc.getRDDStorageInfo())

    before = cached_partitions()

    def boom(*args, **kwargs):
        raise RuntimeError("greedy loop exploded")

    monkeypatch.setattr(sim, "_mmr_greedy", boom)
    with _pytest.raises(RuntimeError, match="greedy loop exploded"):
        sim.mmr_select(cand, k=2, lam=0.5)
    assert cached_partitions() == before


def test_semdedup_crafted_clusters(spark):
    """SemDeDup semantics on a hand-built corpus: near-identical
    vectors in one semantic cluster collapse to the lowest id; the
    orthogonal cluster survives untouched; greedy shadowing keeps a
    dropped vector's own shadows dropped."""
    from data_pipeline_childcare_spark.operators.similarity import semdedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # ~dup of 1
        (3, [0.998, 0.02, 0.0, 0.0]),   # ~dup of 1 and 2
        (10, [0.0, 0.0, 1.0, 0.0]),
        (11, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in semdedup(df, n_cells=2, threshold=0.95).collect()}
    assert got[1]["kept"] is True and got[1]["dup_of"] is None
    assert got[2]["kept"] is False and got[2]["dup_of"] == 1
    assert got[3]["kept"] is False and got[3]["dup_of"] == 1  # lowest shadow wins
    assert got[10]["kept"] is True and got[11]["kept"] is True
    # kept set is exactly the dedup survivors
    assert sorted(v for v, r in got.items() if r["kept"]) == [1, 10, 11]


def test_pq_codebooks_and_encode_shapes(spark):
    from data_pipeline_childcare_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    emb = _emb(spark)
    books = pq_codebooks(emb, dim=64, n_sub=4, n_codes=8, iterations=2)
    rows = books.collect()
    assert {r["block"] for r in rows} == {1, 2, 3, 4}
    assert all(len(r["centroid"]) == 16 for r in rows)
    assert all(1 <= r["code"] <= 8 for r in rows)
    codes = pq_encode(emb, books, dim=64, n_sub=4)
    n = emb.count()
    # exactly one code per (vector, block)
    assert codes.count() == 4 * n
    assert codes.select("vec_id").distinct().count() == n


def test_pq_adc_recall_and_score_approximation(spark):
    """ADC ranks by an 8-codes-per-block reconstruction — recall
    against the exact top-k must be far above chance, and each ADC
    score must approximate the true dot product to within the
    per-block quantization error."""
    import numpy as np

    from data_pipeline_childcare_spark.operators.similarity import pq_adc_topk

    emb = _emb(spark)
    q = _queries(emb, 3)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(emb, q, k=10).collect()
    }
    rows = pq_adc_topk(
        emb, q, k=10, dim=64, n_sub=4, n_codes=8, iterations=2, rerank_shortlist=100
    ).collect()
    approx = {(r["query_id"], r["vec_id"]) for r in rows}
    # near-random test vectors are PQ's worst case (quantization noise
    # ~ the signal itself); the reranked shortlist still has to beat
    # the ~2% chance rate by an order of magnitude
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"recall {recall}"

    # reranked scores are EXACT cosines over the shortlist
    mat = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    for r in rows:
        a, b = mat[r["query_id"]], mat[r["vec_id"]]
        true_cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["cosine_sim"] - true_cos) < 1e-5
        true_dot = float(a @ b)
        assert abs(r["adc_score"] - true_dot) < 0.5 * abs(true_dot) + 2.0


def test_ivfpq_reranked_recall_and_exact_scores(spark):
    """IVFADC with the exact second stage: recall bounded above by the
    IVF probe ceiling, well above chance below it; reranked scores
    are exact cosines."""
    import numpy as np

    from data_pipeline_childcare_spark.operators.similarity import ivfpq_topk

    emb = _emb(spark)
    q = _queries(emb, 3)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(emb, q, k=10).collect()
    }
    rows = ivfpq_topk(emb, q, k=10, rerank_shortlist=100).collect()
    approx = {(r["query_id"], r["vec_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"recall {recall}"
    mat = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    for r in rows:
        a, b = mat[r["query_id"]], mat[r["vec_id"]]
        true_cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["cosine_sim"] - true_cos) < 1e-5


# ------------------------------------------------------------------ k-center


def test_kcenter_hand_case(spark):
    from data_pipeline_childcare_spark.operators.similarity import kcenter_select

    # 1-d line: clusters at 0, 100, 50 — farthest-point hops ends first
    rows = [
        (1, [0.0]), (2, [1.0]),
        (3, [100.0]), (4, [99.0]),
        (5, [50.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["round"]: r for r in kcenter_select(df, k=3).collect()}
    assert len(out) == 3
    seed_id = out[1]["vec_id"]
    assert out[1]["sel_dist_sq"] is None
    # pick 2 is the farthest point from the seed; pick 3 is the middle
    if seed_id in (1, 2):
        assert out[2]["vec_id"] == 3  # 100 is farther than 99 from 0/1
    elif seed_id in (3, 4):
        assert out[2]["vec_id"] == 1
    else:
        assert out[2]["vec_id"] in (3, 1)  # 50 -> ties broken by id: 2500 vs 2500... id 1 wins
    if seed_id != 5:
        assert out[3]["vec_id"] == 5


def test_kcenter_sel_dist_non_increasing_and_distinct(spark):
    from data_pipeline_childcare_spark.operators.similarity import kcenter_select

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = sorted(kcenter_select(emb, k=5).collect(), key=lambda r: r["round"])
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == 5
    dists = [r["sel_dist_sq"] for r in rows[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:]))
    assert all(d > 0 for d in dists)


def test_embedding_cosine_dedup_nan_threshold_is_full_noop(spark):
    """NaN threshold must disable the WHOLE dedup — including the
    verbatim collapse — not qualify zero pairs while still dropping
    clones (half-applied dedup)."""
    from data_pipeline_childcare_spark.operators.similarity import (
        embedding_cosine_dedup,
        embedding_cosine_dedup_ivf,
        embedding_cosine_dedup_lsh,
    )

    clones = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0]), (3, [0.5, -1.0])],
        "vec_id long, embedding array<double>",
    )
    nan = float("nan")
    for fn, kw in (
        (embedding_cosine_dedup, {}),
        (embedding_cosine_dedup_lsh, {"dim": 2}),
        (embedding_cosine_dedup_ivf, {"n_cells": 2}),
    ):
        kept = {r["vec_id"] for r in fn(clones, threshold=nan, **kw).collect()}
        assert kept == {1, 2, 3}, fn.__name__


def test_coreset_coverage_hand_vectors(spark):
    from data_pipeline_childcare_spark.operators.similarity import (
        coreset_coverage,
    )

    # reps = {e1}; corpus: e1 (self, cov 1.0), e2 ⊥ e1 (cov 0.0),
    # 45° vector (cov ≈ 0.707107)
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [1.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    reps = corpus.filter("vec_id = 1")
    got = coreset_coverage(corpus, reps).collect()[0]
    assert (got.n_reps, got.n_corpus) == (1, 3)
    assert got.min_coverage_micro == 0
    # mean = (1000000 + 0 + 707107) // 3
    assert got.mean_coverage_micro == (1_000_000 + 0 + 707_107) // 3
    assert got.n_covered_900k == 1
    # two reps covering both axes: worst point is the diagonal
    reps2 = corpus.filter("vec_id in (1, 2)")
    g2 = coreset_coverage(corpus, reps2).collect()[0]
    assert g2.min_coverage_micro == 707_107
    assert g2.n_covered_900k == 2


def test_semdedup_verbatim_collapse_exact_reconstruction(spark):
    """Round-11 semdedup collapse: clone groups collapse to their
    min-id rep before cell assignment (a c-clone group would emit c²
    within-cell pairs) and the non-rep rows are reconstructed
    EXACTLY: rep's cell, kept=false, dup_of = coalesce(rep.dup_of,
    rep.id). Pinned against the uncollapsed formulation run on the
    same corpus (forced by ndigits above the collapse-safe bound,
    which bypasses the collapse without changing any cosine at these
    clean values)."""
    from data_pipeline_childcare_spark.operators.similarity import semdedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),      # clone of 1
        (3, [0.99, 0.14]),    # near-dup of 1 (cos ≈ 0.99)
        (4, [0.99, 0.14]),    # clone of 3
        (5, [0.0, 1.0]),      # lone direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    collapsed = {
        r.vec_id: (r.cell, r.kept, r.dup_of)
        for r in semdedup(df, n_cells=2, threshold=0.9).collect()
    }
    # ndigits=13 > _COLLAPSE_SAFE_NDIGITS bypasses the collapse; at
    # these exactly-representable cosines the rounded compare is
    # unchanged, so this IS the uncollapsed ground truth
    uncollapsed = {
        r.vec_id: (r.cell, r.kept, r.dup_of)
        for r in semdedup(df, n_cells=2, threshold=0.9, ndigits=13).collect()
    }
    assert collapsed == uncollapsed
    assert collapsed[2] == (collapsed[1][0], False, 1)   # clone → rep
    # clone of a SHADOWED rep inherits the rep's smallest shadower
    assert collapsed[3][1] is False and collapsed[3][2] == 1
    assert collapsed[4] == (collapsed[3][0], False, 1)
    assert collapsed[5][1] is True and collapsed[5][2] is None


def test_null_embedding_rows_survive_collapse(spark):
    """Self-review round 11: the verbatim collapse's vec-keyed join
    silently DROPPED NULL-embedding rows (join keys never match
    NULL = NULL), diverging from the uncollapsed paths which keep
    them (NULL cosines are never ≥ threshold). NULL rows now route
    around the collapse as their own reps — one row per input id in
    every family, kept semantics identical to uncollapsed."""
    from data_pipeline_childcare_spark.operators.similarity import (
        embedding_cosine_dedup,
        embedding_cosine_dedup_ivf,
        embedding_cosine_dedup_lsh,
        ivf_cosine_topk,
        semdedup,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),   # clone of 1 -> dropped by dedup
        (3, None),
        (4, None),         # NULL "clone": must NOT collapse (cos is NULL)
        (5, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(
        r.vec_id for r in embedding_cosine_dedup(df, threshold=0.9).collect()
    )
    assert kept == [1, 3, 4, 5]
    kept_lsh = sorted(
        r.vec_id
        for r in embedding_cosine_dedup_lsh(df, dim=2, threshold=0.9).collect()
    )
    assert kept_lsh == [1, 3, 4, 5]
    sd = {r.vec_id: (r.kept, r.dup_of)
          for r in semdedup(df, n_cells=2, threshold=0.9).collect()}
    assert set(sd) == {1, 2, 3, 4, 5}  # one row per input id
    assert sd[2] == (False, 1)
    # NULL rows are kept, never shadowed, never shadow others —
    # exactly the uncollapsed semantics
    assert sd[3] == (True, None) and sd[4] == (True, None)
    assert sd[1][0] is True and sd[5][0] is True

    # an all-NULL corpus trains an empty model: every family still keeps
    # one row per input id, and the IVF probe finds no candidates
    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    )
    for dedup in (
        embedding_cosine_dedup(nulls, threshold=0.9),
        embedding_cosine_dedup_lsh(nulls, dim=2, threshold=0.9),
        embedding_cosine_dedup_ivf(nulls, n_cells=2, threshold=0.9),
    ):
        assert sorted(r.vec_id for r in dedup.collect()) == [1, 2]
    sd = sorted(
        (r.vec_id, r.cell, r.kept, r.dup_of)
        for r in semdedup(nulls, n_cells=2, threshold=0.9).collect()
    )
    assert sd == [(1, None, True, None), (2, None, True, None)]
    q = spark.createDataFrame([(9, [1.0, 0.0])], "query_id long, query_vec array<double>")
    assert ivf_cosine_topk(nulls, q, k=2, n_cells=2, n_probe=1).count() == 0


def _md5_first(ids):
    """The id that seeds first: smallest md5-prefix hash (kmeans_lite /
    pq_codebooks seed order)."""
    import hashlib

    return min(ids, key=lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16))


def test_pq_codebooks_skip_null_vectors(spark):
    """A NULL vector among the seed ids trains the same codebooks as the
    corpus without that row (it crashed the seed step); an all-NULL
    corpus trains an empty codebook, so the PQ top-k operators return
    no rows."""
    emb = _emb(spark).select("vec_id", "embedding")
    first = _md5_first([r.vec_id for r in emb.select("vec_id").collect()])
    with_null = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") != first, F.col("embedding")),
    )
    without = emb.filter(F.col("vec_id") != first)

    def books(corpus):
        return sorted(
            (r.block, r.code, list(r.centroid))
            for r in sim.pq_codebooks(corpus, dim=64, n_sub=4, n_codes=4).collect()
        )

    assert books(with_null) == books(without)

    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame([(9, [0.125] * 64)], "query_id long, query_vec array<double>")
    assert sim.pq_adc_topk(nulls, q, k=3, dim=64, n_sub=4, n_codes=4).count() == 0
    assert sim.ivfpq_topk(
        nulls, q, k=3, n_cells=2, n_probe=1, dim=64, n_sub=4, n_codes=4
    ).count() == 0


def test_auto_n_cells_formula():
    """√n sizing rule is pure and clamped: ceil(sqrt(n)) in [4, 4096] —
    the engine-portable formula the SQL twin reproduces."""
    from data_pipeline_childcare_spark.operators.similarity import auto_n_cells

    assert auto_n_cells(0) == 4
    assert auto_n_cells(1) == 4
    assert auto_n_cells(16) == 4
    assert auto_n_cells(17) == 5       # ceil(sqrt(17)) = 5
    assert auto_n_cells(500) == 23     # sf0.01 embeddings
    assert auto_n_cells(2000) == 45    # sf0.1 embeddings
    assert auto_n_cells(10**9) == 4096  # clamped at the driver-model cap


def test_semdedup_auto_cells_matches_explicit(spark):
    """Round-11 advice: n_cells='auto' derives k from the exact
    distinct-vector count — output-identical to passing the same k
    explicitly (clones count ONCE toward the distinct population)."""
    from data_pipeline_childcare_spark.operators.similarity import (
        auto_n_cells,
        semdedup,
    )
    import data_pipeline_childcare_spark as eng
    from pyspark.sql import functions as F

    emb = eng.load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # clone some vectors: distinct count must ignore them
    cloned = emb.unionByName(
        emb.filter(F.col("vec_id") < 50).withColumn(
            "vec_id", F.col("vec_id") + 10000
        )
    )
    n_distinct = emb.count()  # sf0.001 embeddings are all-distinct
    k = auto_n_cells(n_distinct)
    got = semdedup(cloned, n_cells="auto", threshold=0.9)
    want = semdedup(cloned, n_cells=k, threshold=0.9)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_occupancy_guard_trips_on_skewed_cells(spark):
    """The loud Σ|cell|² guard: a corpus of near-identical (but
    distinct — the verbatim collapse can't help) vectors piles into
    one cell; a tight factor raises BEFORE the quadratic stage, a
    loose factor lets it run."""
    import pytest

    from data_pipeline_childcare_spark.operators.similarity import semdedup

    rows = [(i, [1.0, i * 1e-9]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="occupancy"):
        semdedup(df, n_cells=4, threshold=0.999999,
                 occupancy_guard_factor=1.0).collect()
    # loose factor: runs to completion on the same skewed layout
    out = semdedup(df, n_cells=4, threshold=0.999999,
                   occupancy_guard_factor=50.0)
    assert out.count() == 40


def test_ivf_dedup_auto_cells_matches_explicit(spark):
    """n_cells='auto' on the IVF dedup path: same kept set as the
    explicit k the formula yields, and the occupancy guard passes at
    a sane factor on the (well-spread) test corpus."""
    from data_pipeline_childcare_spark.operators.similarity import (
        auto_n_cells,
        embedding_cosine_dedup_ivf,
    )
    import data_pipeline_childcare_spark as eng
    from pyspark.sql import functions as F

    emb = eng.load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    k = auto_n_cells(emb.count())
    got = sorted(
        r.vec_id
        for r in embedding_cosine_dedup_ivf(
            emb, threshold=0.4, n_cells="auto", occupancy_guard_factor=16.0
        ).collect()
    )
    want = sorted(
        r.vec_id
        for r in embedding_cosine_dedup_ivf(emb, threshold=0.4, n_cells=k).collect()
    )
    assert got == want and len(got) > 0


# --- both sides of the ANN family's literal/distributed gate ----------
# Every gated operator runs twice: at the default cap (literal side)
# and with the cap at 0 (distributed side). Both runs must return the
# same rows, edges included: the corpus carries NaN, +Inf and
# NULL-component rows and the queries one NaN query.

_GATE_RUNS = {
    # name: (run(corpus, queries), Window count of the literal plan —
    # the final ranking, plus the approximate ranking ahead of an exact
    # re-rank; None where the output is a driver-built model, whose
    # gates fire during training)
    "kmeans_lite": (lambda c, q: sim.kmeans_lite(c, k=4, iterations=2), None),
    "_assign_cells": (
        lambda c, q: sim._assign_cells(
            c, sim.kmeans_lite(c, k=4, iterations=2), "vec_id", "embedding"
        ),
        0,
    ),
    "ivf_cosine_topk": (
        lambda c, q: sim.ivf_cosine_topk(c, q, k=3, n_cells=4, n_probe=2),
        1,
    ),
    "embedding_cosine_dedup_ivf": (
        lambda c, q: sim.embedding_cosine_dedup_ivf(c, n_cells=4, n_assign=2),
        0,
    ),
    "semdedup": (lambda c, q: sim.semdedup(c, n_cells=4), 0),
    "pq_codebooks": (
        lambda c, q: sim.pq_codebooks(c, dim=64, n_sub=4, n_codes=4),
        None,
    ),
    "pq_encode": (
        lambda c, q: sim.pq_encode(
            c, sim.pq_codebooks(c, dim=64, n_sub=4, n_codes=4), dim=64, n_sub=4
        ),
        0,
    ),
    "pq_adc_topk": (
        lambda c, q: sim.pq_adc_topk(c, q, k=3, dim=64, n_sub=4, n_codes=4),
        1,
    ),
    "ivfpq_topk": (
        lambda c, q: sim.ivfpq_topk(
            c, q, k=3, n_cells=4, n_probe=2, dim=64, n_sub=4, n_codes=4
        ),
        1,
    ),
    "pq_adc_topk_rerank": (
        lambda c, q: sim.pq_adc_topk(
            c, q, k=3, dim=64, n_sub=4, n_codes=4, rerank_shortlist=10
        ),
        2,
    ),
    "ivfpq_topk_rerank": (
        lambda c, q: sim.ivfpq_topk(
            c, q, k=3, n_cells=4, n_probe=2, dim=64, n_sub=4, n_codes=4,
            rerank_shortlist=10,
        ),
        2,
    ),
}


def _n_windows(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(re.findall(r"(?m)^[\s:+\-]*Window \[", plan))


@pytest.mark.parametrize("name", sorted(_GATE_RUNS))
def test_ann_gate_both_sides_same_rows(spark, monkeypatch, name):
    run, lit_windows = _GATE_RUNS[name]
    tail = [0.125] * 63
    corpus = _emb(spark).select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [
                (100001, [float("nan")] + tail),
                (100002, [float("inf")] + tail),
                (100003, [None] + tail),
            ],
            "vec_id long, embedding array<double>",
        )
    )
    queries = _queries(corpus, 3).unionByName(
        spark.createDataFrame(
            [(-1, [float("nan")] + tail)], "query_id long, query_vec array<double>"
        )
    )
    fired = []
    gate = sim._literal_side

    def spy(rows):
        fired.append(gate(rows))
        return fired[-1]

    monkeypatch.setattr(sim, "_literal_side", spy)

    def side():
        # a fresh corpus handle: a model held on the previous side's
        # handle would skip training, and with it the gates
        fired.clear()
        out = run(corpus.select("*"), queries)
        return out, list(fired)

    literal, lit_fired = side()
    monkeypatch.setattr(sim, "_LIT_ASSIGN_MAX_DOUBLES", 0)
    dist, dist_fired = side()
    assert lit_fired and set(lit_fired) == {True}, lit_fired
    assert dist_fired and set(dist_fired) == {False}, dist_fired
    if lit_windows is not None:
        # the distributed side adds its assignment/probe windows
        assert _n_windows(literal) == lit_windows
        assert _n_windows(dist) > lit_windows
    assert literal.count() > 0
    # exceptAll both ways, in one job (shared subtrees reuse exchanges)
    assert literal.exceptAll(dist).unionByName(dist.exceptAll(literal)).count() == 0


def test_ann_tails_written_once():
    """The ANN top-k operators share one per-query ranking window
    (``_rank_topk``) and the k-means / PQ / k-center trainers one md5
    seed-order expression (``_md5_seed_order``): a second copy in
    ``similarity.py`` is a tail that can drift from the others."""
    src = pathlib.Path(sim.__file__).read_text()
    assert src.count("Window.partitionBy(query_id_col)") == 1
    assert src.count("conv(substring(md5(") == 1
