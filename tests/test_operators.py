"""Operator semantics against literal DataFrames with hand-computed
expectations (SURVEY.md §5 test strategy)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.operators import (
    asof_join,
    cosine_topk_bruteforce,
    dedup_exact,
    dedup_fingerprint,
    ngram_jaccard_pairs,
    parent_child_chunk,
    rrf_fuse,
    sessionize,
    top_k_with_global_dedup,
)
from data_pipeline_childcare_spark.operators.cleaning import (
    clean_documents,
    remove_repeated_lines,
    explode_lines,
)
from data_pipeline_childcare_spark.operators.rrf import rank_lists


def test_rrf_matches_reference_formula(spark):
    # two lists, k=60: item 10 ranks 1 & 2 → 1/61 + 1/62
    ranked = spark.createDataFrame(
        [("l1", 10, 1), ("l1", 20, 2), ("l2", 10, 2), ("l2", 30, 1)],
        "list_id string, item_id long, rank long",
    )
    rows = rrf_fuse(ranked).collect()
    scores = {r["item_id"]: r["rrf_score"] for r in rows}
    assert scores[10] == pytest.approx(1 / 61 + 1 / 62)
    assert scores[20] == pytest.approx(1 / 62)
    assert scores[30] == pytest.approx(1 / 61)
    assert rows[0]["item_id"] == 10  # sorted by fused score desc


def test_rank_lists_is_one_based_and_deterministic(spark):
    df = spark.createDataFrame(
        [("l1", 1, 5.0), ("l1", 2, 5.0), ("l1", 3, 7.0)],
        "list_id string, item_id long, score double",
    )
    rows = {r["item_id"]: r["rank"] for r in rank_lists(df, "list_id", "score", "item_id").collect()}
    assert rows == {3: 1, 1: 2, 2: 3}  # tie broken by item_id


def test_topk_global_dedup_first_task_wins(spark):
    # item 1 contested by tasks a & b → goes to a (priority order);
    # task b keeps its k from remaining items.
    cand = spark.createDataFrame(
        [("a", 1, 9.0), ("a", 2, 8.0), ("b", 1, 99.0), ("b", 3, 1.0)],
        "task_id string, item_id long, score double",
    )
    rows = {(r["task_id"], r["item_id"]) for r in
            top_k_with_global_dedup(cand, k=2).collect()}
    assert rows == {("a", 1), ("a", 2), ("b", 3)}


def test_topk_global_dedup_null_and_nan_scores_match_window_order(spark):
    # Claim ordering is desc(score): NULLS LAST (a null-score candidate
    # loses a contested item) and NaN FIRST (Spark sorts NaN above every
    # number, so a NaN-score candidate wins). Pins the argmin key
    # against the original row_number window semantics.
    # prio orders before score, so contest items WITHIN one task to
    # isolate the score ordering.
    cand = spark.createDataFrame(
        [("a", 1, None), ("a", 1, 1.0),
         ("a", 2, float("nan")), ("a", 2, 99.0)],
        "task_id string, item_id long, score double",
    )
    got = {(r["item_id"], r["score"]) for r in
           top_k_with_global_dedup(cand, k=10).collect()}
    import math
    assert (1, 1.0) in got                      # null lost (NULLS LAST)
    assert any(i == 2 and isinstance(s, float) and math.isnan(s)
               for i, s in got)                 # NaN won (NaN-first under desc)
    assert (2, 99.0) not in got


def test_topk_global_dedup_map_payload_falls_back_to_window(spark):
    # Map-typed payload columns are not orderable in a struct min;
    # the operator must still work (window fallback path).
    cand = spark.createDataFrame(
        [("a", 1, 9.0, {"k": "v"}), ("b", 1, 99.0, {"k": "w"}), ("b", 3, 1.0, {})],
        "task_id string, item_id long, score double, meta map<string,string>",
    )
    rows = {(r["task_id"], r["item_id"]) for r in
            top_k_with_global_dedup(cand, k=2).collect()}
    assert rows == {("a", 1), ("b", 3)}


def test_topk_sequential_dedup_later_tasks_see_remainder(spark):
    from data_pipeline_childcare_spark.operators import top_k_sequential_dedup

    # both tasks see the same 3-item inventory; t1 takes top-2, t2
    # must still get the remaining item (claim-first would starve it)
    cand = spark.createDataFrame(
        [(t, i, s) for t in ("t1", "t2") for i, s in [(1, 3.0), (2, 2.0), (3, 1.0)]],
        "task_id string, item_id long, score double",
    )
    rows = {(r["task_id"], r["item_id"]) for r in
            top_k_sequential_dedup(cand, ["t1", "t2"], k=2).collect()}
    assert rows == {("t1", 1), ("t1", 2), ("t2", 3)}


def test_dedup_exact_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(5, "same"), (2, "same"), (9, "other")], "doc_id long, text string"
    )
    assert {r["doc_id"] for r in dedup_exact(df).collect()} == {2, 9}
    assert {r["doc_id"] for r in dedup_fingerprint(df).collect()} == {2, 9}


def test_ngram_jaccard_exact_value(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c, b c e} → J = 1/3
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    rows = ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    assert len(rows) == 1
    assert rows[0]["jaccard"] == pytest.approx(1 / 3, abs=1e-6)


def test_ngram_jaccard_max_df_caps_hot_shingle(spark):
    """A boilerplate shingle planted in every document would pair
    everything with everything; max_df drops it from the inverted
    index BEFORE the self-join, the remaining jaccard is a lower
    bound of the exact value, and genuinely-similar pairs survive."""
    boiler = "terms of service apply"
    docs = [(i, f"unique{i} token{i} filler{i} {boiler}") for i in range(1, 21)]
    # one genuinely near-duplicate pair sharing real (cold) shingles
    docs += [(100, "the quick brown fox jumps high " + boiler),
             (101, "the quick brown fox jumps low " + boiler)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    exact = ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    capped = ngram_jaccard_pairs(df, n=3, threshold=0.0, max_df=5).collect()

    # uncapped: the hot boilerplate shingles pair all 22 docs → 231 pairs
    assert len(exact) == 231
    # capped: only the real near-dup pair shares any cold shingle
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(100, 101)}
    # lower-bound contract: capped jaccard ≤ exact jaccard for the pair
    exact_j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact}
    assert capped[0]["jaccard"] <= exact_j[(100, 101)] + 1e-9
    # default (max_df=None) path is untouched: sanity via the 1/3 case
    df2 = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    assert ngram_jaccard_pairs(df2, n=3, threshold=0.0).collect()[0][
        "jaccard"
    ] == pytest.approx(1 / 3, abs=1e-6)


def test_dedup_paragraphs_first_occurrence_wins(spark):
    """C4-style corpus paragraph dedup: a license block shared by
    three docs survives only in the smallest (doc_id, pos); documents
    rebuild from surviving paragraphs in original order; whitespace
    variants of the same paragraph share a fingerprint."""
    from data_pipeline_childcare_spark.operators.dedup import dedup_paragraphs

    boiler = "All rights reserved."
    docs = spark.createDataFrame(
        [
            (1, f"unique one\n\n{boiler}\n\ntail one"),
            (2, f"{boiler}\n\nunique two"),
            (3, f"unique three\n\n  all   RIGHTS  reserved. "),  # ws variant
            (4, None),  # NULL text → empty rebuild, zero counts
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
    assert got[1]["text"] == f"unique one\n\n{boiler}\n\ntail one"
    assert got[1]["n_paragraphs"] == 3 and got[1]["n_kept"] == 3
    # doc 2's copy dropped (doc 1 owns the fingerprint), order kept
    assert got[2]["text"] == "unique two"
    assert got[2]["n_paragraphs"] == 2 and got[2]["n_kept"] == 1
    # whitespace/case variant also dropped
    assert got[3]["text"] == "unique three"
    assert got[3]["n_kept"] == 1
    assert got[4]["text"] == "" and got[4]["n_paragraphs"] == 0


def test_remove_duplicate_spans_first_occurrence_survives(spark):
    """ExactSubstr enforcement: a verbatim 10-token run shared by two
    docs is cut from the LATER doc only; unique text unaffected;
    within-doc repetition of a duplicated window also removed."""
    from data_pipeline_childcare_spark.operators.dedup import remove_duplicate_spans

    run = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [
            (1, f"intro {run} outro"),
            (2, f"prefix {run} suffix"),
            (3, "totally unrelated short text"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_duplicate_spans(docs, k=8).collect()}
    # doc 1 owns the first occurrence — untouched
    assert got[1]["text"] == f"intro {run} outro" and got[1]["n_removed"] == 0
    # doc 2 loses the whole shared run (all 8-gram windows in it are
    # duplicated, and their union covers w1..w10)
    assert got[2]["text"] == "prefix suffix"
    assert got[2]["n_removed"] == 10
    # under-k doc untouched (no 8-gram windows at all)
    assert got[3]["n_removed"] == 0 and got[3]["text"] == got[3]["text"]


def test_cap_pairs_per_doc_bounds_cluster_blowup(spark):
    """A verbatim c-copy cluster emits C(c,2) pairs; the per-doc cap
    keeps only each endpoint's strongest `cap` neighbors per side, so
    per-doc degree (and thus downstream pair volume) stays bounded
    regardless of cluster size. Strongest-first: the highest-scored
    pairs must be the survivors; determinism: ties break on the other
    endpoint's id."""
    from pyspark.sql import functions as F

    from data_pipeline_childcare_spark.operators.dedup import cap_pairs_per_doc

    # a 12-doc clique: 66 pairs, score favors low id_b then low id_a
    pairs = spark.createDataFrame(
        [
            (a, b, round(1.0 - 0.01 * (a + b), 6))
            for a in range(12)
            for b in range(a + 1, 12)
        ],
        "id_a long, id_b long, score double",
    )
    capped = cap_pairs_per_doc(pairs, cap=2, order_by=[F.desc("score")])
    rows = capped.collect()
    # every doc appears at most cap times per side
    from collections import Counter

    ca = Counter(r["id_a"] for r in rows)
    cb = Counter(r["id_b"] for r in rows)
    assert max(ca.values()) <= 2 and max(cb.values()) <= 2
    # the globally strongest pair always survives (rank 1 on both sides)
    assert any((r["id_a"], r["id_b"]) == (0, 1) for r in rows)
    # deterministic: re-run yields the identical set
    again = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert again == {(r["id_a"], r["id_b"]) for r in rows}
    # a cap larger than any degree is the identity
    all_pairs = cap_pairs_per_doc(pairs, cap=100, order_by=[F.desc("score")])
    assert all_pairs.count() == 66


def test_cosine_topk(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame([(1, [1.0, 0.0])], "query_id long, query_vec array<double>")
    rows = cosine_topk_bruteforce(emb, q, k=2).collect()
    assert [r["vec_id"] for r in rows] == [3, 2]
    assert rows[0]["cosine_sim"] == pytest.approx(0.707107, abs=1e-5)


def test_chunking_caps_and_order(spark):
    text = ("x" * 1500) + "\n\n" + ("Sentence one. " * 10).strip()
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = parent_child_chunk(df, parent_max=1024, child_max=50).collect()
    assert all(len(r["parent_text"]) <= 1024 for r in rows)
    assert all(len(r["child_text"]) <= 50 for r in rows)
    # the 1500-char paragraph hard-wraps into 1024 + 476 parents
    parents = {(r["parent_id"], len(r["parent_text"])) for r in rows}
    assert (0, 1024) in parents and (1, 476) in parents


def test_repeated_line_removal(spark):
    body = "\n".join(["HEADER"] + [f"line {i}" for i in range(30)] + ["HEADER", "HEADER"])
    df = spark.createDataFrame([(1, body)], "doc_id long, text string")
    lines = explode_lines(df, "doc_id", "text")
    out = [r["line"] for r in remove_repeated_lines(lines).collect()]
    assert "HEADER" not in out and "line 0" in out


def test_clean_documents_removes_noise(spark):
    df = spark.createDataFrame(
        [(1, "第 1 页\n正文第一行\n分享到微信\n正文第二行")],
        "doc_id long, text string",
    )
    out = clean_documents(df).first()["text"]
    assert out == "正文第一行\n正文第二行"


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10), 100), (1, dt.datetime(2024, 1, 1, 12), 101),
         (2, dt.datetime(2024, 1, 1, 10), 200)],
        "k long, lts timestamp, lid long",
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 9), 1.0), (1, dt.datetime(2024, 1, 1, 11), 2.0)],
        "k long, rts timestamp, payload double",
    )
    rows = {r["lid"]: r["payload_asof"] for r in
            asof_join(left, right, "k", "lts", "rts", ["payload"]).collect()}
    assert rows == {100: 1.0, 101: 2.0, 200: None}


def test_asof_join_simultaneous_right_visible(spark):
    left = spark.createDataFrame([(1, dt.datetime(2024, 1, 1, 10), 1)], "k long, lts timestamp, lid long")
    right = spark.createDataFrame([(1, dt.datetime(2024, 1, 1, 10), 7.0)], "k long, rts timestamp, payload double")
    r = asof_join(left, right, "k", "lts", "rts", ["payload"]).first()
    assert r["payload_asof"] == 7.0  # `<=` semantics


def test_sessionize_gap(spark):
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    ev = spark.createDataFrame(
        [(1, t0, 1), (1, t0 + dt.timedelta(minutes=10), 2),
         (1, t0 + dt.timedelta(minutes=50), 3), (2, t0, 4)],
        "user_id long, ts timestamp, event_id long",
    )
    rows = {r["event_id"]: r["session_id"] for r in sessionize(ev).collect()}
    assert rows == {1: 1, 2: 1, 3: 2, 4: 1}


def test_connected_components_chain_merge(spark):
    from data_pipeline_childcare_spark.operators.components import (
        connected_components,
        dedup_by_components,
    )

    # chain 1-2-3 plus island 7-8: components {1,2,3}→1, {7,8}→7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    comps = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}

    docs = spark.createDataFrame([(i, f"d{i}") for i in [1, 2, 3, 5, 7, 8]], "doc_id long, text string")
    kept = {r["doc_id"] for r in dedup_by_components(docs, pairs).collect()}
    # one representative per component + untouched singleton 5
    assert kept == {1, 5, 7}


def test_connected_components_long_chain_converges(spark):
    from data_pipeline_childcare_spark.operators.components import connected_components

    # a 6-node path needs several propagation rounds
    pairs = spark.createDataFrame([(i, i + 1) for i in range(6)], "id_a long, id_b long")
    comps = {r["id"]: r["component"] for r in connected_components(pairs, max_iter=10).collect()}
    assert set(comps.values()) == {0}


def test_hash_split_deterministic_and_exhaustive(spark):
    from data_pipeline_childcare_spark.operators.split import hash_sample, hash_split

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(df).collect()}
    # identical assignment regardless of physical partitioning
    b = {r["doc_id"]: r["split"] for r in hash_split(df.repartition(7)).collect()}
    assert a == b
    assert set(a.values()) == {"train", "val", "test"}
    n = len(a)
    train_frac = sum(1 for v in a.values() if v == "train") / n
    assert 0.85 < train_frac < 0.95  # ~0.9 with binomial noise
    # a different salt draws an independent split
    c = {r["doc_id"]: r["split"] for r in hash_split(df, salt="other").collect()}
    assert a != c

    s = hash_sample(df, 0.3)
    ids = {r["doc_id"] for r in s.collect()}
    assert 0.24 < len(ids) / n < 0.36
    # sampling is monotone in the fraction: 0.1-sample ⊆ 0.3-sample
    ids_small = {r["doc_id"] for r in hash_sample(df, 0.1).collect()}
    assert ids_small <= ids


def test_kfold_assign_deterministic_balanced_grouped(spark):
    import pytest as _pytest

    from data_pipeline_childcare_spark.operators.split import kfold_assign

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["fold"] for r in kfold_assign(df, k=5).collect()}
    # identical assignment regardless of physical partitioning
    b = {r["doc_id"]: r["fold"] for r in kfold_assign(df.repartition(7), k=5).collect()}
    assert a == b
    assert set(a.values()) == {0, 1, 2, 3, 4}
    # ~equal fold sizes for uniform keys (binomial noise at n=2000)
    for f in range(5):
        assert 0.14 < sum(1 for v in a.values() if v == f) / len(a) < 0.26
    # a different salt draws an independent fold split
    c = {r["doc_id"]: r["fold"] for r in kfold_assign(df, k=5, salt="other").collect()}
    assert a != c
    # grouped mode: every member of a group lands in ONE fold
    from pyspark.sql import functions as F

    grouped = df.withColumn("grp", (F.col("doc_id") % 37).cast("string"))
    per_group = (
        kfold_assign(grouped, k=5, group_col="grp")
        .groupBy("grp")
        .agg(F.countDistinct("fold").alias("nf"))
        .collect()
    )
    assert all(r["nf"] == 1 for r in per_group)
    # grouped assignment matches keying the hash by the group value
    g1 = {r["doc_id"]: r["fold"] for r in kfold_assign(grouped, k=5, group_col="grp").collect()}
    direct = {
        r["grp"]: r["fold"]
        for r in kfold_assign(
            grouped.select(F.col("grp").alias("doc_id")).distinct(), k=5
        )
        .withColumnRenamed("doc_id", "grp")
        .collect()
    }
    assert all(g1[i] == direct[str(i % 37)] for i in g1)
    with _pytest.raises(ValueError):
        kfold_assign(df, k=1)


def test_winnowing_shared_substring_guarantee(spark):
    from data_pipeline_childcare_spark.operators.dedup import winnowing_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "AAAA " + shared + " BBBB"),
        (2, "xyzzy prefix " + shared + " different tail here"),
        (3, "completely unrelated content with no overlap at all ok"),
        (4, "tiny"),  # shorter than k ⇒ contributes no fingerprints
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, k=8, window=4)
    by_doc = {
        i: {r["fingerprint"] for r in fps.filter(F.col("doc_id") == i).collect()}
        for i in (1, 2, 3, 4)
    }
    # winnowing guarantee: shared substring of len ≥ k+window-1 ⇒ common fp
    assert by_doc[1] & by_doc[2]
    assert not by_doc[3] & (by_doc[1] | by_doc[2])
    assert by_doc[4] == set()


def test_repetition_stats_hand_computed(spark):
    from data_pipeline_childcare_spark.operators.cleaning import repetition_stats

    rows = [
        # 4 line instances, "dup" twice (3 chars each); bigrams of
        # "a b a b a": [a b, b a, a b, b a] → top 2/4
        (1, "dup\nuniq one\ndup\nother line"),
        (2, "a b a b a"),
        (3, ""),  # degenerate: no lines, empty bigram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["n_lines"] == 4
    assert got[1]["dup_line_frac"] == 0.25  # 1 - 3 distinct / 4 instances
    # dup chars = 2 lines × 3 chars = 6 of 3+8+3+10 = 24
    assert got[1]["dup_line_char_frac"] == 0.25
    assert got[2]["n_lines"] == 1
    assert got[2]["top_bigram_frac"] == 0.5
    assert got[3]["n_lines"] == 0
    assert got[3]["dup_line_frac"] == 0.0
    assert got[3]["dup_line_char_frac"] == 0.0


def test_tfidf_top_terms_ranks_distinctive_words(spark):
    from data_pipeline_childcare_spark.operators.tfidf import tfidf_top_terms

    rows = [
        (1, "common zebra zebra"),
        (2, "common yak yak yak"),
        (3, "common plain words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(df, k=2)
    top = {
        r["doc_id"]: r["tok"] for r in out.filter(F.col("rank") == 1).collect()
    }
    # the word unique to each doc outranks the corpus-wide one
    assert top[1] == "zebra"
    assert top[2] == "yak"
    assert out.filter(F.col("rank") > 2).count() == 0
    # ranks are dense and deterministic per doc
    assert out.count() == out.select("doc_id", "rank").distinct().count()


def test_stratified_hash_sample(spark):
    from data_pipeline_childcare_spark.operators.split import stratified_hash_sample

    df = (
        spark.range(3000)
        .withColumnRenamed("id", "event_id")
        .withColumn(
            "event_type",
            F.when(F.col("event_id") % 3 == 0, "click")
            .when(F.col("event_id") % 3 == 1, "purchase")
            .otherwise("view"),
        )
    )
    out = stratified_hash_sample(df, {"click": 0.2, "purchase": 0.8})
    counts = {r["event_type"]: r["count"] for r in out.groupBy("event_type").count().collect()}
    assert "view" not in counts  # unlisted strata dropped
    assert 0.12 < counts["click"] / 1000 < 0.28
    assert 0.72 < counts["purchase"] / 1000 < 0.88
    # deterministic under repartitioning
    again = {r["event_id"] for r in stratified_hash_sample(df.repartition(11), {"click": 0.2, "purchase": 0.8}).collect()}
    assert again == {r["event_id"] for r in out.collect()}


def test_weighted_sample_biased_and_deterministic(spark):
    from data_pipeline_childcare_spark.operators.split import weighted_sample

    # 500 heavy rows (w=50) vs 500 light rows (w=1): a 100-row sample
    # should be overwhelmingly heavy
    df = spark.range(1000).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") < 500, 50.0).otherwise(1.0).alias("value"),
    )
    out = weighted_sample(df, n=100).collect()
    assert len(out) == 100
    assert [r["rank"] for r in out[:3]] == [1, 2, 3] if out else True
    heavy = sum(1 for r in out if r["event_id"] < 500)
    assert heavy > 85
    # deterministic under repartitioning
    again = [r["event_id"] for r in weighted_sample(df.repartition(13), n=100).collect()]
    assert again == [r["event_id"] for r in out]
    # non-positive weights are excluded
    z = df.withColumn("value", F.lit(0.0))
    assert weighted_sample(z, n=10).count() == 0


def test_profile_columns(spark):
    from data_pipeline_childcare_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "x long, s string",
    )
    got = {r["column_name"]: r for r in profile_columns(df).collect()}
    assert got["x"]["n_rows"] == 4
    assert got["x"]["n_nulls"] == 1
    assert got["x"]["n_distinct"] == 3
    assert got["s"]["n_nulls"] == 1
    assert got["s"]["n_distinct"] == 2
    # HLL path returns the same shape
    approx = {r["column_name"]: r for r in profile_columns(df, exact=False).collect()}
    assert set(approx) == {"x", "s"}


def test_inclusion_dependencies(spark):
    from data_pipeline_childcare_spark.operators.profile import (
        inclusion_dependencies,
    )

    child = spark.createDataFrame(
        [(1,), (2,), (2,), (3,), (None,)], "k long"
    )
    parent_full = spark.createDataFrame([(1,), (2,), (3,), (4,)], "p long")
    parent_part = spark.createDataFrame([(1,), (2,), (2,)], "p long")
    empty_child = spark.createDataFrame([(None,)], "k long")
    got = {
        r.pair_label: r
        for r in inclusion_dependencies(
            [
                ("full", child, "k", parent_full, "p"),
                ("partial", child, "k", parent_part, "p"),
                ("vacuous", empty_child, "k", parent_full, "p"),
            ]
        ).collect()
    }
    # NULL child values never violate an IND; duplicates collapse
    full = got["full"]
    assert (full.n_child_distinct, full.n_contained) == (3, 3)
    assert full.containment_ppm == 1_000_000 and full.parent_unique
    # 2 of 3 contained; duplicated parent key kills uniqueness
    part = got["partial"]
    assert (part.n_child_distinct, part.n_contained) == (3, 2)
    assert part.containment_ppm == 666_666 and not part.parent_unique
    # all-NULL child: vacuously contained, zero distinct
    vac = got["vacuous"]
    assert (vac.n_child_distinct, vac.containment_ppm) == (0, 1_000_000)


def test_minhash_portable_matches_hashlib(spark):
    """The md5-derived hash family must equal Python's hashlib bit for
    bit — this is what makes the DuckDB oracle exact."""
    import hashlib

    from data_pipeline_childcare_spark.operators.dedup import minhash_est_pairs_portable

    # two identical single-shingle docs and one unrelated doc
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "x " * 40)],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in minhash_est_pairs_portable(df).collect()}
    assert pairs == {(1, 2): 1.0}

    # spot-check signature component 7 against a pure-Python rebuild
    # of the Carter-Wegman family over the md5 base hash
    from data_pipeline_childcare_spark.functions.text import word_ngrams
    from data_pipeline_childcare_spark.operators.dedup import (
        PORTABLE_P,
        cw_constants,
        portable_base_hash_sql,
    )
    from pyspark.sql import functions as F

    a7, b7 = cw_constants(64)[7]
    got = (
        df.filter(F.col("doc_id") == 1)
        .select(F.explode(word_ngrams(F.col("text"), 3)).alias("_s"))
        .select(F.expr(f"({a7} * ({portable_base_hash_sql('_s')}) + {b7}) % {PORTABLE_P}").alias("h"))
        .first()["h"]
    )
    base = int(hashlib.md5(b"alpha beta gamma").hexdigest()[:15], 16) % PORTABLE_P
    assert got == (a7 * base + b7) % PORTABLE_P


def test_simhash_portable_identical_docs_zero_hamming(spark):
    from data_pipeline_childcare_spark.operators.dedup import simhash_pairs_portable

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta " * 5), (2, "alpha beta gamma delta " * 5), (3, "unrelated words entirely " * 5)],
        "doc_id long, text string",
    )
    rows = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs_portable(df).collect()}
    assert rows.get((1, 2)) == 0
    assert all(k == (1, 2) for k in rows)


def test_robots_filter_rep_semantics(spark):
    """REP matcher: longest pattern wins, allow beats disallow on tie,
    wildcard + $ anchor, whole-site disallow, agent-group selection
    (specific group suppresses '*'), rule-less hosts allowed."""
    from data_pipeline_childcare_spark.operators.robots import (
        parse_robots_txt,
        robots_filter,
        robots_pattern_regex,
        rules_to_df,
    )

    body = (
        "# crawl policy\nUser-agent: *\nDisallow: /private/\n"
        "Allow: /private/press/\nDisallow: /*.pdf$\n\n"
        "User-agent: gptbot\nDisallow: /\nAllow: /public/\n"
    )
    rules = parse_robots_txt("example.com", body)
    assert ("example.com", "*", "allow", "/private/press/") in rules
    assert robots_pattern_regex("/*.pdf$") == r"^/.*\.pdf$"
    assert robots_pattern_regex("/a+b(c)") == r"^/a\+b\(c\)"

    urls = spark.createDataFrame(
        [
            ("example.com", "/ok.html"),
            ("example.com", "/private/x"),
            ("example.com", "/private/press/y"),
            ("example.com", "/docs/file.pdf"),
            ("other.com", "/anything"),
        ],
        "host string, path string",
    )
    rdf = rules_to_df(spark, rules)
    star = {r["path"]: (r["allowed"], r["matched_pattern"])
            for r in robots_filter(urls, rdf).collect()}
    assert star["/ok.html"] == (True, None)
    assert star["/private/x"] == (False, "/private/")
    assert star["/private/press/y"] == (True, "/private/press/")  # longer allow wins
    assert star["/docs/file.pdf"] == (False, "/*.pdf$")
    assert star["/anything"] == (True, None)  # no rules for host
    bot = {r["path"]: r["allowed"] for r in robots_filter(urls, rdf, agent="gptbot").collect()}
    # specific group replaces '*': everything under / disallowed
    assert bot == {"/ok.html": False, "/private/x": False,
                   "/private/press/y": False, "/docs/file.pdf": False,
                   "/anything": True}


def test_robots_stray_rules_and_column_collisions(spark):
    from data_pipeline_childcare_spark.operators.robots import (
        parse_robots_txt,
        robots_filter,
        rules_to_df,
    )

    # rules before any User-agent group are ignored (RFC 9309)
    stray = parse_robots_txt("h.com", "Disallow: /x\nUser-agent: a\nDisallow: /y\n")
    assert stray == [("h.com", "a", "disallow", "/y")]

    # a frontier frame carrying its own directive/pattern columns must
    # not collide with the rule side
    urls = spark.createDataFrame(
        [("h.com", "/y/1", "keep-me", "frontier-pat")],
        "host string, path string, directive string, pattern string",
    )
    out = robots_filter(urls, rules_to_df(spark, stray), agent="a").collect()[0]
    assert out["allowed"] is False and out["matched_pattern"] == "/y"
    assert out["directive"] == "keep-me" and out["pattern"] == "frontier-pat"


def test_minhash_dedup_incremental_history_wins(spark):
    """Incremental keep rule: a batch doc duplicating the corpus is
    dropped regardless of id order (history wins even when the corpus
    copy has the LARGER id); within the batch the earlier id wins;
    unique batch docs survive; corpus rows are never returned."""
    from data_pipeline_childcare_spark.operators.dedup import (
        minhash_dedup_incremental,
    )

    t_a = "the quick brown fox jumps over the lazy dog near the river bank"
    t_b = "completely different content about distributed query engines and shuffles"
    corpus = spark.createDataFrame([(10, t_a)], "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (2, t_a),   # dup of corpus doc 10 — 2 < 10, still dropped
            (20, t_b),  # unique -> kept
            (21, t_b),  # dup of batch doc 20 -> dropped (20 < 21)
            (22, t_a),  # dup of corpus -> dropped
        ],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in minhash_dedup_incremental(new, corpus).collect()}
    assert kept == {20}
    # empty batch and disjoint batch edge cases
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_dedup_incremental(empty, corpus).count() == 0
    disjoint = spark.createDataFrame([(30, t_b)], "doc_id long, text string")
    assert {
        r["doc_id"] for r in minhash_dedup_incremental(disjoint, corpus).collect()
    } == {30}


def test_expectations_detect_crafted_violations(spark):
    from pyspark.sql import functions as F

    from data_pipeline_childcare_spark.operators.expectations import (
        expect_in_range,
        expect_not_null,
        expect_ref_integrity,
        expect_unique,
        expectations_audit,
    )

    child = spark.createDataFrame(
        [(1, 10), (1, 10), (2, None), (3, 99)], "id: long, fk: long"
    )
    parent = spark.createDataFrame([(10,), (11,)], "pk: long")
    audit = {
        (r["check"], r["table"], r["column"]): (r["n_violations"], r["passed"])
        for r in expectations_audit(
            expect_unique(child, "child", "id"),
            expect_not_null(child, "child", "fk"),
            expect_ref_integrity(child, "child", "fk", parent, "pk"),
            expect_in_range(child, "child", "id", 1, 2),
        ).collect()
    }
    assert audit[("unique", "child", "id")] == (1, False)      # one dup row
    assert audit[("not_null", "child", "fk")] == (1, False)    # the None fk
    # null FK is NOT an orphan; 99 is
    assert audit[("ref_integrity", "child", "fk")] == (1, False)
    assert audit[("in_range", "child", "id")] == (1, False)    # id=3


def test_snapshot_diff_classifies_and_drops_unchanged(spark):
    from data_pipeline_childcare_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, None, 4.0)],
        "k: long, s: string, v: double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0),      # unchanged → dropped
         (2, "B", 2.0),      # update (value)
         (4, None, 9.0),     # update with a NULL field (null-safe compare)
         (5, "e", 5.0)],     # insert; k=3 deleted
        "k: long, s: string, v: double",
    )
    got = {
        r.k: (r.change_type, r.old_s, r.new_s)
        for r in snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    assert got == {
        2: ("update", "b", "B"),
        3: ("delete", "c", None),
        4: ("update", None, None),
        5: ("insert", None, "e"),
    }


def test_prefix_jaccard_lossless_and_smaller_index(spark):
    """Prefix filtering returns EXACTLY the exhaustive pairs at the
    same threshold (completeness), while indexing strictly fewer
    postings — on boilerplate-heavy docs the common shingles are
    high-df and fall PAST the rare-first prefix."""
    from pyspark.sql import functions as F

    from data_pipeline_childcare_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = []
    for i in range(24):
        base = [words[(i + j) % 8] for j in range(6)]
        if i % 3 == 0:
            base = base[:5] + ["common", "suffix", "tail"]  # shared boilerplate
        rows.append((i, " ".join(base * 2)))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    for t in (0.3, 0.6, 0.8):
        exact = sorted(
            map(tuple, ngram_jaccard_pairs(docs, n=3, threshold=t).collect())
        )
        pref = sorted(
            map(tuple, ngram_jaccard_pairs_prefix(docs, n=3, threshold=t).collect())
        )
        assert pref == exact, f"threshold {t}"


def test_prefix_jaccard_capped_matches_exhaustive_capped(spark):
    """Under the max_df hot-shingle guard the prefix-filtered variant
    must still return EXACTLY the exhaustive capped pairs: prefixes
    come from the capped sets (capped-size prefix lengths), the
    intersection counts drop hot shingles, denominators stay full —
    the lossless argument in the operator docstring, exercised on a
    corpus where the boilerplate trigrams actually exceed max_df."""
    from data_pipeline_childcare_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = []
    for i in range(24):
        base = [words[(i + j) % 8] for j in range(6)]
        # boilerplate on 2/3 of docs -> its trigrams have df ~ 16 > 4
        if i % 3 != 0:
            base = base[:5] + ["common", "suffix", "tail", "common", "suffix"]
        rows.append((i, " ".join(base * 2)))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    for t in (0.2, 0.5):
        exact = sorted(
            map(tuple, ngram_jaccard_pairs(docs, n=3, threshold=t, max_df=4).collect())
        )
        pref = sorted(
            map(
                tuple,
                ngram_jaccard_pairs_prefix(docs, n=3, threshold=t, max_df=4).collect(),
            )
        )
        assert pref == exact, f"threshold {t}"
        if t == 0.2:  # higher thresholds may legitimately empty out:
            # the capped jaccard is a lower bound on the true one
            assert exact, "guard corpus produced no pairs at t=0.2"


def test_minhash_dedup_cap_per_id_semantically_free(spark):
    """The one-sided keep-first-dominator cap must not change the
    kept-doc set for ANY cap >= 1 — the anti-join consumer only asks
    whether a doc has at least one dominating near-dup. Exercised on
    a verbatim-copy cluster (the duplicate-saturated shape the cap
    exists for) plus distinct singletons."""
    from data_pipeline_childcare_spark.operators.dedup import minhash_dedup_portable

    cluster = [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(8)]
    singles = [(100 + i, f"unique document number {i} with entirely distinct words {i*7}") for i in range(4)]
    docs = spark.createDataFrame(cluster + singles, "doc_id: long, text: string")
    uncapped = {r["doc_id"] for r in minhash_dedup_portable(docs, threshold=0.8).collect()}
    for cap in (1, 3):
        capped = {
            r["doc_id"]
            for r in minhash_dedup_portable(docs, threshold=0.8, cap_per_id=cap).collect()
        }
        assert capped == uncapped, f"cap {cap}"
    assert uncapped == {0, 100, 101, 102, 103}  # cluster keeps only doc 0


def test_pair_cap_per_id_bounds_band_join_outputs(spark):
    """cap_per_id on the simhash/minhash pair emitters: a c-copy
    cluster emits C(c,2) pairs uncapped; with the cap every doc's
    per-side degree is <= cap and the survivors are a subset of the
    uncapped pairs with the strongest (nearest) neighbors kept."""
    from collections import Counter

    from data_pipeline_childcare_spark.operators.dedup import (
        minhash_est_pairs_portable,
        simhash_pairs_portable,
    )

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog once more") for i in range(10)],
        "doc_id: long, text: string",
    )
    for fn, kw in (
        (simhash_pairs_portable, {"max_hamming": 3}),
        (minhash_est_pairs_portable, {"threshold": 0.5}),
    ):
        full = {(r["id_a"], r["id_b"]) for r in fn(docs, **kw).collect()}
        assert len(full) == 45  # C(10,2): every band collides
        capped = {(r["id_a"], r["id_b"]) for r in fn(docs, cap_per_id=2, **kw).collect()}
        assert capped < full
        deg_a = Counter(p[0] for p in capped)
        deg_b = Counter(p[1] for p in capped)
        assert max(deg_a.values()) <= 2 and max(deg_b.values()) <= 2


# ------------------------------------------------------------- phrase search


def test_phrase_search_hand_case(spark):
    from data_pipeline_childcare_spark.operators.tfidf import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox the quick dog"),
            (2, "quick the brown"),
            (3, "THE  Quick\tstart"),
            (4, "nothing here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in phrase_search(docs, "the quick").collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["n_matches"] == 2 and rows[1]["first_pos"] == 1
    assert rows[3]["n_matches"] == 1  # case/whitespace normalized


def test_phrase_search_overlapping_and_single_term(spark):
    from data_pipeline_childcare_spark.operators.tfidf import phrase_search

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "b a b")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in phrase_search(docs, "a a").collect()}
    assert rows[1]["n_matches"] == 3  # overlapping occurrences all count
    single = {r["doc_id"]: r["n_matches"] for r in phrase_search(docs, "a").collect()}
    assert single == {1: 4, 2: 1}


def test_phrase_search_empty_phrase_raises(spark):
    import pytest

    from data_pipeline_childcare_spark.operators.tfidf import phrase_search

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        phrase_search(docs, "   ")


# ------------------------------------------------------- gopher repetition


def test_gopher_top_ngram_fraction(spark):
    from data_pipeline_childcare_spark.operators.cleaning import (
        gopher_repetition_signals,
    )

    docs = spark.createDataFrame(
        [
            # "ab cd" x3: top bigram "ab cd" count 3 (overlaps "cd ab" x2)
            (1, "ab cd ab cd ab cd"),
            (2, "one two three four five six"),  # all ngrams unique
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_repetition_signals(docs).collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 6 and r1["total_chars"] == 12
    # top bigram "ab cd": 3 occurrences x 4 chars = 12 of 12 chars
    assert r1["top2_char_frac_u"] == 1_000_000
    assert r1["gopher_flagged"] is True
    r2 = rows[2]
    # unique bigrams: top has count 1 -> mass = chars of one bigram;
    # on a 6-token doc that single bigram is ~41% of chars, which is
    # why Gopher gates the thresholds behind a minimum doc length
    assert r2["top2_char_frac_u"] == 9 * 1_000_000 // 22  # "three four"
    assert r2["dup5_char_frac_u"] == 0
    assert r2["gopher_flagged"] is True


def test_gopher_flag_min_tokens_guard(spark):
    from data_pipeline_childcare_spark.operators.cleaning import (
        gopher_repetition_signals,
    )

    docs = spark.createDataFrame(
        [(1, "one two three four five six")], "doc_id long, text string"
    )
    r = gopher_repetition_signals(docs, flag_min_tokens=10).collect()[0]
    assert r["top2_char_frac_u"] > 200_000  # over threshold...
    assert r["gopher_flagged"] is False  # ...but below the length gate


def test_gopher_short_doc_null_guard(spark):
    from data_pipeline_childcare_spark.operators.cleaning import (
        gopher_repetition_signals,
    )

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in gopher_repetition_signals(docs).collect()}
    assert rows[1]["top2_char_frac_u"] is not None
    assert rows[1]["top3_char_frac_u"] is None  # 2 tokens < 3
    assert rows[1]["dup5_char_frac_u"] is None
    assert rows[2]["top2_char_frac_u"] is None
    assert rows[2]["gopher_flagged"] is False


def test_gopher_dup_ngram_mass(spark):
    from data_pipeline_childcare_spark.operators.cleaning import (
        gopher_repetition_signals,
    )

    # "a b c d e" repeated 3x: every 5-gram window repeats
    text = " ".join(["a b c d e"] * 3)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = gopher_repetition_signals(docs).collect()[0]
    assert r["dup5_char_frac_u"] is not None and r["dup5_char_frac_u"] > 500_000
    assert r["gopher_flagged"] is True


# ---------------------------------------------------------------- containment


def test_containment_excerpt_detection(spark):
    from data_pipeline_childcare_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    snippet = "alpha beta gamma delta epsilon"
    page = snippet + " " + " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, snippet), (2, page), (3, "totally different words here")],
        "doc_id long, text string",
    )
    rows = {(r["id_a"], r["id_b"]): r for r in ngram_containment_pairs(docs, n=3).collect()}
    r = rows[(1, 2)]
    # all 3 trigram shingles of the snippet appear in the page
    assert r["containment_a_u"] == 1_000_000
    assert r["containment_b_u"] < 200_000  # Jaccard-style symmetry would miss it
    assert (1, 3) not in rows and (2, 3) not in rows


def test_event_transitions_hand_case(spark):
    from data_pipeline_childcare_spark.operators.funnel import event_transitions

    df = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:00:00", "a"),
            (2, 1, "2024-01-01 00:01:00", "b"),
            (3, 1, "2024-01-01 00:02:00", "a"),
            (4, 2, "2024-01-01 00:00:00", "a"),
            (5, 2, "2024-01-01 00:01:00", "b"),
        ],
        "event_id long, user_id long, ts string, event_type string",
    ).selectExpr("event_id", "user_id", "cast(ts as timestamp) as ts", "event_type")
    rows = {(r["from_type"], r["to_type"]): r for r in event_transitions(df).collect()}
    assert rows[("a", "b")]["n"] == 2
    assert rows[("b", "a")]["n"] == 1
    assert rows[("a", "b")]["row_total"] == 2  # from 'a': both transitions to b
    assert rows[("a", "b")]["p_u"] == 1_000_000
    assert rows[("b", "a")]["p_u"] == 1_000_000
    # no cross-user transition (user 2's 'b' has no successor)
    assert ("b", "b") not in rows


def test_fuzzy_matches_blocking_and_distance(spark):
    from data_pipeline_childcare_spark.operators.er import fuzzy_matches

    df = spark.createDataFrame(
        [
            (1, "red widget", "widget"),
            (2, "red widgit", "widgit"),   # typo but DIFFERENT block -> unseen
            (3, "rad widget", "widget"),   # 1 edit, same block
            (4, "blue bolt", "bolt"),
            (5, "red widget", "widget"),   # exact dup, distance 0
        ],
        "id long, name string, blk string",
    )
    rows = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in fuzzy_matches(df, "id", "name", "blk", max_distance=2).collect()
    }
    assert rows[(1, 3)] == 1
    assert rows[(1, 5)] == 0
    assert rows[(3, 5)] == 1
    assert (1, 2) not in rows  # blocking miss, documented recall tradeoff
    assert all(b != 4 and a != 4 for a, b in rows)


def test_fuzzy_matches_hot_block_cap(spark):
    from data_pipeline_childcare_spark.operators.er import fuzzy_matches

    rows = [(i, f"name{i}", "hot") for i in range(10)] + [
        (100, "abc", "cold"),
        (101, "abd", "cold"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk string")
    out = fuzzy_matches(df, "id", "name", "blk", max_distance=3, max_block=5).collect()
    # the 10-member hot block is dropped; only the cold pair survives
    assert {(r["id_a"], r["id_b"]) for r in out} == {(100, 101)}


def test_pairwise_cluster_metrics_hand_counts(spark):
    from data_pipeline_childcare_spark.operators.er import (
        pairwise_cluster_metrics,
    )

    # truth: {1,2,3} entity A, {4,5} entity B.
    # prediction: {1,2} + {3,4} + {5} — one correct pair (1,2),
    # one wrong pair (3,4); pred pairs 2, true pairs 4, common 1.
    rows = [(1, "p1", "A"), (2, "p1", "A"), (3, "p2", "A"),
            (4, "p2", "B"), (5, "p3", "B")]
    df = spark.createDataFrame(rows, "id long, pred string, truth string")
    got = pairwise_cluster_metrics(df, "pred", "truth").collect()[0]
    assert (got.n_records, got.n_pred_pairs, got.n_true_pairs,
            got.n_common_pairs) == (5, 2, 4, 1)
    assert got.precision_ppm == 500_000       # 1/2
    assert got.recall_ppm == 250_000          # 1/4
    assert got.f1_ppm == 333_333              # 2·1/(2+4)


def test_pairwise_cluster_metrics_degenerate(spark):
    from data_pipeline_childcare_spark.operators.er import (
        pairwise_cluster_metrics,
    )

    # all-singleton prediction AND truth: vacuously perfect
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "id long, pred string, truth string"
    )
    got = pairwise_cluster_metrics(df, "pred", "truth").collect()[0]
    assert (got.n_pred_pairs, got.n_true_pairs) == (0, 0)
    assert (got.precision_ppm, got.recall_ppm, got.f1_ppm) == (
        1_000_000, 1_000_000, 1_000_000,
    )
    # perfect clustering scores exactly 1e6 everywhere
    good = spark.createDataFrame(
        [(1, "c", "e"), (2, "c", "e"), (3, "d", "f")],
        "id long, pred string, truth string",
    )
    g = pairwise_cluster_metrics(good, "pred", "truth").collect()[0]
    assert (g.precision_ppm, g.recall_ppm, g.f1_ppm) == (
        1_000_000, 1_000_000, 1_000_000,
    )


def test_bcubed_metrics_hand_values(spark):
    from data_pipeline_childcare_spark.operators.er import bcubed_metrics

    # truth {1,2,3}=A {4,5}=B; prediction {1,2},{3,4},{5}.
    # B3P per record: 1:1, 2:1, 3:1/2, 4:1/2, 5:1 → 4/5
    # B3R per record: 1:2/3, 2:2/3, 3:1/3, 4:1/2, 5:1/2 → 8/15
    rows = [(1, "p1", "A"), (2, "p1", "A"), (3, "p2", "A"),
            (4, "p2", "B"), (5, "p3", "B")]
    df = spark.createDataFrame(rows, "id long, pred string, truth string")
    got = bcubed_metrics(df, "pred", "truth").collect()[0]
    assert got.n_records == 5
    assert got.bcubed_precision_ppm == 800_000
    # floor-per-cell then floor-by-N: cells give
    # (4·1e6//2=2e6? no: per-cell n²·1e6//np) — hand: p1(A):4e6//2,
    # p2(A):1e6//2... precision cells: 2e6+5e5+5e5+1e6 = 4e6 //5.
    # recall cells: 4e6//3 + 1e6//3 + 1e6//2 + 1e6//2 = 2666666 //5
    assert got.bcubed_recall_ppm == 533_333
    assert got.bcubed_f1_ppm == (
        2 * 800_000 * 533_333 // (800_000 + 533_333)
    )
    # perfect clustering → all 1e6
    good = spark.createDataFrame(
        [(1, "c", "e"), (2, "c", "e"), (3, "d", "f")],
        "id long, pred string, truth string",
    )
    g = bcubed_metrics(good, "pred", "truth").collect()[0]
    assert (g.bcubed_precision_ppm, g.bcubed_recall_ppm, g.bcubed_f1_ppm) == (
        1_000_000, 1_000_000, 1_000_000,
    )


def test_idf_weighted_jaccard_fixes_common_token_overmerge(spark):
    from data_pipeline_childcare_spark.operators.er import (
        resolve_entities,
        resolve_entities_idf,
        token_jaccard_weighted,
    )

    # the audit-exposed failure: records of DIFFERENT entities share
    # three corpus-common tokens ("united states building") and reach
    # plain Jaccard 3/5 exactly; idf weighting must split them while
    # keeping the same-entity variant (reordered tokens) merged.
    rows = [
        (10, "united states building 77"),
        (11, "building united states 77"),   # same entity as 10
        (20, "united states building 88"),   # different entity
        (30, "zork 99"),                      # isolated
    ]
    df = spark.createDataFrame(rows, "rec_id long, rec_name string")
    plain = {
        r.id: r.cluster_id
        for r in resolve_entities(df, "rec_id", "rec_name", 3, 5).collect()
    }
    assert plain[10] == plain[20]  # the over-merge, reproduced
    idf = {
        r.id: r.cluster_id
        for r in resolve_entities_idf(df, "rec_id", "rec_name", 3, 5).collect()
    }
    assert idf[10] == idf[11]      # same entity still merges
    assert idf[10] != idf[20]      # cross-entity pair now split
    assert idf[30] == 30           # singleton unchanged
    # weighted pair math, by hand: df(united/states/building)=3 →
    # w=333333; df(77)=2 → w=500000; df(88)=1 → w=1000000
    pairs = spark.createDataFrame([(10, 20)], "id_a long, id_b long")
    w = token_jaccard_weighted(df, pairs, "rec_id", "rec_name").collect()[0]
    assert w.inter_w == 3 * 333_333
    assert w.uni_w == 3 * 333_333 + 500_000 + 1_000_000


def test_assign_to_entities_match_tie_and_founder(spark):
    from data_pipeline_childcare_spark.operators.er import assign_to_entities

    existing = spark.createDataFrame(
        [
            (10, 1, "acme building supplies"),
            (11, 1, "ACME Building Supplies Ltd"),
            (20, 2, "acme building supplies"),  # same name, cluster 2
            (30, 3, "zenith rocket works"),
        ],
        "id long, cluster_id long, name string",
    )
    incoming = spark.createDataFrame(
        [
            (100, "acme building supplies"),   # ties clusters 1/2 → min = 1
            (101, "zenith rocket works inc"),  # 3/4 ≥ 3/5 → cluster 3
            (102, "completely unrelated name"),  # founder
        ],
        "id long, name string",
    )
    got = {
        r.id: (r.cluster_id, r.matched)
        for r in assign_to_entities(existing, incoming).collect()
    }
    assert got[100] == (1, True)   # deterministic tiebreak: min cluster
    assert got[101] == (3, True)
    assert got[102] == (102, False)  # new singleton keyed by own id
    # every incoming id exactly once
    assert set(got) == {100, 101, 102}


def test_blocking_audit_hand_counts(spark):
    from data_pipeline_childcare_spark.operators.er import blocking_audit

    # 5 records, entities {1,2,3}=A {4,5}=B → 4 true pairs.
    # candidates keep (1,2),(4,5),(2,4): completeness 2/4, and
    # reduction 1 − 3/C(5,2) = 1 − 3/10 = 0.7
    truth = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B"), (5, "B")],
        "id long, entity_id string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (4, 5), (2, 4)], "id_a long, id_b long"
    )
    got = blocking_audit(cand, truth).collect()[0]
    assert (got.n_records, got.n_cand_pairs, got.n_true_pairs,
            got.n_cand_true_pairs) == (5, 3, 4, 2)
    assert got.pair_completeness_ppm == 500_000
    assert got.reduction_ratio_ppm == 700_000
    # degenerate: one record → no pairs possible anywhere
    one = spark.createDataFrame([(9, "Z")], "id long, entity_id string")
    none = spark.createDataFrame([], "id_a long, id_b long")
    d = blocking_audit(none, one).collect()[0]
    assert (d.pair_completeness_ppm, d.reduction_ratio_ppm) == (
        1_000_000, 1_000_000,
    )


def test_topk_global_dedup_long_min_score_claim(spark):
    # -LONG_MIN overflows long negation (ANSI throws, legacy wraps so
    # the worst score would WIN); integral scores negate via decimal
    cand = spark.createDataFrame(
        [("a", 1, -9223372036854775808), ("a", 1, 5), ("b", 2, 7)],
        "task_id string, item_id long, score long",
    )
    rows = {(r["item_id"], r["score"]) for r in
            top_k_with_global_dedup(cand, k=10).collect()}
    assert (1, 5) in rows and (1, -9223372036854775808) not in rows
    assert (2, 7) in rows


def test_pairwise_cluster_metrics_giant_cluster_no_overflow(spark):
    from data_pipeline_childcare_spark.operators.er import (
        pairwise_cluster_metrics,
    )

    # ADVICE r10: a single 5M-record cluster has C(5e6,2) ≈ 1.25e13
    # pairs — `pairs * 1e6` wrapped BIGINT (bound ~9.2e12) and
    # reported garbage ppm. The DECIMAL(38,0) numerators must report
    # exactly 1e6 for a perfect clustering of any size.
    n = 5_000_000
    df = (
        spark.range(n)
        .select(F.lit("p").alias("pred"), F.lit("A").alias("truth"))
    )
    got = pairwise_cluster_metrics(df, "pred", "truth").collect()[0]
    pairs = n * (n - 1) // 2
    assert pairs > 9_223_372_036_854_775_807 // 10**6  # old bound hit
    assert (got.n_pred_pairs, got.n_true_pairs, got.n_common_pairs) == (
        pairs, pairs, pairs,
    )
    assert (got.precision_ppm, got.recall_ppm, got.f1_ppm) == (
        1_000_000, 1_000_000, 1_000_000,
    )


def test_bcubed_metrics_giant_cell_no_overflow(spark):
    from data_pipeline_childcare_spark.operators.er import bcubed_metrics

    # ADVICE r10: a contingency cell of 5M records makes the per-cell
    # term n²·1e6 ≈ 2.5e25 — BIGINT wrapped silently. DECIMAL(38,0)
    # products keep the quotient (n·1e6) exact.
    n = 5_000_000
    df = (
        spark.range(n)
        .select(F.lit("p").alias("pred"), F.lit("A").alias("truth"))
    )
    got = bcubed_metrics(df, "pred", "truth").collect()[0]
    assert got.n_records == n
    assert (got.bcubed_precision_ppm, got.bcubed_recall_ppm,
            got.bcubed_f1_ppm) == (1_000_000, 1_000_000, 1_000_000)


def test_empty_input_guards_raise(spark):
    import pytest

    from data_pipeline_childcare_spark.operators.profile import (
        inclusion_dependencies,
    )
    from data_pipeline_childcare_spark.operators.topk import (
        top_k_sequential_dedup,
    )

    with pytest.raises(ValueError, match="pairs must be non-empty"):
        inclusion_dependencies([])
    cand = spark.createDataFrame(
        [("t1", 1, 10)], "task_id string, item_id long, score long"
    )
    with pytest.raises(ValueError, match="task_order must be non-empty"):
        top_k_sequential_dedup(cand, [])


def test_tuoyu_er_alias_awareness(spark):
    """The institution-registry ER composition (reference corpus
    shape): alias-aware resolution recovers every entity exactly
    (P=R=1e6) while the name-only control misses every pair whose
    discriminative token lives only in 别名 — the measured argument
    for blocking on name ∪ alias."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    aware = e.tuoyu_er_quality_audit(spark, sf).collect()[0]
    assert (aware.precision_ppm, aware.recall_ppm) == (1_000_000, 1_000_000)
    ctrl = e.tuoyu_er_quality_audit_nameonly(spark, sf).collect()[0]
    assert ctrl.recall_ppm < aware.recall_ppm
    # the registry parse path round-trips: ids recovered from credit
    # codes, 3 filings for every third entity, alias NULL only on C
    recs = e._tuoyu_institution_registry(spark, sf)
    from pyspark.sql import functions as F

    byv = {
        r["v"]: (r["n"], r["na"])
        for r in recs.groupBy((F.col("rec_id") % 10).alias("v"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("alias").isNull().cast("long")).alias("na"),
        )
        .collect()
    }
    assert byv[0][0] == byv[1][0] and byv[0][1] == byv[1][1] == 0
    assert byv[2][0] > 0 and byv[2][1] == byv[2][0]  # C: alias always NULL


def test_golden_records_null_field_loses_to_present_value(spark):
    """Self-review round 11: the survivorship ordering struct ranked a
    NULL field as the MINIMUM (Spark sorts struct fields nulls-first
    ascending), so any cluster containing one incomplete record got a
    NULL golden field — the opposite of 'most complete wins'. Present
    values must beat NULL; NULL survives only when every member lacks
    the field."""
    from data_pipeline_childcare_spark.operators.er import golden_records

    df = spark.createDataFrame(
        [(1, "short", None), (2, "longer-name", "a@x"), (3, None, None)],
        "rec_id long, name string, email string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "id long, cluster_id long"
    )
    got = {
        r.cluster_id: (r.n_records, r.name, r.email)
        for r in golden_records(df, clusters, "rec_id", ["name", "email"]).collect()
    }
    assert got[1] == (2, "longer-name", "a@x")   # NULLs lost
    assert got[3] == (1, None, None)             # all-missing stays NULL


def test_session_pins_ansi_mode(spark):
    """Round-11 advice: the engine's overflow contract (decimal→long
    audit casts THROW instead of nulling) is ANSI-mode behavior —
    get_spark must pin it rather than inherit the Spark-4 default, so
    a 3.x deployment gets the same fail-loud guarantee."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
