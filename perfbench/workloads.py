"""The benchmark workloads.

Each workload reads what the client side knows of its generated tables
(``prepare``), loads the tables through the engine (``setup``), yields
its seeded request stream lazily (``requests``; a request's own input
files are written when it is drawn, before its clock starts), serves one
request at a time (``request``, the timed part) and then checks the
request's output (``check``, untimed). Every engine call goes through a
public function and sits inside a span; every Spark action sits inside
a ``spark.action`` span.

``check`` returns ``(errors, digest, counts)``: the invariant
violations found in the output (a non-empty list fails the request), a
digest of the output so two runs of one seed can be compared, and the
useful-work counts behind the ratio metrics.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import shutil

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

import gen
from data_pipeline_childcare_spark.io import load_table, write_partitioned
from data_pipeline_childcare_spark.operators.similarity import ivf_cosine_topk
from data_pipeline_childcare_spark.operators.tfidf import bm25_topk
from data_pipeline_childcare_spark.plans.curation import curate_corpus
from data_pipeline_childcare_spark.plans.retrieval import bm25_rerank_scorer, xpilot_retrieval
from data_pipeline_childcare_spark.plans.survey_rag import survey_to_markdown
from data_pipeline_childcare_spark.schemas import SURVEY_SCHEMA
from data_pipeline_childcare_spark.sources.record_blocks import (
    institution_records,
    moe_records,
    parse_blocks,
    read_record_blocks,
)

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def digest(obj) -> str:
    return hashlib.sha1(repr(obj).encode("utf-8")).hexdigest()[:16]


class RagHybrid:
    """BM25 leg + IVF dense leg per sub-query, then RRF, BM25 rerank of
    the top 100, per-task top-k with first-task-wins dedup and the
    grouped rollup (``xpilot_retrieval``)."""

    name = "rag_hybrid"
    LEG_K = 30
    CHUNKS_PER_DOC = 5  # a document is five consecutive corpus rows

    RET_SCHEMA = (
        "query_id string, chunk_id long, score double, database_id long, "
        "document_id long, position int, content string"
    )

    def prepare(self, data_dir: str) -> None:
        with open(os.path.join(data_dir, "client.json"), encoding="utf-8") as fh:
            client = json.load(fh)
        self.content, self.vectors = client["content"], client["vectors"]

    def requests(self, seed: int):
        return gen.rag_requests(seed, gen.SF01_VECS)

    def setup(self, spark, tr, data_dir: str) -> None:
        self.spark = spark
        with tr.span("io.load_table", jobs=True):
            self.docs = load_table(spark, "documents", data_dir)
            self.emb = load_table(spark, "embeddings", data_dir)

    def _query_vec(self, sub: dict) -> list[float]:
        rng = random.Random(sub["jitter"])
        return [x + rng.gauss(0.0, 0.05) for x in self.vectors[sub["near_vec"]]]

    def request(self, tr, req: dict):
        spark, subs, k = self.spark, req["subs"], req["k"]
        qdf = spark.createDataFrame(
            [(1_000_000 + s["qid"], s["text"]) for s in subs], "query_id long, qtext string"
        )
        with tr.span("operators.bm25_topk", jobs=True):
            bm = bm25_topk(self.docs, qdf, k=self.LEG_K)
        bm_rows = tr.action(bm.collect)
        qv = spark.createDataFrame(
            [(1_000_000 + s["qid"], self._query_vec(s)) for s in subs],
            "query_id long, query_vec array<float>",
        )
        with tr.span("operators.ivf_cosine_topk", jobs=True):
            iv = ivf_cosine_topk(self.emb, qv, k=self.LEG_K, n_cells=16, n_probe=4)
        iv_rows = tr.action(iv.collect)

        retrieved = [
            self._chunk(f"bm25:{r['query_id']}", r["doc_id"], r["score"]) for r in bm_rows
        ] + [
            self._chunk(f"ivf:{r['query_id']}", r["vec_id"], r["cosine_sim"]) for r in iv_rows
        ]
        ret = spark.createDataFrame(retrieved, self.RET_SCHEMA)
        tasks = spark.createDataFrame(
            [(t, f"q{q}") for t, q in req["tasks"]], "task_id string, query_id string"
        )
        query = " ".join(s["text"] for s in subs)
        with tr.span("plans.xpilot_retrieval", jobs=True):
            out = xpilot_retrieval(ret, tasks, rerank_scorer=bm25_rerank_scorer(query),
                                   rerank_cap=100, top_k=k)
        rows = tr.action(out.collect)
        return {"bm": bm_rows, "iv": iv_rows, "retrieved": retrieved, "rows": rows}

    def check(self, req: dict, res: dict):
        rows, retrieved, k = res["rows"], res["retrieved"], req["k"]
        errors = _leg_errors("bm25", res["bm"], "doc_id", "score", self.LEG_K)
        errors += _leg_errors("ivf", res["iv"], "vec_id", "cosine_sim", self.LEG_K)
        errors += self._check(rows, retrieved, [t for t, _ in req["tasks"]], k)
        blocks = sum(r["n_blocks"] for r in rows)
        key = sorted(
            (r["task_id"], r["database_id"], r["document_id"],
             [(b["chunk_id"], round(-b["neg_score"], 6)) for b in r["content_blocks"]])
            for r in rows
        )
        counts = {"candidates": len(retrieved), "blocks": blocks,
                  "records_in": gen.SF01_DOCS + gen.SF01_VECS}
        return errors, digest(key), counts

    def _chunk(self, list_id: str, doc_id: int, score: float) -> tuple:
        return (list_id, doc_id, float(score), doc_id % 4, doc_id // self.CHUNKS_PER_DOC,
                doc_id % self.CHUNKS_PER_DOC, self.content[doc_id])

    @staticmethod
    def _check(rows, retrieved, task_ids, k) -> list[str]:
        errors = []
        where = {c[1]: (c[3], c[4]) for c in retrieved}
        per_task: dict[str, int] = {}
        seen: dict[int, str] = {}
        for r in rows:
            blocks = r["content_blocks"]
            per_task[r["task_id"]] = per_task.get(r["task_id"], 0) + len(blocks)
            if r["n_blocks"] != len(blocks):
                errors.append(f"n_blocks {r['n_blocks']} != {len(blocks)} blocks")
            neg = [b["neg_score"] for b in blocks]
            if neg != sorted(neg):
                errors.append(f"blocks of {r['task_id']}/{r['document_id']} not score-ordered")
            for b in blocks:
                c = b["chunk_id"]
                if c in seen:
                    errors.append(f"chunk {c} returned for {seen[c]} and {r['task_id']}")
                seen[c] = r["task_id"]
                if where.get(c) != (r["database_id"], r["document_id"]):
                    errors.append(f"chunk {c} is not a retrieved chunk of its document")
        for t, n in per_task.items():
            if n > k:
                errors.append(f"task {t} returned {n} > k={k} chunks")
        first = min(task_ids)
        distinct = len({c[1] for c in retrieved})
        if per_task.get(first, 0) != min(k, distinct):
            errors.append(f"first task {first} returned {per_task.get(first, 0)} of {k}")
        return errors


def _leg_errors(leg: str, rows, id_col: str, score_col: str, k: int) -> list[str]:
    """A retrieval leg returns at most k rows per query, ranked 1..n by
    descending score."""
    errors = []
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r[score_col], r[id_col]))
    for q, hits in by_q.items():
        hits.sort()
        if len(hits) > k:
            errors.append(f"{leg} query {q}: {len(hits)} > k={k} rows")
        if [h[0] for h in hits] != list(range(1, len(hits) + 1)):
            errors.append(f"{leg} query {q}: ranks not 1..n")
        scores = [h[1] for h in hits]
        if scores != sorted(scores, reverse=True):
            errors.append(f"{leg} query {q}: scores not descending by rank")
    return errors


class CorpusIngest:
    """A fresh ``^_^`` corpus per batch: read → parse → typed
    projections and survey markdown → ``curate_corpus`` →
    ``write_partitioned`` parquet, checked against a re-read."""

    name = "corpus_ingest"
    BATCH_RECORDS = 1000

    def prepare(self, data_dir: str) -> None:
        self.data_dir = data_dir

    def requests(self, seed: int):
        for b in itertools.count():
            batch_dir = os.path.join(self.data_dir, f"batch{b}")
            batch = gen.write_ingest_batch(batch_dir, seed, b, self.BATCH_RECORDS)
            batch.update(rid=b, dir=batch_dir, out=os.path.join(batch_dir, "out"))
            yield batch

    def setup(self, spark, tr, data_dir: str) -> None:
        self.spark = spark
        self.survey_schema = StructType(
            [StructField("survey_id", LongType()), StructField("survey", SURVEY_SCHEMA)]
        )
        with tr.span("io.load_table", jobs=True):
            self.benchmark = load_table(spark, "benchmark", data_dir)

    def request(self, tr, req: dict):
        spark = self.spark
        with tr.span("sources.read_record_blocks", jobs=True):
            blocks = read_record_blocks(spark, req["corpus"], with_file=False)
        with tr.span("sources.parse_blocks", jobs=True):
            parsed = parse_blocks(blocks)
        with tr.span("sources.typed_records", jobs=True):
            inst = institution_records(parsed)
            moe = moe_records(parsed)
        surveys = spark.read.schema(self.survey_schema).json(req["surveys"])
        with tr.span("plans.survey_to_markdown", jobs=True):
            md = survey_to_markdown(surveys)
        docs = (
            inst.select(F.substring("credit_code", 3, 16).cast("long").alias("doc_id"),
                        F.lit("institution").alias("record_type"),
                        F.concat_ws(" ", "name", "institution_type", "address").alias("text"))
            .unionByName(
                moe.select(F.substring("school_code", 2, 20).cast("long").alias("doc_id"),
                           F.lit("moe").alias("record_type"),
                           F.concat_ws(" ", "school_name", "province", "major_name",
                                       "remark").alias("text")))
            .unionByName(
                md.select(F.col("survey_id").alias("doc_id"), F.lit("survey").alias("record_type"),
                          F.col("markdown").alias("text")))
        )
        with tr.span("plans.curate_corpus", jobs=True):
            curated = curate_corpus(docs, self.benchmark, STOPWORDS)
        out = curated.join(docs.select("doc_id", "record_type"), "doc_id")
        with tr.span("io.write_partitioned"):
            tr.action(lambda: write_partitioned(out, req["out"], ["record_type"]))

    def check(self, req: dict, _res):
        """Re-read the written files."""
        written = self.spark.read.parquet(req["out"])
        rows = written.groupBy("record_type").agg(
            F.count("*").alias("n"), F.sum(F.col("kept").cast("long")).alias("kept")
        ).collect()
        got = {r["record_type"]: r["n"] for r in rows}
        errors = []
        if got != req["counts"]:
            errors.append(f"re-read counts {got} != generated {req['counts']}")
        files = out_bytes = 0
        for root, _, names in os.walk(req["out"]):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    out_bytes += os.path.getsize(os.path.join(root, n))
        shutil.rmtree(req["dir"], ignore_errors=True)
        kept = sum(r["kept"] or 0 for r in rows)
        key = sorted((r["record_type"], r["n"], r["kept"]) for r in rows)
        counts = {"records": sum(got.values()), "kept": kept, "files": files,
                  "bytes_out": out_bytes, "bytes_in": req["bytes"],
                  "records_in": req["records"]}
        return errors, digest(key), counts


WORKLOADS = {w.name: w for w in (RagHybrid, CorpusIngest)}
