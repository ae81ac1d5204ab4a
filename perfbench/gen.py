"""Seeded input generator for the benchmark.

Everything the engine sees during a run is made here from ``--seed``:
the same seed writes byte-identical tables and yields identical request
streams. The stored tables are written by a child process,

    python3 perfbench/gen.py --workload rag_hybrid --seed 1 --out DIR

so that pyarrow and the generated tables never count in the measured
process's memory or set-up time. Request streams are lazy generators
that the measured process draws from one request at a time.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random

import numpy as np

# The stored sf0.1 test tables (documents 5,000 rows, embeddings 2,000)
# draw each text uniformly from a flat 30-word vocabulary (two stopwords
# among them), 10-100 tokens long; 5% of the documents are a copy of
# another document with " dup" appended. Languages are about 40% "en"
# and 15% each of the others; sources cycle over 20 names. Embeddings
# are 64-dim unit vectors with no cluster structure and a label drawn
# independently from 10. The generated tables keep those shapes.
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row agg key query "
    "scan batch the a"
).split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64
N_LABELS = 10
SF01_DOCS, SF01_VECS = 5000, 2000

# Value pools for the kv records (province → cities, as the engine's
# gazetteer has them).
PROVINCES = {
    "四川": ["成都", "绵阳", "德阳", "乐山"],
    "广东": ["广州", "深圳", "珠海", "佛山"],
    "北京": ["北京", "海淀", "朝阳"],
}
MAJORS = ["护理学", "学前教育", "婴幼儿托育服务与管理", "会计"]
INST_TYPES = ["托育机构", "幼儿园", "早教中心"]
YEARS = ["2020", "2021", "2022", "2023", "2024"]


# pyarrow is imported inside the table writers only: the measured process
# imports this module for its request streams and must not load it.


def _write(table, path: str) -> int:
    import pyarrow.parquet as pq

    pq.write_table(table, path)
    return os.path.getsize(path)


def _sentence(rng: np.random.Generator, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


# ---------------------------------------------------------------- documents


def documents_table(seed: int, n_docs: int):
    """``documents`` in the stored test-table schema and shape."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    texts = [_sentence(rng, 10, 101) for _ in range(n_docs)]
    base = list(texts)
    for d in rng.choice(n_docs, n_docs // 20, replace=False):
        src = int(rng.integers(0, n_docs - 1))
        texts[d] = base[src + (src >= d)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[int(x)] for x in rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n_vecs: int):
    """``embeddings``: unit vectors in random directions, with labels
    drawn independently of them, as in the stored tables."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 2])
    v = rng.normal(size=(n_vecs, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n_vecs)
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def write_doc_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """Write ``documents`` and ``embeddings`` parquet into ``out_dir``,
    plus ``client.json``: what the requesting client knows of them (the
    first 200 characters of each text, and the vectors it draws query
    vectors near)."""
    os.makedirs(out_dir, exist_ok=True)
    docs = documents_table(seed, n_docs)
    emb = embeddings_table(seed, n_vecs)
    nbytes = _write(docs, os.path.join(out_dir, "documents.parquet"))
    nbytes += _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    client = {
        "content": [t[:200] for t in docs.column("text").to_pylist()],
        "vectors": emb.column("embedding").to_pylist(),
    }
    with open(os.path.join(out_dir, "client.json"), "w", encoding="utf-8") as fh:
        json.dump(client, fh)
    return {"docs": n_docs, "vectors": n_vecs, "bytes": nbytes}


def rag_requests(seed: int, n_vecs: int):
    """Endless request stream for ``rag_hybrid``: three sub-queries each
    (2–4 query terms plus a query vector near a stored vector), 2 or 3
    tasks mapped onto the sub-queries, and a per-request top-k. The
    task count alternates by request index, because the number of Spark
    jobs follows it and every run should see the same mix."""
    rng = random.Random(f"{seed}-rag")
    words = [w for w in VOCAB if w not in ("the", "a")]
    for r in itertools.count():
        subs = []
        for q in range(3):
            subs.append(
                {
                    "qid": q,
                    "text": " ".join(rng.sample(words, rng.randint(2, 4))),
                    "near_vec": rng.randrange(n_vecs),
                    "jitter": rng.randrange(1 << 30),
                }
            )
        tasks = [(f"t{t}", rng.randrange(3)) for t in range(2 + r % 2)]
        yield {"rid": r, "subs": subs, "tasks": tasks, "k": rng.randint(5, 10)}


# ----------------------------------------------------------- ingest batches


def _inst_block(rng: random.Random, prov: str, city: str, n: int) -> str:
    ts = rng.choice(
        [f"{rng.choice(YEARS)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} 10:00:00", ""]
    )
    return (
        f"统一社会信用代码：91{n:016d}\n备案及完成时间：{ts}\n"
        f"详细地址：{prov}省{city}市第{rng.randint(1, 99)}街"
    )


def _survey_json(rng: random.Random, sid: int) -> dict:
    prov = rng.choice(list(PROVINCES))
    return {
        "survey_id": sid,
        "survey": {
            "institution_info": {
                "city": rng.choice(PROVINCES[prov]),
                "institution_nature": rng.choice(["1", "2"]),
                "is_puhui": rng.random() < 0.5,
                "total_capacity": rng.randint(20, 200),
                "service_modes": rng.sample(["全日托", "半日托", "计时托", "临时托"], 2),
            },
            "personal_info": {
                "job_role": str(rng.randint(1, 5)),
                "education_level": str(rng.randint(1, 4)),
                "major": rng.choice(MAJORS),
                "years_of_experience": rng.choice(["1-3年", "3-5年", "5年以上"]),
            },
            "employment_info": {
                "recruitment_channels": rng.sample(["线上招聘", "校企合作", "熟人介绍"], 2),
                "shortage_positions": [
                    {"position": str(rng.randint(1, 5)), "shortage_level": rng.choice(["严重", "一般"])}
                ],
            },
            "position_details": {
                "salary_range": str(rng.randint(1, 4)),
                "satisfaction_matrix": {"r1": "c1", "r2": rng.choice(["c1", "c2", "c3"])},
            },
            "manager_specific_info": {"staff_count": rng.randint(3, 60), "turnover_rate": "10%"},
        },
    }


def write_ingest_batch(out_dir: str, seed: int, batch: int, n_records: int) -> dict:
    """One fresh ingest batch: ``^_^``-joined institution and MOE kv
    blocks over four text files, plus a JSON-lines survey file. Every
    block carries a ``记录编号`` id line; MOE remarks are free English
    text and every 20th remark repeats an earlier one, so the quality
    and near-dup stages have work to do."""
    rng = random.Random(f"{seed}-ingest-{batch}")
    nrng = np.random.default_rng([seed, 3, batch])
    corpus = os.path.join(out_dir, "corpus")
    os.makedirs(corpus, exist_ok=True)
    base = batch * 1_000_000
    n_survey = n_records // 5
    files: list[list[str]] = [[] for _ in range(4)]
    counts = {"institution": 0, "moe": 0, "survey": n_survey}
    remarks: list[str] = []
    for i in range(n_records - n_survey):
        rid = base + i
        prov = rng.choice(list(PROVINCES))
        city = rng.choice(PROVINCES[prov])
        if rng.random() < 0.5:
            block = (
                f"记录编号：{rid}\n机构名称：托育{rid}\n机构类型：{rng.choice(INST_TYPES)}\n"
                + _inst_block(rng, prov, city, rid)
            )
            counts["institution"] += 1
        else:
            if remarks and i % 20 == 19:
                remark = remarks[-1] + " dup"
            else:
                remark = _sentence(nrng, 12, 60)
            remarks.append(remark)
            block = (
                f"记录编号：{rid}\n机构名称：学校{rid}\n省份：{prov}\n学校标识码：S{rid}\n"
                f"开设专业：{rng.choice(MAJORS)}(5{rid % 1000:03d})\n修业年限：3\n"
                f"年份：{rng.choice(YEARS)}\n备注：{remark}"
            )
            counts["moe"] += 1
        files[i % 4].append(block)
    nbytes = 0
    for j, blocks in enumerate(files):
        path = os.path.join(corpus, f"part-{j}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n^_^\n".join(blocks))
        nbytes += os.path.getsize(path)
    surveys = os.path.join(out_dir, "surveys.jsonl")
    with open(surveys, "w", encoding="utf-8") as fh:
        for s in range(n_survey):
            fh.write(json.dumps(_survey_json(rng, base + 900_000 + s), ensure_ascii=False) + "\n")
    nbytes += os.path.getsize(surveys)
    return {"records": n_records, "bytes": nbytes, "counts": counts,
            "corpus": corpus, "surveys": surveys}


def write_benchmark_docs(out_dir: str, seed: int, n: int) -> dict:
    """Held-out evaluation texts for curation's decontamination stage."""
    import pyarrow as pa

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": [_sentence(rng, 12, 60) for _ in range(n)],
        }
    )
    return {"benchmark_docs": n, "bytes": _write(table, os.path.join(out_dir, "benchmark.parquet"))}


TABLES = {
    "rag_hybrid": lambda out, seed: write_doc_tables(out, seed, SF01_DOCS, SF01_VECS),
    "corpus_ingest": lambda out, seed: write_benchmark_docs(out, seed, 200),
}


def main() -> None:
    ap = argparse.ArgumentParser(description="Write a workload's stored tables.")
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(TABLES[args.workload](args.out, args.seed), sort_keys=True))


if __name__ == "__main__":
    main()
