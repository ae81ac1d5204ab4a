"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload rag_hybrid --seed 1 --seconds 16 --trace 0

Run from the repository root. The run generates its inputs from the
seed into ``.perfbench_work/`` (removed again at exit), builds a Spark
session with the engine's own ``get_spark`` sized to this machine,
sets up (table loads plus one untimed request, which pays lazy builds),
then serves requests in a closed loop with one client until they have
taken ``--seconds`` between them, and checks every response. An untimed DuckDB-oracle comparison at
sf0.01 follows. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans and reports the per-layer metrics instead (spans are written to
``.perfbench_work/traces/``). The exit code is 1 when any check fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def info(msg: str) -> None:
    print(f"# {msg}", flush=True)


def memory_mb(sc) -> dict:
    """Memory of the driver after the timed requests, in MB.

    ``jvm_heap_live`` is the JVM heap still in use after a full
    collection, ``jvm_nonheap`` its non-heap memory in use and
    ``python_peak`` the Python driver's peak resident set (inputs are
    generated in a child process). ``jvm_heap_peak`` is the sum of the
    peak use of each heap pool except eden, read before collecting: it
    follows when the collector ran and how far it grew the heap, so it
    is reported per layer only."""
    mf = sc._gateway.jvm.java.lang.management.ManagementFactory
    heap_peak = sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().name() == "HEAP" and "Eden" not in pool.getName()
    )
    gc.collect()  # drop Python's handles on JVM objects first
    bean = mf.getMemoryMXBean()
    # twice: the first collection lets Spark's cleaner release blocks
    # that the second one then reclaims
    bean.gc()
    time.sleep(0.5)
    bean.gc()
    return {
        "jvm_heap_live": bean.getHeapMemoryUsage().getUsed() / 2**20,
        "jvm_nonheap": bean.getNonHeapMemoryUsage().getUsed() / 2**20,
        "python_peak": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "jvm_heap_peak": heap_peak / 2**20,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "data_pipeline_childcare_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "settings.json"), encoding="utf-8") as fh:
        settings = json.load(fh)
    if args.workload not in settings["oracle"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=settings["driver_heap"],
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
    )
    sys.path[:0] = [HERE, ROOT]
    try:
        return run(args, settings, nproc, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, settings: dict, nproc: int, run_dir: str) -> int:
    import statistics

    from spans import Tracer
    from workloads import WORKLOADS

    import data_pipeline_childcare_spark as eng

    wl = WORKLOADS[args.workload]()
    data_dir = os.path.join(run_dir, "data")
    # the stored tables are written by a child process, so that neither
    # the generator's memory nor its time counts in this process
    t = time.perf_counter()
    made = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", data_dir],
        check=True, capture_output=True, text=True, timeout=120,
    )
    wl.prepare(data_dir)
    gen_s = time.perf_counter() - t
    info(f"inputs {made.stdout.strip()} generated in {gen_s:.2f}s")

    tr = Tracer(None, bool(args.trace))
    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    with tr.span("session.get_spark"):
        spark = eng.get_spark(
            master=f"local[{nproc}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                "spark.driver.extraJavaOptions": java_opts,
                "spark.ui.showConsoleProgress": "false",
            },
        )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm = sc._gateway.proc
    tr.sc = sc
    try:
        wl.setup(spark, tr, data_dir)
        setup_spans = list(tr.spans)
        requests = wl.requests(args.seed)

        def serve(rid: str) -> tuple[float, bool, dict]:
            req = next(requests)  # writes the request's input files, if any
            t0 = time.perf_counter()
            with tr.request(rid):
                res = wl.request(tr, req)
            lat = time.perf_counter() - t0
            spark_counts = tr.spark_counts()  # before check() starts jobs of its own
            errors, dig, counts = wl.check(req, res)
            counts.update(spark_counts)
            for e in errors[:5]:
                info(f"FAIL {rid}: {e}")
            info(f"request {rid} latency_s={lat:.4f} digest={dig} ok={not errors} "
                 + " ".join(f"{k}={v}" for k, v in counts.items()))
            return lat, not errors, counts

        _, ok, _ = serve("warmup")
        setup_s = time.perf_counter() - T_START - gen_s
        attempted, failed = 1, int(not ok)
        info(f"setup_s={setup_s:.3f}")

        # closed loop, one client: requests run back to back until they
        # have taken --seconds between them
        lats, per_req = [], []
        busy = 0.0
        while busy < args.seconds:
            rid = f"r{attempted - 1}"
            lat, ok, counts = serve(rid)
            busy += lat
            attempted += 1
            failed += int(not ok)
            if ok:
                lats.append(lat)
                per_req.append((rid, lat, counts))
        mem = memory_mb(sc)
        info("memory_mb " + " ".join(f"{k}={v:.1f}" for k, v in mem.items()))
        if args.trace:
            # untimed, and only in traced runs, which time nothing end to end
            t = time.perf_counter()
            for name, why in oracle_compare(spark, settings, args, run_dir):
                attempted += 1
                failed += int(bool(why))
                info(f"oracle {name}: {'match' if not why else 'FAIL ' + why}")
            info(f"oracle_s={time.perf_counter() - t:.3f}")
    finally:
        spark.stop()
        # the gateway JVM exits when its stdin closes; wait for it
        jvm.stdin.close()
        jvm.wait(timeout=60)

    if not lats:
        info("no request completed")
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                          "metrics": {}}))
        return 1
    # a tail is the highest percentile with ten samples beyond it
    tail = "none (fewer than 20 samples)"
    if len(lats) >= 20:
        tail = f"p{100 * (len(lats) - 10) // len(lats)}={sorted(lats)[-11]:.4f}"
    info(f"samples={len(lats)} min_s={min(lats):.4f} max_s={max(lats):.4f} tail {tail} "
         f"wall_s={time.perf_counter() - T_START:.1f}")
    if args.trace:
        metrics = layer_metrics(tr, per_req, setup_spans, statistics.median(lats))
        metrics["mem.jvm_heap_peak_mb"] = (mem["jvm_heap_peak"], "MB")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tr.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {
            "latency_p50_s": (statistics.median(lats), "s"),
            "requests_per_s": (len(lats) / busy, "1/s"),
            "records_per_s": (sum(c["records_in"] for _, _, c in per_req) / busy, "1/s"),
            "setup_s": (setup_s, "s"),
            "driver_mem_mb": (
                mem["jvm_heap_live"] + mem["jvm_nonheap"] + mem["python_peak"], "MB"
            ),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def oracle_compare(spark, settings, args, run_dir):
    import oracle

    names = settings["oracle"][args.workload]
    return oracle.compare(spark, ROOT, names, os.path.join(run_dir, "sf0.01"), args.seed)


def layer_metrics(tr, per_req, setup_spans, p50) -> dict:
    """Per-layer metrics: the median over timed requests of each
    quantity, plus the set-up spans."""
    from spans import LAYERS, median

    def setup_total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in setup_spans if s["name"] == name)

    rows = [(tr.request_breakdown(rid), counts) for rid, _, counts in per_req]

    def med(fn) -> float:
        return median([fn(b, c) for b, c in rows])

    def span_s(name: str):
        return lambda b, c: b["by_name"].get(name, 0.0)

    def ratio(num: str, den: str):
        return lambda b, c: c.get(num, 0) / c[den] if c.get(den) else 0.0

    m = {
        "session.get_spark_s": (setup_total("session.get_spark"), "s"),
        "io.load_table_s": (setup_total("io.load_table"), "s"),
        "io.write_partitioned_s": (med(span_s("io.write_partitioned")), "s"),
        "io.files_out": (med(lambda b, c: c.get("files", 0)), "count"),
        "io.bytes_out_per_byte_in": (med(ratio("bytes_out", "bytes_in")), "B/B"),
        "sources.read_record_blocks_s": (med(span_s("sources.read_record_blocks")), "s"),
        "sources.parse_blocks_s": (med(span_s("sources.parse_blocks")), "s"),
        "sources.records_per_batch": (med(lambda b, c: c.get("records", 0)), "count"),
        "operators.bm25_topk_s": (med(span_s("operators.bm25_topk")), "s"),
        "operators.ivf_cosine_topk_s": (med(span_s("operators.ivf_cosine_topk")), "s"),
        "plans.xpilot_retrieval_s": (med(span_s("plans.xpilot_retrieval")), "s"),
        "plans.curate_corpus_s": (med(span_s("plans.curate_corpus")), "s"),
        "plans.survey_to_markdown_s": (med(span_s("plans.survey_to_markdown")), "s"),
        "plans.candidates_per_block": (med(ratio("candidates", "blocks")), "ratio"),
        "plans.kept_ratio": (med(ratio("kept", "records")), "ratio"),
        "spark.action_s": (med(span_s("spark.action")), "s"),
    }
    for key in ("jobs", "build_jobs", "stages", "tasks", "tasks_failed"):
        m[f"spark.{key}"] = (med(lambda b, c, key=key: c[key]), "count")
    m["spark.executor_run_s"] = (med(lambda b, c: c["executor_run_s"]), "s")
    m["spark.shuffle_bytes"] = (med(lambda b, c: c["shuffle_bytes"]), "B")
    m["spark.task_skew"] = (med(lambda b, c: c["task_skew"]), "ratio")
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (med(lambda b, c, layer=layer: b["self"][layer]), "s")
    m["self.unattributed_s"] = (med(lambda b, c: b["gap"]), "s")
    m["trace.coverage"] = (med(lambda b, c: 1.0 - b["gap"] / b["latency"]), "ratio")
    m["trace.latency_p50_s"] = (p50, "s")
    return m


if __name__ == "__main__":
    sys.exit(main())
