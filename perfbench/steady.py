"""Steadiness evidence: run every workload of BENCHMARK.json on several
seeds and report each end-to-end metric's spread.

    python3 perfbench/steady.py --seeds 1-10 --traced 2 --out perfbench/results/steadiness.json

Run from the repository root, with nothing else running. For each
workload, ``--seeds`` untraced runs are made one after another; the
spread of a metric is the distance between the first and third
quartile of its values (``statistics.quantiles(values, n=4)``) as a
share of their median, next to the metric's bound. The first
``--traced`` seeds are then run again traced; the tracing overhead is
the traced ``trace.latency_p50_s`` minus the untraced
``latency_p50_s`` of the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.perf_counter() - t
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["exit"], result["wall_s"] = proc.returncode, round(wall, 1)
    result["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    print(f"{workload} seed={seed} trace={trace} exit={proc.returncode} wall={wall:.0f}s "
          f"correct={result['correct']}", flush=True)
    return result


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    seeds = parse_seeds(args.seeds)
    report: dict = {"run_seconds": bench["run_seconds"], "seeds": seeds, "workloads": {}}
    for w in (x["name"] for x in bench["workloads"]):
        runs = {s: run_once(bench, w, s, 0) for s in seeds}
        traced = {s: run_once(bench, w, s, 1) for s in seeds[: args.traced]}
        metrics = {}
        for m in bench["end_to_end"]:
            vals = [runs[s]["metrics"][m["name"]] for s in seeds]
            metrics[m["name"]] = {
                "values": vals,
                "median": statistics.median(vals),
                "spread": spread(vals),
                "bound": m["bound"],
            }
        report["workloads"][w] = {
            "metrics": metrics,
            "all_correct": all(r["correct"] for r in [*runs.values(), *traced.values()]),
            "wall_s": [runs[s]["wall_s"] for s in seeds],
            "traced": {s: r["metrics"] for s, r in traced.items()},
            "trace_overhead_s": {
                s: r["metrics"]["trace.latency_p50_s"] - runs[s]["metrics"]["latency_p50_s"]
                for s, r in traced.items()
            },
        }
        for name, m in metrics.items():
            print(f"  {w} {name}: median={m['median']:.4g} spread={m['spread']:.3f} "
                  f"bound={m['bound']}", flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
