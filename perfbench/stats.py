#!/usr/bin/env python3
"""Runs the benchmark over several seeds and prints, per workload and
metric, the median and quartiles across runs and the quartile spread as
a share of the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/stats.py --workloads sf01_mix,mr_text --seeds 1-10 [--trace 0] [--cores 4]

Run from the root of a checkout. Each run's final JSON line is appended to
.bench_build/results/stats.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace, cores):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                        "--cores", str(cores)], capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.time() - t0
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, default=4)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    kind = "per_layer" if a.trace else "end_to_end"
    bounds = {m["name"]: m.get("bound") for m in bench[kind]}
    os.makedirs(os.path.join(".bench_build", "results"), exist_ok=True)
    print("| workload | metric | unit | n | median | q1 | q3 | spread | bound |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w in a.workloads.split(","):
        results = []
        for s in seeds(a.seeds):
            r = run(w, s, bench["run_seconds"], a.trace, a.cores)
            results.append(r)
            with open(os.path.join(".bench_build", "results", "stats.jsonl"), "a") as f:
                f.write(json.dumps(dict(r, workload=w, seed=s, cores=a.cores)) + "\n")
            print(f"[stats] {w} seed {s}: {r['wall_s']:.1f} s, correct={r['correct']}, "
                  f"failed {r['failed']} of {r['attempted']}", file=sys.stderr, flush=True)
        names = list(results[0]["metrics"]) + ["run_wall_s"]
        for name in names:
            vals = ([r["wall_s"] for r in results] if name == "run_wall_s"
                    else [r["metrics"][name]["value"] for r in results])
            unit = "s" if name == "run_wall_s" else results[0]["metrics"][name]["unit"]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(name)
            print(f"| {w} | {name} | {unit} | {len(vals)} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{spread:.3f} | {'' if b is None else b} |", flush=True)
        failed = sum(r["failed"] for r in results)
        attempted = sum(r["attempted"] for r in results)
        print(f"| {w} | failed / attempted | count | {len(results)} | {failed} / {attempted} | | | | |")


if __name__ == "__main__":
    main()
