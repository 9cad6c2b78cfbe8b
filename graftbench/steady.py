#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds and report, per
end-to-end metric, the median and the quartile spread as a share of the
median (the same statistic BENCHMARK.json bounds are set against).

    python3 graftbench/steady.py --workloads temporal_query,graph_iterate \
        --seeds 1-10 --out .bench_build/steady-1.json

Run from the repository root. Each run is one `graftbench/run.py` call;
runs whose host.other_cpu_frac exceeds BUSY are flagged, not dropped.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BUSY = 0.10  # flag runs with more other-process CPU than this share


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run(workload, seed, seconds, trace=0):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        return {"workload": workload, "seed": seed, "ok": False, "wall_s": wall}
    lines = p.stdout.strip().splitlines()
    report = json.loads(lines[-2][len("report "):])
    last = json.loads(lines[-1])
    return {"workload": workload, "seed": seed, "ok": True, "wall_s": wall,
            "correct": last["correct"], "metrics": last["metrics"], "report": report}


def summarize(runs, bounds):
    rows = []
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs if r["ok"]]
        if len(vals) < 4:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        rows.append({"metric": name, "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med, "bound": bound})
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    result = {}
    for w in a.workloads.split(","):
        runs = [run(w, s, spec["run_seconds"]) for s in seeds(a.seeds)]
        rows = summarize(runs, bounds)
        result[w] = {"runs": runs, "summary": rows}
        print(f"## {w}")
        for r in runs:
            if not r["ok"]:
                print(f"  seed {r['seed']}: FAILED ({r['wall_s']:.0f} s)")
                continue
            busy = r["report"]["host.other_cpu_frac"]
            flag = "  BUSY HOST" if busy > BUSY else ""
            print(f"  seed {r['seed']}: wall {r['wall_s']:.0f} s, correct {r['correct']}, "
                  f"other_cpu {busy:.3f}{flag}")
        for r in rows:
            print(f"  {r['metric']:<16} median {r['median']:.4f}  IQR/median {r['spread']:.3f}"
                  f"  (bound {r['bound']}, target < {r['bound'] / 3:.3f})")
        sys.stdout.flush()
    with open(a.out, "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
