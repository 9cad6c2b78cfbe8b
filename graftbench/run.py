#!/usr/bin/env python3
"""Run one graftbench workload and print its result as the last stdout line.

    python3 graftbench/run.py --workload temporal_query --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles the repository's
main sources and the benchmark's Scala sources into .bench_build/ (see build.py);
later runs reuse that build while the sources are unchanged.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("temporal_query", "graph_iterate", "scd2_ingest")
JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def metric_names(root, traced):
    """The metrics BENCHMARK.json asks for: per_layer when traced, else end_to_end."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if traced else "end_to_end"]]


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the benchmark's own tests")
    ap.add_argument("--inject-fail", type=int, default=-1,
                    help="fail timed item N on purpose (tests the error path)")
    a = ap.parse_args(argv)

    root = os.getcwd()
    classes = build.build(root)
    out_dir = os.path.join(root, build.OUT)
    work = os.path.join(out_dir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(out_dir, "logs")
    os.makedirs(logs, exist_ok=True)

    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--scale", a.scale,
              "--inject-fail", str(a.inject_fail)])
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                  timeout=JVM_TIMEOUT_S, cwd=root)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S} s; log in {log_path}")
    result = None
    for line in proc.stdout.splitlines():
        if line.startswith("GRAFTBENCH_RESULT "):
            result = json.loads(line[len("GRAFTBENCH_RESULT "):])
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM exited with {proc.returncode}; log in {log_path}")
    if a.trace:
        traces = os.path.join(out_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.move(os.path.join(work, "spans.json"),
                    os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    # every metric the workload measured, with units and sample counts
    print("report " + json.dumps(result, sort_keys=True))
    have = result["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for name, unit in metric_names(root, a.trace):
        if name not in have or have[name]["unit"] != unit:
            fail(f"metric {name} [{unit}] missing from the {a.workload} result")
        metrics[name] = {"value": have[name]["value"], "unit": unit}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
