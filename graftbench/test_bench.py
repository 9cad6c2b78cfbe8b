#!/usr/bin/env python3
"""The benchmark's own tests, at tiny input size (a few minutes in all).

    python3 graftbench/test_bench.py        # from the repository root

- every metric BENCHMARK.json names is reported, with its unit, on every
  workload, traced and untraced, and the report carries the workload's
  own end-to-end metrics;
- the same seed reproduces the inputs byte for byte, another seed does not;
- an injected failing item raises error_rate and adds no latency sample;
- a directory holding only BENCHMARK.json and the benchmark fails fast.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
COMMON = ["latency_s.p50", "items_per_s", "setup_s", "heap_live_mb", "error_rate"]
ONLY = {"scd2_ingest": ["read_latency_s.p50", "store_bytes_per_user_byte"]}

_cache = {}


def bench(workload, seed, trace=0, inject=-1, fresh=False):
    key = (workload, seed, trace, inject)
    if fresh or key not in _cache:
        p = subprocess.run(
            [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--seconds", "4",
             "--trace", str(trace), "--scale", "tiny", "--inject-fail", str(inject)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
        assert p.returncode == 0, p.stderr[-2000:]
        lines = p.stdout.strip().splitlines()
        _cache[key] = (json.loads(lines[-2][len("report "):]), json.loads(lines[-1]))
    return _cache[key]


class MetricsPresent(unittest.TestCase):
    def test_every_metric_named_with_unit(self):
        for w in WORKLOADS:
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                report, last = bench(w, 1, trace)
                self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(last["correct"], (w, report["failures"]))
                self.assertGreaterEqual(last["attempted"], 1)
                want = {m["name"]: m["unit"] for m in SPEC[section]}
                got = {k: v["unit"] for k, v in last["metrics"].items()}
                self.assertEqual(got, want, (w, trace))
                for v in last["metrics"].values():
                    self.assertIsInstance(v["value"], (int, float))
            report, _ = bench(w, 1, 0)
            for name in COMMON + ONLY.get(w, []):
                self.assertIn(name, report["end_to_end"], (w, name))
            self.assertEqual(report["end_to_end"]["error_rate"]["value"], 0.0)
            self.assertEqual(report["samples"]["latency_s.p50"], report["attempted"])
            self.assertGreater(report["nproc"], 0)


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in WORKLOADS:
            a, _ = bench(w, 1, 0)
            b, _ = bench(w, 1, 0, fresh=True)
            c, _ = bench(w, 2, 0)
            self.assertEqual(a["input_sha256"], b["input_sha256"], w)
            self.assertNotEqual(a["input_sha256"], c["input_sha256"], w)


class InjectedFailure(unittest.TestCase):
    def test_failed_item_counts_and_adds_no_sample(self):
        report, last = bench("temporal_query", 2, 0, inject=0)
        self.assertFalse(last["correct"])
        self.assertEqual(last["failed"], 1)
        n = last["attempted"]
        self.assertAlmostEqual(report["end_to_end"]["error_rate"]["value"], 1 / n)
        self.assertEqual(report["samples"].get("latency_s.p50", 0), n - 1)


class BareDirectory(unittest.TestCase):
    def test_fails_without_the_program_sources(self):
        scratch = os.path.join(ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for path in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, path), os.path.join(d, path),
                                ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(
                SPEC["command"] + ["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                                   "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
