#!/usr/bin/env python3
"""The benchmark's own checks. Run from the repository root:

    python3 bench/test_bench.py

For every workload in BENCHMARK.json it makes one short untraced and one
short traced run. It asserts that each run is correct with no failed op,
prints exactly the metrics BENCHMARK.json names, and leaves the sink or
store bytes equal before and after the timed phase. It also asserts that
the benchmark refuses to run, without printing a result, in a directory
holding only BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(cwd, workload, trace, seed=7, seconds=3):
    p = subprocess.run(
        SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                           "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, [l for l in p.stdout.splitlines() if l.strip()]


class BenchmarkTest(unittest.TestCase):
    def check(self, workload, trace, names):
        code, lines = run(ROOT, workload, trace)
        self.assertEqual(code, 0)
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), names)
        context = json.loads(next(l for l in lines if l.startswith("context "))[8:])
        self.assertEqual(context["state_steady"], "true")
        self.assertNotEqual(context["state_bytes"], "0")
        return result

    def test_workloads(self):
        e2e = {m["name"] for m in SPEC["end_to_end"]}
        layers = {m["name"] for m in SPEC["per_layer"]}
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                r = self.check(w["name"], 0, e2e)
                self.assertTrue(all(m["value"] > 0 for m in r["metrics"].values()))
            with self.subTest(workload=w["name"], trace=1):
                self.check(w["name"], 1, layers)

    def test_refuses_without_engine_sources(self):
        # what git tracks: no build output, scratch data or sbt metadata
        def untracked(d, names):
            return [n for n in names if n in ("target", "work")
                    or (n == "project" and os.path.basename(d) == "project")]
        os.makedirs(os.path.join(BENCH, "work"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(BENCH, "work"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p), ignore=untracked)
            code, lines = run(d, SPEC["workloads"][0]["name"], 0)
            self.assertNotEqual(code, 0)
            self.assertFalse(lines and lines[-1].startswith("{"))
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(unittest.main())
