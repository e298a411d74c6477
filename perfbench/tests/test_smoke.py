#!/usr/bin/env python3
"""Smoke test of the benchmark on the sf0.001 corpus.

Usage (from the repository root; takes several minutes):

    python3 -m unittest perfbench/tests/test_smoke.py

Runs every workload for one second, untraced and traced, and checks
that each prints every metric BENCHMARK.json names for that mode, with
its unit, and no failed op. Then runs one workload against a tampered
reference digest and checks that the mismatch turns into failed ops and
a non-zero exit.
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run as bench  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
CORPUS = os.path.join(bench.TESTDATA, "sf0.001")
REFERENCE = os.path.join(BENCH, "reference", "sf0.001.json")


def run(workload, trace, reference=REFERENCE):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--corpus", CORPUS, "--reference", reference],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class SmokeTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_every_metric_with_its_unit(self):
        for w in (x["name"] for x in self.spec["workloads"]):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    rc, res, err = run(w, trace)
                    self.assertEqual(rc, 0, err[-3000:])
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in self.spec[key]}
                    got = {n: m["unit"] for n, m in res["metrics"].items()}
                    self.assertEqual(got, want)
                    for n, m in res["metrics"].items():
                        self.assertIsInstance(m["value"], (int, float), n)

    def test_tampered_digest_fails_ops(self):
        with open(REFERENCE) as f:
            ref = json.load(f)
        rows, lo, hi = ref["digests"]["q01_agg_filter"].split(":")
        ref["digests"]["q01_agg_filter"] = f"{rows}:{int(lo) + 1}:{hi}"
        os.makedirs(os.path.join(BENCH, "runs"), exist_ok=True)
        tampered = os.path.join(BENCH, "runs", "tampered-reference.json")
        with open(tampered, "w") as f:
            json.dump(ref, f)
        try:
            rc, res, err = run("bi_short", 0, tampered)
        finally:
            os.remove(tampered)
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn("q01_agg_filter: digest", err)


if __name__ == "__main__":
    unittest.main()
