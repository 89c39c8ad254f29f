#!/usr/bin/env python3
"""The benchmark's own test, on tiny inputs (sf0.001, generated sizes at
about 1/100).

Run from the repository root:
    python3 perfbench/test_perfbench.py

For every workload in BENCHMARK.json it checks that a traced smoke run
reports every end-to-end and per-layer metric with its declared unit and
fails no check, and that a run whose expected values are corrupted on
purpose reports the failure.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, *extra, trace=1):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=900)
    lines = res.stdout.decode().splitlines()
    if res.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload}: exit {res.returncode}\n{res.stderr.decode()[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def test_every_metric_reported_and_no_check_fails(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                full, last = run(w["name"])
                self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(last["correct"], full["errors"])
                self.assertEqual(last["failed"], 0)
                self.assertGreater(last["attempted"], 0)
                self.assertEqual(full["fail_ratio"]["value"], 0.0)
                for section, metrics in (("end_to_end", SPEC["end_to_end"]),
                                         ("per_layer", SPEC["per_layer"])):
                    for m in metrics:
                        got = full[section].get(m["name"])
                        self.assertIsNotNone(got, f"{section} {m['name']} missing")
                        self.assertEqual(got["unit"], m["unit"], m["name"])
                        self.assertIsInstance(got["value"], (int, float), m["name"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(full["end_to_end"][m["name"]]["value"], 0, m["name"])
                self.assertEqual(set(last["metrics"]), {m["name"] for m in SPEC["per_layer"]})
                for key in ("cpus", "java", "spark", "commit", "loadavg_start", "loadavg_end", "steal_s"):
                    self.assertIn(key, full["env"])

    def test_corrupted_expected_value_fails_the_check(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                full, last = run(w["name"], "--corrupt", trace=0)
                self.assertFalse(last["correct"])
                self.assertGreater(last["failed"], 0)
                self.assertTrue(full["errors"])


if __name__ == "__main__":
    unittest.main()
