"""Smoke test of the benchmark command at a tiny size.

    python3 -m unittest perfbench/test_smoke.py

Run from the repository root. Each case launches `perfbench/run.py` with
`--tiny` (a few small triggers, one catalog pass at sf0.001) and reads
the last line of its standard output.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace, *extra):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--tiny", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None


class SmokeTest(unittest.TestCase):
    def check_metrics(self, result, specs):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(result["metrics"]), {m["name"] for m in specs})
        for m in specs:
            printed = result["metrics"][m["name"]]
            self.assertEqual(printed["unit"], m["unit"], m["name"])
            self.assertIsInstance(printed["value"], (int, float), m["name"])

    def test_every_metric_prints_with_its_unit(self):
        for w in SPEC["workloads"]:
            for trace, specs in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    code, result = run(w["name"], trace)
                    self.assertEqual(code, 0)
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    self.check_metrics(result, specs)
                    if trace == 0:
                        for m in specs:
                            self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

    def test_corrupted_expected_value_fails_the_run(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                code, result = run(w["name"], 0, "--corrupt-expected")
                self.assertNotEqual(code, 0)
                self.assertFalse(result["correct"])
                self.assertGreaterEqual(result["failed"], 1)


if __name__ == "__main__":
    unittest.main()
