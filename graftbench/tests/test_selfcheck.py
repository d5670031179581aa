"""Self-check of the benchmark at sf0.001 (a few minutes; builds on first use).

    python3 -m unittest discover -s graftbench/tests -v

For every workload: an untraced run prints every end-to-end metric of
BENCHMARK.json and the workload's named figures; a traced run with
--corrupt prints every per-layer metric, and its corrupted output is
caught: correct=false, failed > 0, failed_ratio > 0, exit code 1.
"""
import json
import math
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAMED = {
    "crunch_reference": ["crunch_total_s", "queries_per_s"],
    "serve_mixed": ["read_p50_s", "read_p90_s", "poll_p50_s", "poll_p90_s",
                    "write_p50_s", "write_p90_s", "serve_ops_per_s",
                    "fold_rows_per_s", "fold_batch_p50_s", "fold_batch_p90_s", "store_mb"],
}


def run(workload, *extra):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", "3", "--seconds", "5", "--sf", "0.001", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, json.loads(lines[-1])


class SelfCheck(unittest.TestCase):
    def check_metrics(self, result, specs):
        self.assertEqual(set(result["metrics"]), {m["name"] for m in specs})
        for m in specs:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])

    def test_workloads(self):
        for w in SPEC["workloads"]:
            name = w["name"]
            with self.subTest(workload=name, trace=0):
                rc, lines, result = run(name, "--trace", "0")
                self.assertEqual(rc, 0, "\n".join(lines[-20:]))
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.check_metrics(result, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])
                printed = {l.split()[0] for l in lines[:-1] if l.startswith("  ")}
                for m in NAMED[name] + ["failed_ratio"]:
                    self.assertIn(m, printed)
            with self.subTest(workload=name, trace=1, corrupt=True):
                rc, lines, result = run(name, "--trace", "1", "--corrupt")
                self.assertEqual(rc, 1)
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)
                ratio = [l.split()[1] for l in lines if l.startswith("  failed_ratio")]
                self.assertGreater(float(ratio[0]), 0)
                self.check_metrics(result, SPEC["per_layer"])


if __name__ == "__main__":
    unittest.main()
