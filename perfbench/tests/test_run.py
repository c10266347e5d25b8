"""Benchmark self-test: each workload at a tiny size.

    python3 -m unittest discover -s perfbench/tests -v

Asserts that every BENCHMARK.json metric is printed with its unit, that the
traced counts repeat exactly across two runs, that the named layers account
for at least 95% of traced task CPU, and that an injected wrong output raises
the failed count. Needs the same toolchain as perfbench/run.py (sbt, a JDK,
python duckdb); takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = {"PERFBENCH_DOCS": "20000", "PERFBENCH_PARTS": "8"}
# Layers each workload calls in its traced pass.
CALLED = {
    "engine-full": ["scan", "rules.annotate", "rules.violations", "engine.uniq",
                    "engine.ri", "engine.run", "engine.verdict",
                    # sweep modules, one query each
                    "core", "clean", "text", "dedup", "sample", "stats", "sim",
                    "semantic", "multimodal"],
    "engine-resume": ["scan", "rules.annotate", "rules.violations", "engine.uniq",
                      "engine.ri", "engine.attempt", "engine.ledger",
                      "engine.resume", "stats.drift"],
}
# Counts that must repeat exactly between two runs of the same seed.
# (timed_legs is a sample count: it follows the machine's speed.)
COUNTS = [m["name"] for m in SPEC["per_layer"]
          if (m["unit"] == "count" and m["name"] != "timed_legs")
          or m["name"].endswith("skipped_share")]


def bench(workload, trace, seed=7, **env):
    p = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env=dict(os.environ, **TINY, **env), capture_output=True,
        text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}: {p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class BenchmarkTest(unittest.TestCase):
    def check_metrics(self, out, kind):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        for m in SPEC[kind]:
            self.assertIn(m["name"], out["metrics"])
            self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(out["metrics"][m["name"]]["value"], (int, float))

    def test_end_to_end_metrics(self):
        for w in CALLED:
            with self.subTest(workload=w):
                out = bench(w, 0)
                self.check_metrics(out, "end_to_end")
                self.assertTrue(out["correct"])
                self.assertEqual(out["failed"], 0)
                self.assertGreater(out["metrics"]["wall_s"]["value"], 0)

    def test_traced_layers_and_counts(self):
        for w, layers in CALLED.items():
            with self.subTest(workload=w):
                a, b = bench(w, 1), bench(w, 1)
                for out in (a, b):
                    self.check_metrics(out, "per_layer")
                    self.assertTrue(out["correct"])
                    self.assertEqual(out["metrics"]["failed_ops_share"]["value"], 0)
                    self.assertGreaterEqual(
                        out["metrics"]["trace.cpu_attributed_share"]["value"], 0.95)
                    for layer in layers:
                        self.assertGreater(out["metrics"][f"{layer}.jobs"]["value"], 0, layer)
                for name in COUNTS:
                    self.assertEqual(a["metrics"][name]["value"],
                                     b["metrics"][name]["value"], name)
                if w == "engine-full":
                    self.assertEqual(a["metrics"]["engine.run.docs_scans"]["value"], 1)
                else:
                    self.assertEqual(a["metrics"]["engine.resume.skipped_share"]["value"], 0.5)

    def test_injected_wrong_output_is_counted(self):
        for w in CALLED:
            with self.subTest(workload=w):
                out = bench(w, 1, PERFBENCH_INJECT_FAULT="1")
                self.assertFalse(out["correct"])
                self.assertGreater(out["failed"], 0)
                self.assertGreater(out["metrics"]["failed_ops_share"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
