#!/usr/bin/env python3
"""Self-tests of the benchmark.

Run from the root of a checkout:

    python3 spinebench/test_run.py

The Python cases check the percentile helper and that `BENCHMARK.json`
names exactly the metrics `run.py` prints. The last case builds the
program and the harness (as `run.py` does) and runs `spinebench.SelfTest`:
seeded inputs are byte-identical per seed, and each output check fails on
a planted fault.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_no_tail_below_ten_samples_beyond(self):
        self.assertIsNone(run.tail_percentile(range(1, 51)))  # 5 samples above p90

    def test_p90_with_ten_beyond(self):
        q, value = run.tail_percentile(range(1, 101))
        self.assertEqual(q, 90)
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_p95_needs_ten_beyond(self):
        self.assertEqual(run.tail_percentile(range(1, 150))[0], 90)  # 8 samples above p95
        self.assertEqual(run.tail_percentile(range(1, 201))[0], 95)

    def test_highest_quantile_wins(self):
        samples = list(range(1, 1001))
        q, value = run.tail_percentile(samples)
        self.assertEqual(q, 99)
        self.assertGreaterEqual(sum(1 for x in samples if x > value), 10)

    def test_every_reported_tail_has_ten_beyond(self):
        for n in range(2, 400, 7):
            samples = [((i * 7919) % 1009) / 3.0 for i in range(n)]
            tail = run.tail_percentile(samples)
            if tail is not None:
                self.assertGreaterEqual(sum(1 for x in samples if x > tail[1]), 10, n)
            else:
                self.assertLess(n, 99)


class BenchmarkFile(unittest.TestCase):
    def test_metrics_match_benchmark_json(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual(tuple(w["name"] for w in spec["workloads"]), run.WORKLOADS)


class Harness(unittest.TestCase):
    def test_selftest(self):
        run.build()
        work = run.BUILD / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        try:
            proc = subprocess.run(run.java_command("spinebench.SelfTest", [str(work)], work),
                                  cwd=work, env=run.jvm_env(), capture_output=True, text=True, timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(proc.stdout)
        self.assertEqual(proc.returncode, 0, proc.stdout + proc.stderr[-3000:])
        self.assertIn("selftest ok", proc.stdout)


if __name__ == "__main__":
    unittest.main()
