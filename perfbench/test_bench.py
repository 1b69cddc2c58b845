"""The benchmark's own tests: `python3 perfbench/test_bench.py` (about seven
minutes on a 4-core box; every run is a short one).

- every workload, untraced and traced, emits exactly the metrics
  BENCHMARK.json declares, with their units, and passes its checks;
- a corrupted output is caught: the run reports correct = false;
- the store dashboard_reads generates has the layout and schema of the
  store the quote stream writes;
- without the engine sources the benchmark fails without a result.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402
import run  # noqa: E402


def bench(*args):
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True)
    return r.returncode, r.stdout.strip().splitlines(), r.stderr


class BenchTest(unittest.TestCase):
    maxDiff = None

    def result(self, workload, trace, seed="1", seconds="3", extra=()):
        code, out, err = bench("--workload", workload, "--seed", seed, "--seconds", seconds,
                               "--trace", trace, *extra)
        self.assertEqual(code, 0, err[-3000:])
        res = json.loads(out[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        return res

    def test_every_declared_metric_with_its_unit(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        for w in run.WORKLOADS:
            for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    res = self.result(w, trace)
                    self.assertTrue(res["correct"], res)
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in spec[key]}
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, want)
                    for k, v in res["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)

    def test_corrupted_output_fails(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                res = self.result(w, "0", extra=("--corrupt", "1"))
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)

    def test_generated_store_matches_stream_layout(self):
        code, out, err = bench("--workload", "dashboard_reads", "--seed", "5", "--seconds", "1",
                               "--trace", "0", "--selftest", "layout")
        self.assertEqual(code, 0, err[-3000:])
        res = json.loads(out[-1])
        self.assertTrue(res["same_layout"], res)
        self.assertTrue(res["same_schema"], res)
        self.assertTrue(res["same_rows"], res)
        self.assertGreaterEqual(res["dirs"], 3)

    def test_fails_without_engine_sources(self):
        alone = build.build_dir() / "alone"
        shutil.rmtree(alone, ignore_errors=True)
        shutil.copytree(BENCH, alone / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", alone)
        try:
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tick_live",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=alone, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)
        finally:
            shutil.rmtree(alone, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
