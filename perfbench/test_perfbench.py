"""Fast self-tests of the benchmark (tiny smoke mode, a few minutes):

    python3 perfbench/test_perfbench.py

- every workload runs in --smoke mode, answers correctly and prints every
  end-to-end metric (and, traced, every per-layer metric) named in
  BENCHMARK.json;
- --plant corrupts one expected answer, and the run must then fail;
- without graft's sources next to it the benchmark must fail fast,
  printing no result.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = ("lake_read", "lake_mixed", "corpus_build", "stream_ingest")


def run(workload, *extra, cwd=ROOT, trace=0):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "2", "--trace", str(trace), *extra],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=300)
    lines = r.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return r.returncode, result, r.stdout + r.stderr[-3000:]


class Smoke(unittest.TestCase):
    def check_result(self, res, names):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(res["metrics"]), names)
        for m in BENCH["end_to_end"] + BENCH["per_layer"]:
            if m["name"] in res["metrics"]:
                self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])

    def test_workloads_smoke(self):
        e2e = [m["name"] for m in BENCH["end_to_end"]]
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, res, out = run(w, "--smoke")
                self.assertEqual(code, 0, out)
                self.assertTrue(res["correct"], out)
                self.assertEqual(res["failed"], 0, out)
                self.check_result(res, e2e)
                for name in e2e:
                    self.assertGreater(res["metrics"][name]["value"], 0, f"{w} {name}\n{out}")

    def test_traced_smoke(self):
        code, res, out = run("stream_ingest", "--smoke", trace=1)
        self.assertEqual(code, 0, out)
        self.check_result(res, [m["name"] for m in BENCH["per_layer"]])
        self.assertGreater(res["metrics"]["stream.jobs_per_batch"]["value"], 0, out)

    def test_plant_fails(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, res, out = run(w, "--smoke", "--plant")
                self.assertNotEqual(code, 0, out)
                self.assertFalse(res["correct"], out)
                self.assertGreater(res["failed"], 0, out)

    def test_fails_without_sources(self):
        bare = ROOT / ".bench_work" / "bare-checkout"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            shutil.copytree(BENCH_DIR, bare / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, res, out = run("lake_read", cwd=bare)
            self.assertNotEqual(code, 0, out)
            self.assertIsNone(res, out)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
