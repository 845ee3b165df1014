"""End-to-end self-tests of the benchmark's checks (each builds once and
starts a JVM per workload, a few minutes in all).

    python3 -m unittest discover -s perfbench/tests -p 'test_selftest.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


class SelfTest(unittest.TestCase):
    def test_planted_wrong_answer_counts_as_failed(self):
        # each check that the planted errors must trip, by its failure message
        checks = {
            "dialect_select": ["differs from Spark SQL reference"],
            "persist_find": ["final store has"],
            "stream_tail": ["select stream: 1 of", "process stream: 1 of"],
            "pipeline_ops": ["result hash differs from the DuckDB oracle",
                             "result differs from the checked warm-up result"],
        }
        for w, msgs in checks.items():
            p = run("--workload", w, "--seed", "3", "--seconds", "2", "--trace", "0",
                    "--plant-wrong")
            self.assertEqual(p.returncode, 0, p.stderr[-2000:])
            r = json.loads(p.stdout.strip().splitlines()[-1])
            self.assertFalse(r["correct"], w)
            self.assertGreater(r["failed"], 0, w)
            for m in msgs:
                self.assertIn(m, p.stdout, w)

    def test_refuses_to_run_without_the_engine_sources(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = run("--workload", "dialect_select", "--seed", "1", "--seconds", "1",
                    "--trace", "0", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
