"""The generator is a pure function of (workload, seed).

    python3 -m unittest discover -s perfbench/tests -p 'test_gen.py'
"""
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(BENCH), ".bench_build")


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.WORKLOADS:
            with tempfile.TemporaryDirectory(dir=SCRATCH) as a, \
                    tempfile.TemporaryDirectory(dir=SCRATCH) as b:
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                self.assertEqual(files(a), files(b), w)
                for f in files(a):
                    with open(os.path.join(a, f), "rb") as x, open(os.path.join(b, f), "rb") as y:
                        self.assertEqual(x.read(), y.read(), f"{w}: {f}")

    def test_other_seed_gives_other_ops(self):
        for w in gen.WORKLOADS:
            with tempfile.TemporaryDirectory(dir=SCRATCH) as a, \
                    tempfile.TemporaryDirectory(dir=SCRATCH) as b:
                with open(gen.generate(w, 7, a)) as x, open(gen.generate(w, 8, b)) as y:
                    self.assertNotEqual(x.read(), y.read(), w)


if __name__ == "__main__":
    unittest.main()
