"""Determinism self-check of the seeded input generator: the same seed
gives byte-identical statement text and batch rows, a different seed
gives different ones.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import datagen  # noqa: E402
import workloads  # noqa: E402


class Warehouse(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = os.path.join(cls.tmp.name, "data")
        datagen.write(cls.data)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def plan(self, workload, seed):
        return workloads.generate(workload, seed, 2, self.data, "/store", "/batches", 3)


class DeterminismTest(Warehouse):
    def test_same_seed_same_inputs(self):
        for w in workloads.WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(workloads.fingerprint(self.plan(w, 7)),
                                 workloads.fingerprint(self.plan(w, 7)))

    def test_other_seed_other_inputs(self):
        for w in workloads.WORKLOADS:
            with self.subTest(workload=w):
                a, b = self.plan(w, 7), self.plan(w, 8)
                self.assertNotEqual([o["sql"] for o in a["ops"]], [o["sql"] for o in b["ops"]])
                self.assertNotEqual(workloads.fingerprint(a), workloads.fingerprint(b))

    def test_batch_rows_follow_the_seed(self):
        a, b = self.plan("index-rag", 7), self.plan("index-rag", 8)
        for name in ("queries", "vec_batches", "doc_batches"):
            with self.subTest(batch=name):
                self.assertFalse(a["batches"][name].equals(b["batches"][name]))

    def test_every_round_has_the_same_mix(self):
        for w in workloads.WORKLOADS:
            with self.subTest(workload=w):
                p = self.plan(w, 7)
                n = p["round"]
                kinds = [sorted(o["kind"] for o in p["ops"][i:i + n])
                         for i in range(0, len(p["ops"]) - n + 1, n)]
                self.assertEqual(len(set(map(tuple, kinds))), 1)


if __name__ == "__main__":
    unittest.main()
