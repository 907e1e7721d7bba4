"""Determinism and shape tests for the input generators.

Run from the repository root:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

import gen
from run import tree_digest


class GeneratorTest(unittest.TestCase):

    def generate(self, workload, seed):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        return gen.generate(workload, seed, d), tree_digest(d)

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_gives_identical_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(self.generate(w, 7), self.generate(w, 7))

    def test_other_seed_gives_other_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                self.assertNotEqual(self.generate(w, 7)[1], self.generate(w, 8)[1])

    def test_bfs_depth_is_fixed_by_construction(self):
        for seed in (1, 2, 3):
            props, _ = self.generate("bfs_flagship", seed)
            self.assertEqual(props["reached"], props["vertices"])
            self.assertEqual(props["ecc_source"], len(gen.flagship_levels()) - 1)

    def test_graph_rounds_are_pinned(self):
        for seed in (1, 2, 3):
            d = tempfile.mkdtemp(dir=self.tmp.name)
            gen.generate("graph_and_sql", seed, d)
            t = pq.read_table(os.path.join(d, "edges.parquet"))
            s, t2 = gen._undirected_unique(t["src"].to_numpy(), t["dst"].to_numpy())
            src, dst = np.concatenate([s, t2]), np.concatenate([t2, s])
            self.assertEqual(gen.cc_rounds(src, dst, 1 << gen.RMAT["scale"]),
                             gen.RMAT["cc_rounds"])
            self.assertEqual(gen.kcore_rounds(src, dst, gen.RMAT["k"]),
                             gen.RMAT["kcore_rounds"])


if __name__ == "__main__":
    unittest.main()
