"""The generated inputs are a pure function of the seed."""

import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import run      # noqa: E402


def files(d):
    return sorted(f for f in os.listdir(d))


class SeedTest(unittest.TestCase):
    def generate(self, fn, seed, *args):
        d = tempfile.mkdtemp(dir=self.tmp)
        return d, fn(d, seed, *args)

    def setUp(self):
        self._tmp = tempfile.TemporaryDirectory()
        self.tmp = self._tmp.name

    def tearDown(self):
        self._tmp.cleanup()

    def assertDifferentInputs(self, a, b, suffix):
        inputs = [f for f in files(a) if f.endswith(suffix)]
        self.assertTrue(inputs)
        self.assertTrue(any(not filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                            for f in inputs))

    def test_incremental(self):
        a, truth = self.generate(datagen.incremental, 7, 3, 120)
        b, _ = self.generate(datagen.incremental, 7, 3, 120)
        c, _ = self.generate(datagen.incremental, 8, 3, 120)
        # truth.json embeds the output paths; compare the deliveries byte for byte
        for f in files(a):
            if f != "truth.json":
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False))
        self.assertDifferentInputs(a, c, ".jsonl")
        planted = [d["planted"] for d in truth["warm"] + truth["deliveries"]]
        for kind in ("exact_within", "exact_history", "near_within", "near_history"):
            self.assertGreater(sum(p[kind] for p in planted), 0, kind)
        self.assertTrue(all(d["redelivered_shard"] for d in truth["deliveries"]))

    def test_finance(self):
        a, truth = self.generate(datagen.finance, 7, 3, 3, 10, 10)
        b, _ = self.generate(datagen.finance, 7, 3, 3, 10, 10)
        c, _ = self.generate(datagen.finance, 8, 3, 3, 10, 10)
        for f in files(a):
            if f != "truth.json":
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False))
        self.assertDifferentInputs(a, c, ".json")
        self.assertTrue(all(d["revised"] for d in truth["deliveries"]))

    def test_query_sample(self):
        suite = run.load_suite()
        a = run.sample_queries(suite, 7, 10)
        self.assertEqual(a, run.sample_queries(suite, 7, 10))
        # the seed sets the order only; the set is fixed
        b = run.sample_queries(suite, 8, 10)
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a), sorted(b))
        self.assertTrue(all(suite["queries"][q]["eligible"] for q in a))
        # at least two sampled queries share a memo frame: one builds, one reads
        frames = [f for q in a for f in suite["queries"][q]["memo"]]
        self.assertTrue(any(frames.count(f) > 1 for f in frames))


if __name__ == "__main__":
    unittest.main()
