"""The seeded generator: the same seed gives byte-identical inputs, another
seed gives other inputs, and what the manifest says was planted is there."""

import csv
import hashlib
import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def digest(d):
    h = {}
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n), "rb") as f:
            h[n] = hashlib.sha256(f.read()).hexdigest()
    return h


def lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j - 1] + (ca != cb), prev[j] + 1, cur[j - 1] + 1))
        prev = cur
    return prev[-1]


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, workload, seed, name):
        """Generate into a fresh directory; return it and the manifest."""
        out = os.path.join(self.tmp.name, name)
        return out, gen.generate(workload, seed, out)

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a = digest(self.gen(w, 11, w + "-a")[0])
                b = digest(self.gen(w, 11, w + "-b")[0])
                self.assertEqual(a, b)
                c = digest(self.gen(w, 12, w + "-c")[0])
                self.assertNotEqual(a, c)

    def test_typo_stays_within_its_edit_count(self):
        rng = random.Random(3)
        for _ in range(500):
            name = gen.company_name(rng)
            edits = rng.randint(1, 2)
            self.assertLessEqual(lev(name, gen.typo(rng, name, edits)), edits)

    def test_fuzzy_variants_are_within_k_of_their_canonical_record(self):
        d, m = self.gen("fuzzy_link", 5, "fuzzy")
        with open(os.path.join(d, "counterparty.csv")) as f:
            names = {int(r["id"]): r["name"] for r in csv.DictReader(f)}
        self.assertEqual(len(names), m["rows"])
        self.assertEqual(len(m["variants"]), m["exact_copies"] + m["typo_variants"])
        for v, c in m["variants"]:
            self.assertLessEqual(lev(names[v], names[c]), m["max_dist"])
        for k, planted in enumerate(m["slice_variants"], 1):
            with open(os.path.join(d, "slice_%d.csv" % k)) as f:
                sl = {int(r["id"]): r["name"] for r in csv.DictReader(f)}
            self.assertTrue(set(sl).isdisjoint(names))
            for v, c in planted:
                self.assertLessEqual(lev(sl[v], names[c]), m["max_dist"])

    def test_ann_vectors_have_the_stated_shape(self):
        d, m = self.gen("ann_serve", 5, "ann")
        with open(os.path.join(d, "embeddings.csv")) as f:
            rows = list(csv.DictReader(f))
        self.assertEqual(len(rows), m["corpus_vectors"] + m["append_slices"] * m["slice_vectors"])
        self.assertTrue(all(len(r["emb"].split(" ")) == m["dim"] for r in rows))
        self.assertEqual(sum(r["slice"] == "0" for r in rows), m["corpus_vectors"])


if __name__ == "__main__":
    unittest.main()
