"""Properties of the seeded scale generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import collections
import os
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

import gen

COPIES = 3


class ScaleGeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.base = os.path.join(cls.tmp.name, "base")
        cls.scaled = os.path.join(cls.tmp.name, "scaled")
        gen.base(0.001, cls.base)
        gen.scale(cls.base, COPIES, 7, cls.scaled)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def read(self, d, name):
        return pq.read_table(os.path.join(d, f"{name}.parquet")).to_pydict()

    def copies_of(self, rows, key, offset):
        return [[i for i, k in enumerate(rows[key]) if k // offset == c] for c in range(COPIES)]

    def test_row_counts_are_copies_times_base(self):
        for name in gen.TABLES:
            base = pq.read_metadata(os.path.join(self.base, f"{name}.parquet")).num_rows
            scaled = pq.read_metadata(os.path.join(self.scaled, f"{name}.parquet")).num_rows
            grows = name in ("documents", "embeddings", "events", "orders", "lineitem")
            self.assertEqual(scaled, base * COPIES if grows else base, name)

    def test_ids_are_unique_across_copies(self):
        for name, key in [("documents", "doc_id"), ("embeddings", "vec_id"),
                          ("events", "event_id"), ("orders", "o_orderkey")]:
            ids = self.read(self.scaled, name)[key]
            self.assertEqual(len(set(ids)), len(ids), name)

    def test_no_text_repeats_across_copies(self):
        docs = self.read(self.scaled, "documents")
        per_copy = [set(docs["text"][i] for i in idx)
                    for idx in self.copies_of(docs, "doc_id", 1_000_000)]
        for a in range(COPIES):
            for b in range(a + 1, COPIES):
                self.assertFalse(per_copy[a] & per_copy[b], (a, b))

    def test_within_copy_duplicates_are_preserved(self):
        base = collections.Counter(self.read(self.base, "documents")["text"])
        want = sorted(base.values())
        self.assertGreater(max(want), 1, "the base input plants exact duplicates")
        docs = self.read(self.scaled, "documents")
        for c, idx in enumerate(self.copies_of(docs, "doc_id", 1_000_000)):
            got = sorted(collections.Counter(docs["text"][i] for i in idx).values())
            self.assertEqual(got, want, c)

    def test_copy_zero_is_the_base(self):
        base = self.read(self.base, "documents")["text"]
        self.assertEqual(self.read(self.scaled, "documents")["text"][:len(base)], base)

    def test_embedding_copies_are_isometries(self):
        emb = self.read(self.scaled, "embeddings")
        x = np.array(emb["embedding"], dtype=np.float64)
        idx = self.copies_of(emb, "vec_id", 1_000_000)
        gram = x[idx[0]] @ x[idx[0]].T
        for c in range(1, COPIES):
            self.assertTrue(np.allclose(x[idx[c]] @ x[idx[c]].T, gram, atol=1e-6), c)
            self.assertFalse(np.allclose(x[idx[c]], x[idx[0]]), c)

    def test_same_seed_same_corpus(self):
        again = os.path.join(self.tmp.name, "again")
        other = os.path.join(self.tmp.name, "other")
        gen.scale(self.base, COPIES, 7, again)
        gen.scale(self.base, COPIES, 8, other)
        texts = lambda d: self.read(d, "documents")["text"]
        self.assertEqual(texts(again), texts(self.scaled))
        self.assertNotEqual(texts(other), texts(self.scaled))


if __name__ == "__main__":
    unittest.main()
