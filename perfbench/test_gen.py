"""Input generation is a pure function of the seed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import filecmp
import json
import os
import shutil
import tempfile
import unittest

import pyarrow.parquet as pq

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class SeededInputs(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="test-gen-", dir=os.path.join(ROOT, ".bench_work"))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def make(self, workload, seed, name):
        out = os.path.join(self.dir, name)
        if workload == "catalog":
            gen.catalog(out)
        else:
            gen.generate(workload, out, seed)
        return out

    def assertSameFiles(self, a, b):
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_one_seed_gives_byte_identical_inputs(self):
        for w in ("catalog", "corpus_dedup", "migrate_ticks"):
            with self.subTest(workload=w):
                self.assertSameFiles(self.make(w, 7, f"{w}-a"), self.make(w, 7, f"{w}-b"))

    def test_another_seed_gives_other_inputs(self):
        for w in ("corpus_dedup", "migrate_ticks"):
            with self.subTest(workload=w):
                a, b = self.make(w, 7, f"{w}-a"), self.make(w, 8, f"{w}-b")
                names = sorted(n for n in os.listdir(a) if n.endswith(".parquet"))
                _, mismatch, _ = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual(mismatch, names)

    def test_stated_shares(self):
        out = self.make("corpus_dedup", 3, "corpus")
        docs = pq.read_table(f"{out}/documents.parquet").to_pydict()
        emb = pq.read_table(f"{out}/embeddings.parquet").to_pydict()
        n = gen.CORPUS_BASE * gen.CORPUS_AMPLIFY
        self.assertEqual(sorted(docs["doc_id"]), list(range(n)))
        self.assertEqual(sorted(emb["vec_id"]), list(range(n)))
        dups = sum(t.endswith(" dup") for t in docs["text"])
        self.assertEqual(dups, (gen.CORPUS_AMPLIFY - 1) *
                         round(gen.CORPUS_BASE * gen.CORPUS_DUP_SHARE))

        out = self.make("migrate_ticks", 3, "migrate")
        with open(f"{out}/manifest.json") as fh:
            manifest = json.load(fh)
        for t, dirty in enumerate(manifest["dirty"]):
            rows = pq.read_table(f"{out}/tick{t}.parquet").to_pydict()
            n = len(rows["event_id"])
            bad = sum(not e.isdigit() or ts.startswith("2024-13") or et == "unknown"
                      for e, ts, et in zip(rows["event_id"], rows["ts"], rows["event_type"]))
            self.assertEqual(bad, dirty)
            self.assertEqual(dirty, int(n * gen.DIRTY_SHARE))


if __name__ == "__main__":
    unittest.main()
