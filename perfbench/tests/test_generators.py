"""Tests of the seeded input generators.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_cmapss  # noqa: E402
import gen_corpus  # noqa: E402
import gen_warehouse  # noqa: E402


def same_tree(a, b):
    c = filecmp.dircmp(a, b)
    if c.left_only or c.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, c.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, s), os.path.join(b, s)) for s in c.common_dirs)


class CmapssGeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dir = os.path.join(cls.tmp.name, "a")
        cls.info = gen_cmapss.build(cls.dir, 5, units=6)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_26_positional_columns(self):
        for d in gen_cmapss.DATASETS:
            for kind in ("train", "test"):
                with open(os.path.join(self.dir, f"{kind}_{d}.txt")) as f:
                    widths = {len(line.split()) for line in f}
                self.assertEqual(widths, {26}, f"{kind}_{d}")

    def test_constant_sensors_are_exactly_the_generated_ones(self):
        for d in gen_cmapss.DATASETS:
            a = np.loadtxt(os.path.join(self.dir, f"train_{d}.txt"))
            varying = [j for j in range(1, 22) if len(np.unique(a[:, 4 + j])) > 1]
            self.assertEqual(varying, gen_cmapss.variable_sensors(), d)
        self.assertEqual(len(gen_cmapss.CONSTANT_SENSORS), 6)

    def test_units_run_to_failure_and_rul_files(self):
        for d in gen_cmapss.DATASETS:
            a = np.loadtxt(os.path.join(self.dir, f"train_{d}.txt"))
            t = np.loadtxt(os.path.join(self.dir, f"test_{d}.txt"))
            rul = np.loadtxt(os.path.join(self.dir, f"RUL_{d}.txt"))
            self.assertEqual(len(rul), 6)
            for u in range(1, 7):
                cyc = a[a[:, 0] == u, 1]
                self.assertTrue((cyc == np.arange(1, len(cyc) + 1)).all())
                self.assertTrue(gen_cmapss.LIFE_RANGE[0] <= len(cyc) <= gen_cmapss.LIFE_RANGE[1])
                # the test trajectory stops rul cycles before failure
                self.assertEqual(len(t[t[:, 0] == u]) + rul[u - 1], len(cyc))

    def test_same_seed_gives_byte_identical_files(self):
        other = os.path.join(self.tmp.name, "b")
        gen_cmapss.build(other, 5, units=6)
        self.assertTrue(same_tree(self.dir, other))
        third = os.path.join(self.tmp.name, "c")
        gen_cmapss.build(third, 6, units=6)
        self.assertFalse(same_tree(self.dir, third))


class CorpusBuilderTest(unittest.TestCase):

    def test_deterministic_and_measured_shares(self):
        with tempfile.TemporaryDirectory() as tmp:
            a = gen_corpus.build(os.path.join(tmp, "a"), 3, 400)
            b = gen_corpus.build(os.path.join(tmp, "b"), 3, 400)
            self.assertTrue(same_tree(os.path.join(tmp, "a"), os.path.join(tmp, "b")))
            self.assertEqual(a, b)
            docs = duckdb.sql(
                f"SELECT doc_id, text FROM read_parquet('{tmp}/a/drops/*.parquet') "
                "ORDER BY doc_id").fetchall()
            self.assertEqual(len(docs), a["docs"])
            texts = [t for _, t in docs]
            # the recorded shares are those of the written corpus
            self.assertEqual(a["measured"], gen_corpus.measured_shares(texts))
            exact = a["measured"]["exact_dup_share"] * len(texts)
            self.assertAlmostEqual(exact, len(a["injected_exact_ids"]))
            by_id = dict(docs)
            first = {}
            for i, t in docs:
                first.setdefault(t, i)
            for i in a["injected_exact_ids"]:
                self.assertLess(first[by_id[i]], i)
            jsonl = duckdb.sql(
                f"SELECT count(*) FROM read_json_auto('{tmp}/a/jsonl/*.json.gz')").fetchone()[0]
            self.assertEqual(jsonl, a["docs"])

    def test_drops_ascend_in_doc_id_and_mtime(self):
        with tempfile.TemporaryDirectory() as tmp:
            gen_corpus.build(tmp, 4, 300)
            drops = sorted(os.listdir(os.path.join(tmp, "drops")))
            mtimes = [os.path.getmtime(os.path.join(tmp, "drops", f)) for f in drops]
            self.assertEqual(mtimes, sorted(mtimes))
            ranges = [duckdb.sql(f"SELECT min(doc_id), max(doc_id) FROM "
                                 f"'{tmp}/drops/{f}'").fetchone() for f in drops]
            for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
                self.assertLess(hi, lo)


class WarehouseGeneratorTest(unittest.TestCase):

    def test_deterministic_contract_columns(self):
        with tempfile.TemporaryDirectory() as tmp:
            gen_warehouse.build(os.path.join(tmp, "a"), 9, 0.0005)
            gen_warehouse.build(os.path.join(tmp, "b"), 9, 0.0005)
            self.assertTrue(same_tree(os.path.join(tmp, "a"), os.path.join(tmp, "b")))
            cols = duckdb.sql(f"DESCRIBE SELECT * FROM '{tmp}/a/lineitem.parquet'").fetchall()
            self.assertEqual([c[0] for c in cols][:4],
                             ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"])
            n = duckdb.sql(f"SELECT count(*), count(*) FILTER (WHERE text LIKE '% dup') "
                           f"FROM '{tmp}/a/documents.parquet'").fetchone()
            self.assertEqual(n, (500, 25))

    def test_distinct_documents_have_no_equal_texts(self):
        rng = np.random.default_rng(4)
        texts = gen_warehouse.documents(rng, 2000, distinct=True)["text"]
        self.assertEqual(len(set(texts)), len(texts))
        self.assertEqual(sum(t.endswith(" dup") for t in texts), 100)


if __name__ == "__main__":
    unittest.main()
