"""Each output check passes on a correct output and fails on a
deliberately corrupted one.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen_cmapss  # noqa: E402
import gen_warehouse  # noqa: E402


def failed(results):
    return [n for n, ok, _ in results if not ok]


class QueryMixCheckTest(unittest.TestCase):
    """checks.query_mix runs tools/check.py and reads its verdict per query."""

    SQL = ("SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty "
           "FROM lineitem GROUP BY l_returnflag")

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.wh = os.path.join(self.tmp, "wh")
        gen_warehouse.build(self.wh, 2, 0.0005)
        self.out = os.path.join(self.tmp, "out")
        os.makedirs(os.path.join(self.out, "q"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write(self, sql):
        duckdb.sql(sql.replace("lineitem", f"'{self.wh}/lineitem.parquet'")).write_parquet(
            os.path.join(self.out, "q", "part-0.parquet"))

    def test_correct_output_passes(self):
        self.write(self.SQL)
        self.assertEqual(failed(checks.query_mix(self.wh, self.out, {"q": self.SQL})), [])

    def test_wrong_value_fails(self):
        self.write(self.SQL.replace("sum(l_quantity)", "sum(l_quantity) + 1"))
        self.assertEqual(failed(checks.query_mix(self.wh, self.out, {"q": self.SQL})), ["q"])

    def test_missing_row_fails(self):
        self.write(self.SQL + " HAVING l_returnflag <> 'A'")
        self.assertEqual(failed(checks.query_mix(self.wh, self.out, {"q": self.SQL})), ["q"])

    def test_missing_output_fails(self):
        self.assertEqual(failed(checks.query_mix(self.wh, self.out, {"q": self.SQL})), ["q"])


class CmapssCheckTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.cm = os.path.join(self.tmp, "cmapss")
        self.gen = gen_cmapss.build(self.cm, 3, units=4)
        self.sensors = [f"sensor{j}" for j in gen_cmapss.variable_sensors()]
        self.wh = os.path.join(self.tmp, "wh")
        os.makedirs(self.wh)
        con = duckdb.connect()
        con.register("raw", checks._cmapss_raw(self.cm, self.gen["datasets"]))
        for name, sql in (("cycles_features", checks.features_sql(self.sensors)),
                          ("units_summary", checks.UNITS_SQL)):
            con.execute(f"COPY ({sql}) TO '{self.wh}/{name}' "
                        "(FORMAT parquet, PARTITION_BY (dataset))")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def run_check(self, sensors=None, rmse=None):
        return failed(checks.cmapss_etl(
            self.cm, self.wh, self.gen, sensors or self.sensors,
            self.gen["rmse_floor"] if rmse is None else rmse))

    def rewrite(self, name, sql):
        path = f"{self.wh}/{name}"
        df = checks._read_table(path)
        shutil.rmtree(path)
        con = duckdb.connect()
        con.register("t", df)
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet, PARTITION_BY (dataset))")

    def test_correct_output_passes(self):
        self.assertEqual(self.run_check(), [])

    def test_corrupted_feature_fails(self):
        self.rewrite("cycles_features", "SELECT * REPLACE (CASE WHEN time_cycles = 7 "
                     "THEN mean5_sensor2 * (1 + 1e-6) ELSE mean5_sensor2 END AS mean5_sensor2) FROM t")
        self.assertEqual(self.run_check(), ["cycles_features"])

    def test_dropped_unit_fails(self):
        self.rewrite("units_summary", "SELECT * FROM t WHERE unit_nr <> 2")
        self.assertEqual(self.run_check(), ["units_summary"])

    def test_wrong_sensor_set_fails(self):
        self.assertEqual(self.run_check(sensors=self.sensors + ["sensor1"]), ["variable_sensors"])

    def test_rmse_over_bound_fails(self):
        self.assertEqual(self.run_check(rmse=2 * self.gen["rmse_floor"]), ["test_rmse"])


class CorpusCheckTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        docs = ("SELECT range AS doc_id, 'text ' || range AS text FROM range({n}) "
                "WHERE range NOT IN ({skip})")
        tables = {
            "curated/documents.parquet": docs.format(n=20, skip="3"),
            "unique/documents.parquet": docs.format(n=20, skip="3, 17, 18"),
            "linededup/documents.parquet": docs.format(n=20, skip="3, 17, 18"),
            "splits/assignments.parquet": "SELECT range AS doc_id, 'train' AS split FROM range(9)",
            "screened/documents.parquet": docs.format(n=9, skip="3"),
            "packed/sequences.parquet": "SELECT range AS doc_id, 0 AS shard FROM range(8)",
        }
        for side in ("batch", "stream"):
            for t, sql in tables.items():
                d = os.path.join(self.tmp, side, t)
                os.makedirs(d)
                duckdb.sql(sql).write_parquet(os.path.join(d, "part-0.parquet"))
        self.injected = [17, 18, 25]  # 25 did not survive curation

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def run_check(self):
        return failed(checks.corpus_flow(os.path.join(self.tmp, "batch"),
                                         os.path.join(self.tmp, "stream"), self.injected))

    def test_correct_output_passes(self):
        self.assertEqual(self.run_check(), [])

    def test_stream_differs_from_batch_fails(self):
        d = os.path.join(self.tmp, "stream", "packed/sequences.parquet")
        duckdb.sql("SELECT range AS doc_id, 1 AS shard FROM range(8)").write_parquet(
            os.path.join(d, "part-0.parquet"))
        self.assertEqual(self.run_check(), ["batch_eq_stream:packed"])

    def test_dedup_dropping_other_docs_fails(self):
        self.injected = [17]
        self.assertEqual(self.run_check(), ["dedup_drops_injected"])


if __name__ == "__main__":
    unittest.main()
