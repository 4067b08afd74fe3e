"""Tests of the pipeline_mix inputs and output check.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import tempfile
import unittest

import duckdb

import pipeline

SQL = {"flags": "SELECT l_returnflag, count(*) AS n, "
                "round(sum(l_extendedprice), 2) AS price "
                "FROM lineitem GROUP BY l_returnflag"}


def digest(d):
    return [hashlib.sha256(open(os.path.join(d, t + ".parquet"), "rb").read())
            .hexdigest() for t in pipeline.TABLES]


class PipelineTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def test_tables_are_a_function_of_the_seed(self):
        for name, seed in (("a", 3), ("b", 3), ("c", 4)):
            pipeline.make_tables(seed, os.path.join(self.dir, name))
        a, b, c = (digest(os.path.join(self.dir, n)) for n in "abc")
        self.assertEqual(a, b)
        self.assertTrue(all(x != y for x, y in zip(a, c)))

    def test_documents_hold_near_duplicates(self):
        pipeline.make_tables(5, self.dir)
        docs = os.path.join(self.dir, "documents.parquet")
        n = duckdb.sql(
            f"SELECT count(*) FROM '{docs}' a JOIN '{docs}' b ON a.source = b.source "
            "AND a.doc_id < b.doc_id AND len(list_intersect(string_split(a.text, ' '), "
            "string_split(b.text, ' '))) >= 0.8 * len(list_distinct(list_concat("
            "string_split(a.text, ' '), string_split(b.text, ' '))))").fetchone()[0]
        self.assertGreater(n, 0)

    def test_check_passes_the_oracle_and_flags_a_changed_row(self):
        tables = os.path.join(self.dir, "tables")
        pipeline.make_tables(6, tables)
        oracle = os.path.join(self.dir, "oracle_sql.json")
        with open(oracle, "w") as fh:
            json.dump(SQL, fh)
        li = os.path.join(tables, "lineitem.parquet")
        good, bad = os.path.join(self.dir, "good"), os.path.join(self.dir, "bad")
        # 1e-6 relative is past the rule's 1e-9
        for d, factor in ((good, 1.0), (bad, 1.000001)):
            os.makedirs(os.path.join(d, "flags"))
            # columns in another order and rows unsorted, as an engine
            # may write them
            duckdb.sql(
                f"COPY (SELECT round(sum(l_extendedprice), 2) * {factor} AS price, "
                f"count(*) AS n, l_returnflag FROM '{li}' GROUP BY l_returnflag "
                f"ORDER BY n) TO '{d}/flags/part-0.parquet' (FORMAT PARQUET)")
        res = dict(pipeline.check(tables, oracle, [good, bad]))
        self.assertEqual(res[good], [])
        self.assertEqual(len(res[bad]), 1)
        self.assertIn("flags: row", res[bad][0])


if __name__ == "__main__":
    unittest.main()
