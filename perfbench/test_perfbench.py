"""Tests of the benchmark's Python side: run with
python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import os
import tempfile
import unittest

import duckdb

import checks
import gen


class GenTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen.write(5, a)
            gen.write(5, b)
            gen.write(6, c)
            for name in sorted(os.listdir(a)):
                with open(os.path.join(a, name), "rb") as x, open(os.path.join(b, name), "rb") as y:
                    self.assertEqual(x.read(), y.read(), name)
            with open(os.path.join(a, "orders.parquet"), "rb") as x, \
                    open(os.path.join(c, "orders.parquet"), "rb") as z:
                self.assertNotEqual(x.read(), z.read())

    def test_orders_keys(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write(1, d)
            n, lo, hi = duckdb.sql(
                f"SELECT count(*), min(o_orderkey), max(o_orderkey) "
                f"FROM '{d}/orders.parquet'").fetchone()
            self.assertEqual((n, lo, hi), (gen.ORDERS, 0, gen.ORDERS - 1))


class ReplayTest(unittest.TestCase):
    def test_merge_update_delete(self):
        con = duckdb.connect()
        con.execute("CREATE TABLE o (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, "
                    "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority VARCHAR)")
        con.execute("INSERT INTO o VALUES (1, 1, 'O', 1.5, DATE '1996-01-01', '1-URGENT'), "
                    "(2, 2, 'F', 2.5, DATE '1996-01-02', '2-HIGH')")
        reads = checks.replay_statements(con, [
            {"i": 0, "kind": "merge", "sql": "MERGE ...", "params": {"rows": [
                [2, 9, "P", 9.25, "1997-05-05", "5-LOW"], [3, 3, "O", 3.5, "1997-01-01", "3-MEDIUM"]]}},
            {"i": 1, "kind": "update", "sql": "UPDATE ...", "params": {"a": 1, "b": 1, "price": 7.75}},
            {"i": 2, "kind": "delete", "sql": "DELETE ...", "params": {"a": 3, "b": 3}},
            {"i": 3, "kind": "q01_pricing_agg", "sql": "", "params": {}},
            {"i": 4, "kind": "point", "sql": "SELECT ...", "params": {"k": 2}},
        ])
        self.assertEqual(con.execute("SELECT o_orderkey, o_orderstatus, o_totalprice FROM o "
                                     "ORDER BY 1").fetchall(),
                         [(1, "U", 7.75), (2, "P", 9.25)])
        self.assertEqual(reads, {4: [(2, 9, "P", 9.25, "5-LOW")]})


if __name__ == "__main__":
    unittest.main()
