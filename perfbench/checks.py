"""Correctness gates of warehouse_sql that run in DuckDB, independently of
the engine.

- check_warehouse replays the seeded statement list on a plain DuckDB table
  and compares every read statement's rows and the final table.
- check_queries runs each registered query's oracle SQL over the same
  inputs and compares it with the engine's warm-up output exactly.

Each returns (failed operations, problems).
"""
import glob
import json
import os

import duckdb
import pandas as pd

SUM_PRICE = "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)"


def _canon_rows(rows):
    """Rows as sorted tuples, so result order does not matter."""
    return sorted((tuple(r) for r in rows), key=lambda t: tuple(map(str, t)))


def replay_statements(con, statements):
    """Apply `statements` to table `o`; return each read statement's rows."""
    reads = {}
    for st in statements:
        kind, p = st["kind"], st["params"]
        if kind == "point":
            reads[st["i"]] = con.execute(
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
                "FROM o WHERE o_orderkey = ?", [p["k"]]).fetchall()
        elif kind == "range_agg":
            reads[st["i"]] = con.execute(
                f"SELECT o_orderstatus, count(*), {SUM_PRICE} FROM o "
                "WHERE o_orderkey BETWEEN ? AND ? GROUP BY o_orderstatus",
                [p["a"], p["b"]]).fetchall()
        elif kind == "full_agg":
            reads[st["i"]] = con.execute(
                f"SELECT o_orderpriority, count(*), {SUM_PRICE}, "
                "CAST(max(o_orderdate) AS VARCHAR) FROM o GROUP BY o_orderpriority").fetchall()
        elif kind == "merge":
            # MERGE ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *
            for k, c, s, price, d, pr in p["rows"]:
                con.execute("DELETE FROM o WHERE o_orderkey = ?", [k])
                con.execute("INSERT INTO o VALUES (?, ?, ?, ?, CAST(? AS DATE), ?)",
                            [k, c, s, price, d, pr])
        elif kind == "update":
            con.execute("UPDATE o SET o_orderstatus = 'U', o_totalprice = ? "
                        "WHERE o_orderkey BETWEEN ? AND ?", [p["price"], p["a"], p["b"]])
        elif kind == "delete":
            con.execute("DELETE FROM o WHERE o_orderkey BETWEEN ? AND ?", [p["a"], p["b"]])
        elif kind not in ("compact", "vacuum") and st["sql"]:
            raise ValueError(f"unknown statement kind {kind}")
        # maintenance leaves the rows alone; registered queries (no SQL) read
        # only the parquet inputs and are checked by check_queries
    return reads


def check_warehouse(run_dir, data_dir):
    got = json.load(open(os.path.join(run_dir, "warehouse.json")))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE o AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
        f"FROM read_parquet('{data_dir}/orders.parquet')")
    want = replay_statements(con, got["statements"])
    timed = {int(i) for i in got["ok"]}
    failed, problems = 0, []
    for i, rows in want.items():
        spark_rows = got["results"].get(str(i))
        if spark_rows is None or _canon_rows(spark_rows) != _canon_rows(rows):
            problems.append(f"statement {i}: rows differ from the replay")
            failed += i in timed
    final = con.execute(
        "SELECT count(*) FROM ((SELECT * FROM o EXCEPT ALL SELECT o_orderkey, o_custkey, "
        "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM read_parquet(?)) "
        "UNION ALL (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        "o_orderpriority FROM read_parquet(?) EXCEPT ALL SELECT * FROM o))",
        [got["final"] + "/*.parquet"] * 2).fetchone()[0]
    if final:
        problems.append(f"final table differs from the replay in {final} rows")
        # a wrong final table cannot be pinned on one statement: every
        # timed write counts as failed
        writes = {st["i"] for st in got["statements"]
                  if st["kind"] in ("merge", "update", "delete")}
        failed += len(writes & timed)
    return failed, problems


def _canon_frame(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            s = pd.to_datetime(df[c])
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_queries(run_dir, data_dir, runs_per_query):
    oracle = json.load(open(os.path.join(run_dir, "oracle.json")))
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    failed, problems = 0, []
    for q, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(run_dir, "out", q, "*.parquet"))
        try:
            spark = _canon_frame(pd.concat([pd.read_parquet(f) for f in files]))
            duck = _canon_frame(con.execute(sql).df())
            if list(spark.columns) != list(duck.columns) or len(spark) != len(duck):
                raise AssertionError(f"shape {spark.shape} vs oracle {duck.shape}")
            pd.testing.assert_frame_equal(spark, duck, check_dtype=False, check_exact=True)
        except Exception as e:  # any mismatch or unreadable output fails the query
            problems.append(f"{q}: {type(e).__name__}: {str(e)[:300]}")
            failed += runs_per_query
    return failed, problems
