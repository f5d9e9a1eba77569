"""Seeded input tables of warehouse_sql, in the shape of the engine's fixture
tables (see FIXTURES.md): `orders` fills the catalog table; `lineitem` and
`documents` feed the registered queries q01_pricing_agg and q41_winnow. The
same seed gives byte-identical parquet files.

Usage: python3 gen.py <seed> <out dir>
"""
import datetime
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ORDERS = 15000  # keys 0 until ORDERS; WarehouseSql.Orders must match
CUSTOMERS = 1500
LINES_PER_ORDER = 4
PARTS = 2000
SUPPLIERS = 100
DOCUMENTS = 500

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("a the data table row column key value part order line customer query "
         "scan join filter group agg sort window stream batch merge hash spark "
         "fast slow big small vector").split()
LANGS = ["en", "de", "es", "fr", "zh"]
EPOCH = datetime.datetime(1995, 1, 1)


def cents(r, lo, hi):
    """A price with exactly two decimals, drawn from [lo, hi)."""
    return r.randrange(int(lo * 100), int(hi * 100)) / 100


def day(r, span):
    return EPOCH + datetime.timedelta(days=r.randrange(span))


def tables(seed):
    r = random.Random(seed)
    ts = pa.timestamp("us")
    orders = {
        "o_orderkey": pa.array(range(ORDERS), pa.int64()),
        "o_custkey": pa.array([r.randrange(CUSTOMERS) for _ in range(ORDERS)], pa.int64()),
        "o_orderstatus": [r.choice("OFP") for _ in range(ORDERS)],
        "o_totalprice": [cents(r, 1000, 500000) for _ in range(ORDERS)],
        "o_orderdate": pa.array([day(r, 2400) for _ in range(ORDERS)], ts),
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(ORDERS)],
    }
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate")}
    for _ in range(ORDERS * LINES_PER_ORDER):
        li["l_orderkey"].append(r.randrange(ORDERS))
        li["l_partkey"].append(r.randrange(PARTS))
        li["l_suppkey"].append(r.randrange(SUPPLIERS))
        li["l_linenumber"].append(r.randrange(1, 8))
        li["l_quantity"].append(float(r.randrange(1, 51)))
        li["l_extendedprice"].append(cents(r, 900, 105000))
        li["l_discount"].append(r.randrange(11) / 100)
        li["l_tax"].append(r.randrange(9) / 100)
        li["l_returnflag"].append(r.choice("ANR"))
        li["l_linestatus"].append(r.choice("FO"))
        li["l_shipdate"].append(day(r, 2500))
    lineitem = {
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        **{k: li[k] for k in ("l_quantity", "l_extendedprice", "l_discount", "l_tax",
                              "l_returnflag", "l_linestatus")},
        "l_shipdate": pa.array(li["l_shipdate"], ts),
    }
    texts = [" ".join(r.choice(WORDS) for _ in range(r.randrange(10, 100)))
             for _ in range(DOCUMENTS)]
    documents = {
        "doc_id": pa.array(range(DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [r.choice(LANGS) for _ in range(DOCUMENTS)],
        "source": [f"src{r.randrange(20)}" for _ in range(DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    return {"orders": orders, "lineitem": lineitem, "documents": documents}


def write(seed, out):
    os.makedirs(out, exist_ok=True)
    for name, cols in tables(seed).items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    write(int(sys.argv[1]), sys.argv[2])
