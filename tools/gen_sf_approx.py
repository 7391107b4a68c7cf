"""Approximate scale-factor data generator (measurement only).

The driver generates its own large-SF parquet inputs for round-end
measurement; the sandbox keeps only sf0.001/0.01/0.1. This tool writes a
statistically-similar dataset at an arbitrary scale so optimization A/Bs
can run at the driver's measurement scale (sf1: 50 000 docs, 6 M lineitem,
1 M events). Distributions were fitted by inspecting the committed SFs:
uniform bag-of-words docs (31-word vocab, 10..100 words, 20 sources,
lang mix en .41 / zh-es-fr .15 / de .14), TPC-H-ish uniform dims/facts,
64-dim float32 embeddings. Row groups use pyarrow defaults, matching the
observed layout (1 row group per 1 Mi rows).

Usage: python tools/gen_sf_approx.py OUT_DIR SCALE   # SCALE=1.0 -> sf1-ish
The fixed region/nation dims are copied from the SF directory named by
SPARK_GRAFT_SF_DIR (default: the committed sf0.1).
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]


def gen(out: str, scale: float) -> None:
    rng = np.random.default_rng(1234567)
    os.makedirs(out, exist_ok=True)
    n_docs = int(50000 * scale)
    n_li = int(6000000 * scale)
    n_orders = int(1500000 * scale)
    n_cust = int(150000 * scale)
    n_supp = int(10000 * scale)
    n_part = int(200000 * scale)
    n_events = int(1000000 * scale)
    n_users = int(15000 * scale)
    n_emb = int(20000 * scale)

    # region / nation: fixed dims — copy the committed ones
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for t in ("region", "nation"):
        pq.write_table(pq.read_table(f"{src}/{t}.parquet"), f"{out}/{t}.parquet")

    # documents
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    langs = rng.choice(["en", "zh", "es", "fr", "de"], n_docs, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    src = np.array([f"src{i % 20}" for i in range(n_docs)])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": src,
        "n_chars": pa.array(np.array([len(t) for t in texts]), pa.int32()),
    }), f"{out}/documents.parquet")

    # customer / supplier / part
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int64()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"], n_cust),
    }), f"{out}/customer.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int64()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }), f"{out}/supplier.parquet")
    sizes = ["large", "hot", "small", "cold", "light", "dark"]
    items = ["ring", "bolt", "screw", "nut", "washer", "pin"]
    pq.write_table(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{sizes[i % 6]} {items[(i // 6) % 6]}" for i in range(n_part)],
        "p_brand": [f"Brand#{i % 25}" for i in range(n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    }), f"{out}/part.parquet")

    # orders
    odate = (np.datetime64("1995-01-01") + rng.integers(0, 2404, n_orders).astype("timedelta64[D]")).astype("datetime64[us]")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_orders, p=[0.49, 0.49, 0.02]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    }), f"{out}/orders.parquet")

    # lineitem
    sdate = (np.datetime64("1995-01-01") + rng.integers(1, 2500, n_li).astype("timedelta64[D]")).astype("datetime64[us]")
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(1000, 100000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["N", "A", "R"], n_li, p=[0.5, 0.25, 0.25]),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": sdate,
    }), f"{out}/lineitem.parquet")

    # events
    ts = (np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86400 * 10**6, n_events).astype("timedelta64[us]"))
    ts = np.sort(ts)
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_events),
        "value": np.round(rng.uniform(0, 561, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    }), f"{out}/events.parquet")

    # embeddings
    mat = rng.uniform(-0.3, 0.33, (n_emb, 64)).astype("float32")
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(mat), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }), f"{out}/embeddings.parquet")
    open(f"{out}/_DONE", "w").write("approx\n")
    print(f"wrote {out} scale={scale}")


if __name__ == "__main__":
    gen(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0)
