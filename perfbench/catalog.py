"""Deterministic TPC-H-ish tables for the catalog workload.

Writes the eight tables the 15 headline catalog queries read, with the
column names, types and value domains of the repository's sf0.1 test
tables (one parquet file and one row group per table):

    region 5, nation 25, customer 15k, orders 150k, lineitem 600k,
    events 100k, documents 5k (with near-duplicates), embeddings 2k x 64

The same seed gives the same tables.

    python3 perfbench/catalog.py OUT_DIR --seed 1
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
WORDS = ("a the data spark table row column key value part order line "
         "customer query scan filter join agg group sort hash merge window "
         "stream batch fast slow big small vector").split()
LANGS = ["en"] * 11 + ["de", "es", "fr", "zh"] * 2 + ["en"]
TABLES = ["region", "nation", "customer", "orders", "lineitem", "events",
          "documents", "embeddings"]


def _ts(days: np.ndarray, base: dt.date) -> pa.Array:
    epoch = np.datetime64(base.isoformat(), "us")
    return pa.array(epoch + days.astype("timedelta64[D]").astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _write(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"),
                   row_group_size=1 << 30)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random word sequences; ~10% are near-duplicates of an earlier
    document (a few words replaced) and a handful exact copies, so the
    dedup queries find pairs."""
    docs: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = docs[int(rng.integers(i))].split()
            if rng.random() < 0.9:
                for k in rng.integers(0, len(words), max(1, len(words) // 20)):
                    words[k] = WORDS[rng.integers(len(WORDS))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 100)))]
        docs.append(" ".join(words))
    return docs


def generate(root: str, seed: int) -> str:
    """Write the tables under ``root``; returns ``root``."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_orders, n_line = int(150_000 * SF), int(1_500_000 * SF), int(6_000_000 * SF)
    n_events, n_docs, n_vec = int(1_000_000 * SF), int(50_000 * SF), 2000

    _write(root, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    _write(root, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(root, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    odays = rng.integers(0, 2404, n_orders)            # 1995-01-01 .. 2001-08-01
    _write(root, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts(odays, dt.date(1995, 1, 1)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })
    lorders = np.sort(rng.integers(0, n_orders, n_line))
    first = np.r_[True, lorders[1:] != lorders[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(root, "lineitem", {
        "l_orderkey": lorders,
        "l_partkey": rng.integers(0, int(200_000 * SF), n_line),
        "l_suppkey": rng.integers(0, int(10_000 * SF), n_line),
        "l_linenumber": pa.array(np.arange(n_line) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts(rng.integers(1, 2499, n_line), dt.date(1995, 1, 1)),
    })
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    _write(root, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_events),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    docs = _documents(rng, n_docs)
    _write(root, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": docs,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    })
    vec = rng.normal(0, 1, (n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(root, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return root


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    generate(a.out_dir, a.seed)


if __name__ == "__main__":
    main()
