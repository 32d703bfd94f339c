"""Input tables shaped like the sf0.1 test set, generated inside the run.

The benchmark reads and writes only inside its own checkout, so it cannot
point the program at an externally provided dataset.  Instead it writes the
ten tables the registry reads (``catalog.TABLES``) with the schemas and
value distributions of the sf0.1 test set: a TPC-H-like star schema, an
``events`` stream, a ``documents`` corpus over a 31-word vocabulary and
unit-norm 64-d ``embeddings``.  Every table is one parquet file with one
row group, like the test set.

Row counts are ``SCALE`` times sf0.1's (sf0.02): at sf0.1 one run of
either workload takes about 100 s on a 4-CPU box, at sf0.02 about 60 s,
which keeps a set of repeated runs of both workloads within an hour.

The tables depend on ``DATA_SEED`` only, never on the workload seed: the
seed chooses the op sequence, and the data stay fixed so that runs with
different seeds measure the same program on the same state.

Usage: ``python3 qcbench/data.py <out_dir>`` writes the tables once.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SCALE = 0.2  # of sf0.1's row counts
# Bumped whenever the generator changes, so a cached copy is rebuilt.
DATA_VERSION = 2

N_ORDERS = int(150_000 * SCALE)
N_LINEITEM = int(600_000 * SCALE)
N_CUSTOMER = int(15_000 * SCALE)
N_PART = int(20_000 * SCALE)
N_SUPPLIER = int(1_000 * SCALE)
N_EVENTS = int(100_000 * SCALE)
N_DOCS = int(5_000 * SCALE)
N_VECS = int(2_000 * SCALE)
VEC_DIM = 64

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
PART_ADJ = ["blue", "large", "hot", "old", "small", "red", "green", "cold"]
PART_NOUN = ["ring", "bolt", "plate", "anvil", "widget", "gear", "pipe", "valve"]


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _price(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; a pure function of ``seed``."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": _price(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            N_CUSTOMER,
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": _price(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    pk = np.arange(N_PART, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], N_PART
        ),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _price(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", 2405),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS
        ),
    })
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": _price(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", 2499),
    })
    gaps = rng.exponential(30 * 86400e6 / N_EVENTS, N_EVENTS).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), n)])
        for n in rng.integers(10, 101, N_DOCS)
    ]
    doc_id = np.arange(N_DOCS, dtype=np.int64)
    t["documents"] = pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": rng.choice(
            ["en", "zh", "es", "fr", "de"], N_DOCS, p=[0.41, 0.15, 0.15, 0.15, 0.14]
        ),
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    v = rng.standard_normal((N_VECS, VEC_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS).astype(np.int32)),
    })
    return t


def ensure_tables(out_dir: str) -> str:
    """Write the tables under ``out_dir`` unless this version is already
    there; returns the table directory.  Written to a sibling and renamed,
    so an interrupted run never leaves a partial set behind."""
    final = os.path.join(out_dir, f"data-v{DATA_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    os.rename(tmp, final)
    return final


if __name__ == "__main__":
    print(ensure_tables(sys.argv[1]))
