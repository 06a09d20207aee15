"""Seeded input tables for the closed-loop workloads.

Writes the four harness tables the benchmark's queries read (`events`,
`lineitem`, `orders`, `documents`) with the schemas and value
distributions of the repo's TPC-H-ish fixture (TESTDATA.md), scaled by
`sf` (sf 1 = 6M lineitem rows). The same (seed, sf) gives the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
US_PER_DAY = 86_400_000_000


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    return (base + rng.integers(0, n_days, n) * US_PER_DAY).astype("datetime64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def generate(out_dir: str, seed: int, sf: float) -> dict:
    """Write the tables under `out_dir`; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_ev, n_ord, n_li = int(1_000_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_doc, n_cust, n_supp, n_part = int(50_000 * sf), int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)

    # events: ids in time order over 30 days, ~67 events per user
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(ts0 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 67), n_ev)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord)),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)]),
    })

    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_li)),
    })

    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), int(k))])
             for k in rng.integers(10, 100, n_doc)]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return {"events": n_ev, "orders": n_ord, "lineitem": n_li, "documents": n_doc}
