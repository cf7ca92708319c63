"""Seeded TPC-H-ish parquet tables for the catalog queries.

Writes the ten tables ``catalog.TABLES`` names with the column names and
physical types the catalog reads (``int64`` keys, ``timestamp[us]``
naive timestamps, ``list<float>`` embeddings), at the row counts of the
``sf0.1`` tables (600,000 lineitem rows, 5,000 documents). Every column is
drawn independently from the seed; documents carry near-duplicates (a copy of
an earlier text plus `` dup``) so the dedup queries have work to do.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data query table row column key value join merge sort hash scan "
    "filter group agg window order part line customer batch stream spark "
    "vector fast slow big small"
).split()
LANGS = ["en"] * 2 + ["de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"]
PART_ADJ = ["cold", "hot", "small", "large", "blue", "old", "new"]
PART_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(rng, n, start, end):
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    return pa.array(rng.integers(lo, hi, n), pa.int64()).cast(pa.timestamp("us"))


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi, n) * 86_400_000_000, pa.int64()).cast(
        pa.timestamp("us")
    )


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup")
            continue
        words = rng.choice(VOCAB, int(rng.integers(8, 100)))
        texts.append(" ".join(words)[: int(rng.integers(45, 560))].rstrip())
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[int(k)] for k in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten tables as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_li = 15_000, 150_000, 600_000
    n_part, n_supp, n_ev, n_doc, n_emb = 20_000, 1_000, 100_000, 5_000, 2_000
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{PART_ADJ[int(a)]} {PART_NOUN[int(b)]}"
                    for a, b in zip(rng.integers(0, 7, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{int(b)}" for b in rng.integers(11, 56, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part).tolist(),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
                "o_totalprice": _money(rng, n_ord, 1000, 500000),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, n_li, 900, 105000),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["N", "R", "A"], n_li).tolist(),
                "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
                "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-05"),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": pa.array(
                    np.sort(_ts(rng, n_ev, "2024-01-01", "2024-01-31").to_numpy())
                ),
                "user_id": pa.array(rng.integers(0, n_cust // 10, n_ev), pa.int64()),
                "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_doc),
    }
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
