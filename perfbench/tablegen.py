"""Seeded generator of the fixture tables the batch queries read.

Writes one parquet file per table of ``tables.TABLES`` with the
fixture column names and types (TPC-H-shaped star schema, an
``events`` table, a ``documents`` corpus and an ``embeddings``
table) at the row counts of the sf0.01 fixture: 60 000 line items,
10 000 events, 500 documents and 500 vectors.  Everything is drawn
from one ``numpy`` generator, so a seed fixes the data; the DuckDB
twins of the queries are computed on the same files, so the output
check needs no saved results.

Documents follow the fixture's text: 10 to 99 words drawn uniformly
from the same 31-word vocabulary, and one in twenty is a copy of an
earlier document with one word appended or its last word dropped (the
fixture's planted near-duplicates), so the dedup and overlap queries
find real near-duplicates.  Vectors are unit-norm points around ten
label centres, so the nearest-neighbour queries see cluster structure.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort "
    "spark stream table the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("BUILDING", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("hot", "large", "cold", "blue", "old", "red", "small", "new")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
DIM = 64
N_CUST, N_SUPP, N_PART, N_ORD, N_LINE = 1_500, 100, 2_000, 15_000, 60_000
N_DOCS, N_VEC, N_EVENTS = 500, 500, 10_000
NEAR_DUP_P = 0.05
US_PER_DAY = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(N_CUST, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
            "c_nationkey": rng.integers(0, 25, N_CUST).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUST),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUST),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(N_SUPP, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
            "s_nationkey": rng.integers(0, 25, N_SUPP).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPP),
        }
    )
    retail = np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(PART_TYPES, N_PART),
            "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    orderdate = EPOCH_1995_US + rng.integers(0, 2405, N_ORD) * US_PER_DAY
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(N_ORD, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUST, N_ORD).astype(np.int64),
            "o_orderstatus": rng.choice(("F", "O", "P"), N_ORD),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORD),
            "o_orderdate": _ts(orderdate),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORD),
        }
    )
    l_order = np.sort(rng.integers(0, N_ORD, N_LINE)).astype(np.int64)
    # line numbers restart at 1 within each order
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    lnum = np.arange(N_LINE) - np.repeat(starts, np.diff(np.r_[starts, N_LINE]))
    l_part = rng.integers(0, N_PART, N_LINE).astype(np.int64)
    qty = rng.integers(1, 51, N_LINE).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, N_SUPP, N_LINE).astype(np.int64),
            "l_linenumber": (lnum % 7 + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part], 2),
            "l_discount": rng.integers(0, 11, N_LINE) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINE) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), N_LINE),
            "l_linestatus": rng.choice(("F", "O"), N_LINE),
            "l_shipdate": _ts(
                orderdate[l_order] + rng.integers(1, 122, N_LINE) * US_PER_DAY
            ),
        }
    )
    ev_ts = EPOCH_2024_US + np.sort(
        rng.integers(0, 30 * US_PER_DAY, N_EVENTS)
    )
    t["events"] = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, 150, N_EVENTS).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
            "value": _money(rng, 0.0, 100.0, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < NEAR_DUP_P:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words.append(VOCAB[int(rng.integers(0, len(VOCAB)))])
            else:
                words.pop()
        else:
            n_words = int(rng.integers(10, 100))
            words = [VOCAB[int(w)] for w in rng.integers(0, len(VOCAB), n_words)]
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, N_VEC)
    centres = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centres[labels] + rng.normal(0.0, 0.6, (N_VEC, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(N_VEC, dtype=np.int64),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": labels.astype(np.int32),
        }
    )

    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
