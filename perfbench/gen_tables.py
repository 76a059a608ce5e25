"""Seeded registry tables: the ten tables ``queries.QUERIES`` reads
(``tables.TABLE_NAMES``), with the schemas of FIXTURES.md section B and
row counts, key ranges and value distributions modelled on the
repository's scale-factor datasets:

* lineitem 6M x sf rows over 1.5M x sf orders (uniform order keys, 1-7
  line numbers), 200k x sf parts, 10k x sf suppliers;
* events 1M x sf rows over 15k x sf users, five event types and 100
  ``props`` values, so the (user, type, props) identity repeats;
* documents over a 31-word vocabulary, 10-100 tokens, about 5% of them
  near-copies of an earlier document (a few tokens replaced past the
  eighth), plus a few exact copies;
* 64-dimension unit embeddings around ten label centres.

Small tables have floors (documents and embeddings at least 500 rows)
as in the smallest dataset.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column row data join group sort agg filter key "
    "value query hash scan order part line customer batch stream vector big "
    "small fast slow the a dup"
).split()
LANGS = ("en", "en", "en", "fr", "es", "zh", "de")
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "error", "click", "view")
PART_ADJ = ("large", "hot", "small", "blue", "steel", "smooth", "dark", "light")
PART_NOUN = ("ring", "bolt", "gear", "nut", "pipe", "valve", "spring", "shaft")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DAY_MS = 86_400_000
D1995 = 788_918_400_000  # 1995-01-01
D2024 = 1_704_067_200_000  # 2024-01-01


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ms_dates(rng, n, days):
    return pa.array(D1995 + rng.integers(0, days, n) * DAY_MS, pa.timestamp("ms"))


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB, dtype=object)
    docs = [list(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    near = np.nonzero(rng.random(n) < 0.05)[0]
    for i in near[near > 0]:
        src = docs[rng.integers(0, i)]
        copy = list(src)
        for _ in range(int(rng.integers(1, 4))):
            if len(copy) > 8:
                copy[rng.integers(8, len(copy))] = VOCAB[rng.integers(0, len(VOCAB))]
        docs[i] = copy
    exact = rng.integers(1, n, max(n // 600, 1))
    for i in exact:
        docs[i] = list(docs[rng.integers(0, i)])
    text = [" ".join(d) for d in docs]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": text,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centres = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n)
    x = centres[label] + rng.normal(0, 0.6, (n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def generate(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns
    row counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ev = max(int(10_000 * sf), 10), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 15)
    n_docs, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)

    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
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
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj, noun = rng.integers(0, len(PART_ADJ), n_part), rng.integers(0, len(PART_NOUN), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 800, 500_000, n_ord),
            "o_orderdate": _ms_dates(rng, n_ord, 2500),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _ms_dates(rng, n_li, 2500),
        }
    )
    ts_us = D2024 * 1000 + rng.integers(0, 30 * DAY_MS * 1000, n_ev)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(60, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
