"""Seeded input generator: the benchmark's own copy of the harness tables.

Writes the ten parquet tables that ``sources.loaders.TABLES`` names,
with the schemas of the harness test data, into one directory. Every
value is a function of ``seed`` and the row counts, so the same seed
gives the same bytes and the engine only ever sees these generated
inputs.

Shape, matched to the harness corpus: document text draws uniformly
from a 30-word vocabulary, 10 to 100 tokens per document; about 5% of
documents are an earlier document's text plus the rare token ``dup``
(near-duplicates for MinHash, a rare term for BM25). Embeddings are
unit-norm 64-d float32 vectors for the first ``n_emb`` document ids.
The relational tables are small TPC-H-like fillers whose part-key
domain is narrow enough that market-basket pairs reach support 3.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
DIM = 64
DUP_SHARE = 0.05


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_tok = int(rng.integers(10, 101))
        texts.append(" ".join(rng.choice(VOCAB, size=n_tok)))
    return texts


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    return pa.array(
        [base + timedelta(seconds=float(s)) for s in seconds],
        type=pa.timestamp("us"),
    )


N_ORDERS = 1500
N_EVENTS = 1000


def generate(out_dir: str, seed: int, n_docs: int, n_emb: int) -> str:
    """Write all tables for ``seed`` into ``out_dir`` and return it."""
    n_orders, n_events = N_ORDERS, N_EVENTS
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    texts = _texts(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.standard_normal((n_emb, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 2), 200
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            size=n_cust,
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} widget" for a in rng.choice(
            ["cold", "small", "large", "red", "blue"], size=n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO"], size=n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    base = datetime(1995, 1, 1)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n_orders),
        "o_totalprice": np.round(rng.uniform(1e3, 3e5, n_orders), 2),
        "o_orderdate": _ts(base, rng.integers(0, 6 * 365, n_orders) * 86400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n_orders,
        ),
    })
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()
        ),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], size=n_li),
        "l_linestatus": rng.choice(["F", "O"], size=n_li),
        "l_shipdate": _ts(base, rng.integers(0, 6 * 365, n_li) * 86400),
    })
    ev_secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1), ev_secs),
        "user_id": pa.array(rng.integers(0, 16, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, size=n_events),
        "value": np.round(rng.uniform(0, 200, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    return out_dir
