"""Seeded synthetic tables for the ``queries`` layer.

The schema, row counts and value domains follow the repository's sf0.01
test tables (a TPC-H-like star schema plus ``events``, ``documents``
and ``embeddings``), so the 14 ``bench.py`` queries run unchanged and do
comparable work. Documents are drawn from a 30-word vocabulary and 5% of
them repeat an earlier document with a " dup" suffix, which gives the dedup
queries their near-duplicate pairs. One parquet file per table, one row
group each, written through pandas like the originals.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

ROWS = {  # rows at sf0.01
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
SCALES = (0.01,)

VOCAB = (
    "a the data query row column table join hash sort merge filter group agg "
    "window stream batch scan spark vector key value order line part customer "
    "small big fast slow"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "large", "red", "blue", "hot", "old"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64


def _days(rng, n: int, start: str, n_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    i = SCALES.index(sf)
    n = ROWS
    rng = np.random.Generator(np.random.PCG64([seed, i]))
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    nc = n["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, ns)),
    })
    npart = n["part"]
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, npart), rng.choice(NOUN, npart))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, no)),
        "o_orderdate": _days(rng, no, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, nl)),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", 2498),
    })
    ne = n["events"]
    secs = np.sort(rng.uniform(0.0, 30 * 86400.0, ne))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, nc // 10, ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _money(rng.uniform(0.01, 490.0, ne)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for k in range(nd):
        if k >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 93)))))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{k % 20}" for k in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.standard_normal((10, EMB_DIM)) * 0.15
    v = centers[labels] + rng.standard_normal((nv, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(v.astype(np.float32)),
        "label": labels.astype(np.int32),
    })
    return out


def write(sf: float, seed: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(sf, seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
