"""Seeded synthetic tables for the headline queries.

Same ten tables, column names and types as the repo's test tables the
queries were written against (TESTDATA.md), at about their sf0.01 size.
Every value is a pure function of the seed, so one seed always gives the
same parquet files.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "old"]
_NOUN = ["ring", "widget", "bolt", "gear", "pipe", "valve", "spring", "plate"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small big customer query order group "
    "stream filter vector"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span_days: int, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i >= 50 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
            continue
        if i >= 50 and r < 0.08:
            words = texts[int(rng.integers(0, i))].split()  # near duplicate
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
            continue
        n = int(rng.integers(8, 90))
        texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, N_DOCS, p=_LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(size=(10, DIM))
    vecs = 0.6 * centers[labels] + rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    nation_keys = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nation_keys, pa.int32()),
            "n_name": [f"NATION_{i}" for i in nation_keys],
            "n_regionkey": pa.array(nation_keys % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMER).tolist(),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
            "p_name": [f"{_ADJ[int(a)]} {_NOUN[int(b)]}"
                       for a, b in rng.integers(0, 8, (N_PART, 2))],
            "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(_PTYPES, N_PART).tolist(),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
            "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, N_ORDERS),
            "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS).tolist(),
        }),
    }
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM).tolist(),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM).tolist(),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, N_LINEITEM),
    })
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, N_EVENTS)
    ).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, N_EVENTS).tolist(),
        "value": _money(rng, 0.01, 490.02, N_EVENTS),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    return tables


def write_tables(seed: int, out_dir: Path) -> int:
    """Write every table as `<out_dir>/<name>.parquet`; returns total bytes."""
    out_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    for name, table in make_tables(seed).items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(table, path)
        total += path.stat().st_size
    return total
