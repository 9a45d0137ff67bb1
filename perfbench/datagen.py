"""Seeded input tables with the schemas the engine's queries read.

Every table the registry queries and the example pipeline touch is made
here from one seed, so the benchmark never depends on data outside its
checkout.  Shapes follow the star schema plus ``events``, ``documents``
and ``embeddings``: same column names, types and value domains, with
near-duplicate documents and label-clustered unit vectors so the dedup
and ANN operators have real work to do.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["cold", "hot", "red", "blue", "green", "tiny", "huge", "old"]
NOUNS = ["widget", "gadget", "bolt", "nut", "gear", "spring", "valve", "pipe"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
EMBED_DIM = 64
N_LABELS = 10

ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 10**6


def _ts(base: dt.datetime, us: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + us.astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_frame(rng, n: int, n_cust: int) -> pd.DataFrame:
    days = rng.integers(0, ORDER_DAYS, n)
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000, 500000, n),
            "o_orderdate": _ts(ORDER_DAY0, days * 86400 * 10**6),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )


def events_frame(rng, n: int, n_users: int) -> pd.DataFrame:
    us = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(EVENT_T0, us),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_frame(rng, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_frame(rng, n: int) -> pd.DataFrame:
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    label = rng.integers(0, N_LABELS, n)
    v = centers[label] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(v.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )


def make_tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, pd.DataFrame]:
    """All ten tables at scale ``sf`` (lineitem ~ 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_part, 2))],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    orders = orders_frame(rng, n_ord, n_cust)
    t["orders"] = orders
    okey = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    pkey = rng.integers(0, n_part, n_line)
    ship_days = rng.integers(1, 122, n_line)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": okey.astype(np.int64),
            "l_partkey": pkey.astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * t["part"]["p_retailprice"].values[pkey], 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": orders["o_orderdate"].values[okey]
            + (ship_days * 86400 * 10**6).astype("timedelta64[us]"),
        }
    )
    t["events"] = events_frame(rng, n_ev, max(10, int(15_000 * sf)))
    t["documents"] = documents_frame(rng, n_docs)
    t["embeddings"] = embeddings_frame(rng, n_vecs)
    return t


def write_table(df: pd.DataFrame, path: str) -> int:
    """One parquet file; returns its size in bytes."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    if "embedding" in df.columns:
        table = table.cast(
            table.schema.set(
                table.schema.get_field_index("embedding"),
                pa.field("embedding", pa.list_(pa.float32())),
            )
        )
    pq.write_table(table, path)
    return os.path.getsize(path)


def write_tables(out_dir: str, tables: dict[str, pd.DataFrame]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        write_table(df, os.path.join(out_dir, f"{name}.parquet"))
