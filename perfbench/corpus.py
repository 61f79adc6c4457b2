"""Seeded generator for the analytics corpus the query workloads read.

Writes the ten tables ``catalog.TESTDATA_TABLES`` names (TPC-H-ish star
schema, an ``events`` click stream, ``documents`` and ``embeddings``) as
one parquet file each, with the column names, types and value domains of
the engine's sf-scaled test corpora, so every registered query runs on it
unchanged.  Row counts scale linearly with ``sf`` (sf=1 → 6M lineitems).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng: np.random.RandomState, start: str, n_days: int, n: int) -> pd.Series:
    return (
        pd.Timestamp(start) + pd.to_timedelta(rng.randint(0, n_days, n), unit="D")
    ).astype("datetime64[us]")


def _documents(rng: np.random.RandomState, n: int) -> pd.DataFrame:
    words = np.array(WORDS)
    lens = rng.randint(10, 101, n)
    texts = [" ".join(words[rng.randint(0, len(words), k)]) for k in lens]
    # 5% near-duplicates (an earlier document plus one token) and a few
    # exact copies, so the dedup operators have clusters to find
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[rng.randint(0, n)] + " dup"
    for i in rng.choice(n, max(2, n // 600), replace=False):
        texts[i] = texts[rng.randint(0, n)]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def write_corpus(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the corpus at scale ``sf`` into ``out_dir``; returns row counts."""
    rng = np.random.RandomState(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_orders, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(40, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    emb = rng.randn(n_emb, 64).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t_gap = rng.exponential(30 * 86_400 / n_events, n_events)
    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.randint(0, 25, n_cust).astype("int32"),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.randint(0, 25, n_supp).astype("int32"),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.randint(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.randint(1, 51, n_part).astype("int32"),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_orders, dtype="int64"),
                "o_custkey": rng.randint(0, n_cust, n_orders).astype("int64"),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
                "o_totalprice": money(1000.0, 500_000.0, n_orders),
                "o_orderdate": _days(rng, "1995-01-01", 2404, n_orders),
                "o_orderpriority": rng.choice(PRIORITIES, n_orders),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.randint(0, n_orders, n_li).astype("int64"),
                "l_partkey": rng.randint(0, n_part, n_li).astype("int64"),
                "l_suppkey": rng.randint(0, n_supp, n_li).astype("int64"),
                "l_linenumber": rng.randint(1, 8, n_li).astype("int32"),
                "l_quantity": rng.randint(1, 51, n_li).astype("float64"),
                "l_extendedprice": money(900.0, 105_000.0, n_li),
                "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
                "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_events, dtype="int64"),
                "ts": (
                    pd.Timestamp("2024-01-01")
                    + pd.to_timedelta(np.cumsum(t_gap), unit="s")
                ).astype("datetime64[us]"),
                "user_id": rng.randint(0, n_users, n_events).astype("int64"),
                "event_type": rng.choice(EVENT_TYPES, n_events),
                "value": np.round(rng.exponential(50.0, n_events), 2),
                "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_events)],
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": pd.DataFrame(
            {
                "vec_id": np.arange(n_emb, dtype="int64"),
                "embedding": list(emb),
                "label": rng.randint(0, 10, n_emb).astype("int32"),
            }
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}
