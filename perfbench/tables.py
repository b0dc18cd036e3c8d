"""Seeded generator of the query library's input tables.

Same schemas, value domains and row counts as the repository's sf0.01
fixture tables (one Parquet file per table, timestamps as microsecond
TIMESTAMP without time zone), drawn from the benchmark's seed, so the
benchmark reads nothing outside its own run directory.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "old", "red", "small"]
PART_NOUN = ["bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = (["en"] * 44) + (["zh"] * 14) + (["es"] * 14) + (["de"] * 14) + (["fr"] * 14)
N_SOURCES = 20
N_USERS = 150
N_LABELS = 10
DIM = 64
#: Share of documents that copy an earlier one (exactly, or with a few
#: words replaced), so the dedup operators find work.
DUP_SHARE = 0.05


def _days(rng, n, start: str, end: str) -> pd.Series:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return pd.Series((lo + days).astype("datetime64[us]"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng) -> pd.DataFrame:
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), int(rng.integers(0, 3))):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, N_SOURCES, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pd.DataFrame:
    n = ROWS["embeddings"]
    centers = rng.standard_normal((N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    x = centers[labels] + 1.5 * rng.standard_normal((n, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(x.astype(np.float32)),
        "label": labels.astype(np.int32),
    })


def generate(out_dir: str, seed: int) -> None:
    """Write every table of the query library under ``out_dir``."""
    rng = np.random.default_rng(seed)
    r = ROWS
    frames = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                "r_name": REGIONS}),
        "nation": pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                                "n_name": [f"NATION_{i}" for i in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(r["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(r["customer"])],
            "c_nationkey": rng.integers(0, 25, r["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, r["customer"], -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, r["customer"])],
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(r["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(r["supplier"])],
            "s_nationkey": rng.integers(0, 25, r["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, r["supplier"], -999.99, 9999.99),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(r["part"], dtype=np.int64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
                rng.integers(0, len(PART_ADJ), r["part"]),
                rng.integers(0, len(PART_NOUN), r["part"]))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, r["part"])],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, len(PART_TYPES), r["part"])],
            "p_size": rng.integers(1, 51, r["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(r["part"]) % 1000) / 10, 2),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(r["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, r["customer"], r["orders"]).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, r["orders"])],
            "o_totalprice": _money(rng, r["orders"], 1000, 500000),
            "o_orderdate": _days(rng, r["orders"], "1995-01-01", "2001-08-01"),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, r["orders"])],
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, r["orders"], r["lineitem"]).astype(np.int64),
            "l_partkey": rng.integers(0, r["part"], r["lineitem"]).astype(np.int64),
            "l_suppkey": rng.integers(0, r["supplier"], r["lineitem"]).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, r["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, r["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, r["lineitem"], 900, 105000),
            "l_discount": rng.integers(0, 11, r["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, r["lineitem"]) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, r["lineitem"])],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, r["lineitem"])],
            "l_shipdate": _days(rng, r["lineitem"], "1995-01-02", "2001-11-04"),
        }),
    }
    n_ev = r["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    frames["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.Series(start + offsets.astype("timedelta64[us]")),
        "user_id": rng.integers(0, N_USERS, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": _money(rng, n_ev, 0.01, 490.0),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
    })
    frames["documents"] = _documents(rng)
    frames["embeddings"] = _embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name, frame in frames.items():
        frame.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
