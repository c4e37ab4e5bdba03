"""Deterministic inputs for the benchmark.

Two kinds of input:

* ``write_fixture`` writes the ten keyspace tables the registry queries
  read (``region`` .. ``embeddings``) at the bench scale (sf0.1 row
  counts), with the schemas FIXTURES.md documents. The tables come from a
  fixed data seed, so every run and every workload reads the same bytes;
  the workload ``--seed`` only picks what the client does with them.
* ``wave_events`` makes one ``gears_live`` wave of stream events with
  Zipf-skewed ``user:`` keys; it depends on the workload seed and the
  wave number.

Everything is numpy + pyarrow; no Spark is needed to build inputs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# sf0.1 row counts of the bench fixture
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DOC_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64


def _scaled(name: str, scale: float) -> int:
    return max(10, int(ROWS[name] * scale))


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(scale: float = 1.0) -> dict:
    """Every fixture table as a pandas frame; ``scale`` shrinks row counts
    (1.0 = sf0.1) for tests."""
    rng = np.random.default_rng(DATA_SEED)
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
    n = _scaled("customer", scale)
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )
    n = _scaled("supplier", scale)
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = _scaled("part", scale)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(rng.choice(PART_ADJ, n), " "), rng.choice(PART_NOUN, n)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
        }
    )
    n_cust = len(t["customer"])
    n = _scaled("orders", scale)
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "F", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )
    n_ord, n_part, n_supp = n, len(t["part"]), len(t["supplier"])
    n = _scaled("lineitem", scale)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": rng.choice(["R", "A", "N"], n),
            "l_linestatus": rng.choice(["O", "F"], n),
            "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
        }
    )
    n = _scaled("events", scale)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": t0 + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, n_cust // 10), n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = _scaled("documents", scale)
    vocab = np.array(DOC_WORDS)
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    # a handful of exact duplicates, and one document in twenty a
    # near-duplicate of another (its text plus " dup"), as a real crawl has
    for i in rng.choice(np.arange(1, n), size=max(1, n // 625), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    for i in rng.choice(n, size=max(1, n // 20), replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    n = _scaled("embeddings", scale)
    vec = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vec),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )
    return t


def write_fixture(dest: str) -> str:
    """Write the fixture to ``dest`` (one parquet file per table, a single
    row group each) unless a complete copy is already there. The copy is
    built beside ``dest`` and renamed into place, so a reader never sees
    half a fixture."""
    marker = os.path.join(dest, "_COMPLETE")
    if os.path.exists(marker):
        return dest
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in fixture_tables().items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest


# ---------------------------------------------------------------- waves

WAVE_USERS = 2_000
WAVE_ITEMS = 40
ZIPF_A = 1.3


def wave_events(seed: int, wave: int, n: int, start_id: int) -> pd.DataFrame:
    """One wave of stream events in the fixture ``events`` layout, with
    Zipf-skewed users (stream key ``user:<user_id>``) and Zipf-skewed
    ``props`` items. Same (seed, wave, n, start_id) -> same frame. Items
    stay below the heavy-hitter summary's 50 counters, so its counts are
    exact and can be checked against a recount."""
    rng = np.random.default_rng([seed, wave])
    ids = np.arange(start_id, start_id + n, dtype=np.int64)
    t0 = np.datetime64("2024-02-01T00:00:00", "us")
    return pd.DataFrame(
        {
            "event_id": ids,
            "ts": t0 + (ids * 1000).astype("timedelta64[us]"),
            "user_id": ((rng.zipf(ZIPF_A, n) - 1) % WAVE_USERS).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [
                f'{{"k": {k}}}' for k in (rng.zipf(ZIPF_A, n) - 1) % WAVE_ITEMS
            ],
        }
    )


if __name__ == "__main__":
    import sys

    write_fixture(sys.argv[1])
