"""Seeded benchmark inputs: the ten driver tables the engine's views read.

The engine derives its geospatial views (stems, crowns, lidar, ...) from
TPC-H-ish parquet tables by key arithmetic (``geotreehealth_spark.synth``), so
a workload's spatial layout is a function of the table KEYS. Each table here
is a seeded draw of distinct keys from the key space of the sf0.1 fixture
schema, with attribute columns drawn from the same domains. The same seed
always gives byte-identical parquet files; a different seed gives a different
point set, so a run cannot tune itself to one layout.

Everything is pure numpy + pyarrow; nothing is read from outside the checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 fixture schema. A run draws a fraction of each
# table, keys drawn from the same key spaces (keys 0..n-1 of sf0.1), so
# coordinates spread over the same site frame at a lower density. Each
# fraction is the largest of 1/75, 1/20, 1/5 and 1 whose measured cost keeps
# a run inside the benchmark's time budget (README.md, "Input size"): 1/75
# for the spatial tables (at 1/20 a spatial_join run already takes ~70 s),
# 1/5 for the text tables (ngram_jaccard_pairs: ~1 s warm at 1/5, ~4.5 s on
# all 5000 documents).
SF01_ROWS = {
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
}
FRACTION = 1 / 75
TABLE_FRACTION = {"documents": 1 / 5, "embeddings": 1 / 5}

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _keys(rng: np.random.Generator, space: int, n: int) -> np.ndarray:
    return np.sort(rng.choice(space, size=n, replace=False)).astype(np.int64)


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days * 86_400_000_000, size=n).astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    ids = _keys(rng, SF01_ROWS["documents"], n)
    words = np.array(WORDS)
    texts = [" ".join(rng.choice(words, size=int(rng.integers(10, 100)))) for _ in range(n)]
    # near- and exact duplicates, so every dedup operator has true positives:
    # 1 in 10 documents copies an earlier one, half verbatim, half with a
    # few words replaced
    for i in range(10, n, 10):
        src = texts[int(rng.integers(0, i))].split()
        if i % 20 == 0:
            for j in rng.choice(len(src), size=min(3, len(src)), replace=False):
                src[j] = str(rng.choice(words))
        texts[i] = " ".join(src)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(_keys(rng, SF01_ROWS["embeddings"], n)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """All ten tables for one seed (deterministic); ``scale`` multiplies
    FRACTION (the smoke test runs at 0.25)."""
    rng = np.random.default_rng(seed)
    size = {k: max(10, min(v, round(v * TABLE_FRACTION.get(k, FRACTION) * scale))) for k, v in SF01_ROWS.items()}
    no, nl, ne = size["orders"], size["lineitem"], size["events"]
    nc, ns, npt = size["customer"], size["supplier"], size["part"]
    okeys = _keys(rng, SF01_ROWS["orders"], no)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=nc).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=nc), 2)),
            "c_mktsegment": pa.array(rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], size=nc)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, size=ns).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=ns), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(npt, dtype=np.int64)),
            "p_name": pa.array([f"part {i % 64}" for i in range(npt)]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, size=npt)]),
            "p_type": pa.array(rng.choice(
                ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], size=npt)),
            "p_size": pa.array(rng.integers(1, 51, size=npt).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + np.arange(npt) * 0.1, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(okeys),
            "o_custkey": pa.array(rng.integers(0, nc, size=no).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], size=no)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, size=no), 2)),
            "o_orderdate": _ts(rng, no, "1995-01-01", 2400),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=no)),
        }),
        "lineitem": pa.table({
            # (orderkey, linenumber) repeats, as in the fixture: the crowns
            # view groups on that pair
            "l_orderkey": pa.array(rng.choice(okeys, size=nl)),
            "l_partkey": pa.array(rng.integers(0, npt, size=nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, size=nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=nl).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, size=nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=nl)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], size=nl)),
            "l_shipdate": _ts(rng, nl, "1995-01-02", 2500),
        }),
        "events": pa.table({
            "event_id": pa.array(_keys(rng, SF01_ROWS["events"], ne)),
            "ts": _ts(rng, ne, "2024-01-01", 30),
            "user_id": pa.array(rng.integers(0, 150, size=ne).astype(np.int64)),
            "event_type": pa.array(rng.choice(["error", "click", "view", "signup", "purchase"], size=ne)),
            "value": pa.array(np.round(rng.exponential(50, size=ne), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=ne)]),
        }),
        "documents": _documents(rng, size["documents"]),
        "embeddings": _embeddings(rng, size["embeddings"]),
    }
    return out


def write(seed: int, out_dir: str, scale: float = 1.0) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
