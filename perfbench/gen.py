"""Seeded input generators for the benchmark.

``write_tables`` writes the ten catalog tables (the star schema plus
``events``, ``documents`` and ``embeddings``) with the column names,
types and value domains of the engine's test fixtures, at the row
counts of the 0.01 scale factor. Row values come from ``seed`` alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the 0.01 scale factor, the engine's correctness scale.
# The 0.1 bench scale does not fit the run schedule: on a 4-core host a
# traced curation pass at 0.1 takes 1.5x the wall, 2.7x the task time
# and 10x the shuffle bytes, and the checks take 3x as long.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
N_USERS = 150
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05

_DAY_US = 86_400_000_000


def _days_us(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return rng.integers(lo, hi + 1, n).astype("int64") * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Texts over a 30-word vocabulary; a ``DUP_SHARE`` of them are an
    earlier original document's text plus " dup", the near-duplicates
    the dedup queries look for. Copies are never copied again, so every
    near-duplicate cluster is a star and the clustering queries take the
    same number of rounds whatever the seed."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < DUP_SHARE:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype="int64")
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors in ``N_LABELS`` loose clusters."""
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    centers *= 0.14 / np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n).astype("int32")
    x = centers[labels] + rng.normal(scale=0.125, size=(n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": pa.array(list(x.astype("float32")), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )


def _rng(seed: int, table: str) -> np.random.Generator:
    """One stream per table, so a table's rows depend only on the seed."""
    return np.random.default_rng([seed, TABLES.index(table)])


def documents(seed: int) -> pa.Table:
    """The ``documents`` table alone (the streaming workload's input)."""
    return _documents(_rng(seed, "documents"), ROWS["documents"])


def make_tables(seed: int) -> dict[str, pa.Table]:
    r = ROWS
    t = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    rng, n = _rng(seed, "customer"), r["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n)],
        }
    )
    rng, n = _rng(seed, "supplier"), r["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    rng, n = _rng(seed, "part"), r["part"]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n, dtype="int64"),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n, 2))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
        }
    )
    rng, n = _rng(seed, "orders"), r["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": rng.integers(0, r["customer"], n).astype("int64"),
            "o_orderstatus": [["F", "O", "P"][j] for j in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", n)),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n)],
        }
    )
    rng, n = _rng(seed, "lineitem"), r["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, r["orders"], n).astype("int64"),
            "l_partkey": rng.integers(0, r["part"], n).astype("int64"),
            "l_suppkey": rng.integers(0, r["supplier"], n).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n).astype("int32"),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": [["A", "N", "R"][j] for j in rng.integers(0, 3, n)],
            "l_linestatus": [["F", "O"][j] for j in rng.integers(0, 2, n)],
            "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", n)),
        }
    )
    rng, n = _rng(seed, "events"), r["events"]
    t["events"] = pa.table(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": _ts(
                np.datetime64("2024-01-01", "us").astype("int64")
                + np.sort(rng.integers(0, 30 * _DAY_US, n))
            ),
            "user_id": rng.integers(0, N_USERS, n).astype("int64"),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)],
        }
    )
    t["documents"] = documents(seed)
    t["embeddings"] = _embeddings(_rng(seed, "embeddings"), r["embeddings"])
    return t


def write_tables(seed: int, out_dir: str) -> str:
    """Write every table as ``{out_dir}/{name}.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
