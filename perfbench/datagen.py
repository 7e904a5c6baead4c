"""Seeded generator for the benchmark's input tables.

Writes the same ten tables, with the same column names and Arrow types,
as the TPC-H-like test data the library is developed against (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings), one single-row-group parquet file per table. ``scale``
follows TPC-H scale factors: at ``scale=0.1`` lineitem has ~600k rows,
customer 15k, documents 5k and embeddings 2k. The same ``(seed, scale)``
always produces byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "shiny", "small"]
_PART_NOUN = ["bolt", "gear", "nut", "plate", "ring", "screw", "spring"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a the data spark scan filter join sort hash group agg window row "
         "column table query key value stream batch merge vector customer "
         "order part line fast slow big small index plan cache shuffle "
         "partition task stage driver").split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in µs


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts: integer cents, divided once, so every
    value is the nearest double to a 2-decimal literal."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, name + ".parquet"),
                   row_group_size=max(table.num_rows, 1))


def _texts(rng, n: int) -> list[str]:
    """Bag-of-words documents with planted exact and near duplicates,
    so the dedup and similarity tiers have pairs to find."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(8, 90, n)
    docs = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    n_dup = max(n // 50, 2)
    src = rng.integers(0, n, n_dup)
    dst = rng.integers(0, n, n_dup)
    for i, (s, d) in enumerate(zip(src, dst)):
        words = docs[s].split()
        if i % 2:  # near duplicate: one word replaced
            words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
        docs[d] = " ".join(words)
    return docs


def generate(out_dir: str, seed: int, scale: float,
             tables: list[str] | None = None) -> dict[str, int]:
    """Write ``tables`` (default: all) under ``out_dir``; returns rows per
    table. Each table draws from its own generator seeded with
    ``(seed, table)``, so a table's values do not depend on which other
    tables are written."""
    os.makedirs(out_dir, exist_ok=True)
    n = {"customer": max(int(150_000 * scale), 50),
         "supplier": max(int(10_000 * scale), 10),
         "part": max(int(200_000 * scale), 50),
         "orders": max(int(1_500_000 * scale), 100),
         "documents": max(int(50_000 * scale), 50),
         "embeddings": max(int(20_000 * scale), 40),
         "events": max(int(1_000_000 * scale), 100)}
    rows = {}
    for name in tables or TABLES:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        cols = _BUILDERS[name](rng, n)
        _write(out_dir, name, cols)
        rows[name] = len(next(iter(cols.values())))
    return rows


def _region(rng, n):
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}


def _nation(rng, n):
    return {"n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}


def _customer(rng, n):
    k = n["customer"]
    return {"c_custkey": np.arange(k, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": rng.integers(0, 25, k).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, k)]}


def _supplier(rng, n):
    k = n["supplier"]
    return {"s_suppkey": np.arange(k, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": rng.integers(0, 25, k).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, k)}


def _part(rng, n):
    k = n["part"]
    return {"p_partkey": np.arange(k, dtype="int64"),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(
                rng.integers(0, len(_PART_ADJ), k),
                rng.integers(0, len(_PART_NOUN), k))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, k)],
            "p_size": rng.integers(1, 51, k).astype("int32"),
            "p_retailprice": _money(rng, 900.0, 2099.0, k)}


def _orders(rng, n):
    k = n["orders"]
    return {"o_orderkey": np.arange(k, dtype="int64"),
            "o_custkey": rng.integers(0, n["customer"], k).astype("int64"),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, k) * _DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)]}


def _lineitem(rng, n):
    lines = rng.integers(1, 8, n["orders"])  # ~4 lines per order
    k = int(lines.sum())
    first = np.cumsum(lines) - lines
    return {"l_orderkey": np.repeat(np.arange(n["orders"], dtype="int64"), lines),
            "l_partkey": rng.integers(0, n["part"], k).astype("int64"),
            "l_suppkey": rng.integers(0, n["supplier"], k).astype("int64"),
            "l_linenumber": (np.arange(k) - np.repeat(first, lines) + 1).astype("int32"),
            "l_quantity": rng.integers(1, 51, k).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, k) * _DAY_US)}


def _events(rng, n):
    k = n["events"]
    return {"event_id": np.arange(k, dtype="int64"),
            "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, k))),
            "user_id": rng.integers(0, max(k // 66, 10), k).astype("int64"),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, k)],
            "value": _money(rng, 0.0, 100.0, k),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]}


def _documents(rng, n):
    k = n["documents"]
    texts = _texts(rng, k)
    return {"doc_id": np.arange(k, dtype="int64"),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), k)],
            "source": [f"src{s}" for s in rng.integers(0, 20, k)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64")}


def _embeddings(rng, n):
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centroids = rng.normal(size=(10, 64))
    vecs = centroids[labels] + rng.normal(scale=0.6, size=(k, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {"vec_id": np.arange(k, dtype="int64"),
            "embedding": pa.array(list(vecs.astype("float32")),
                                  pa.list_(pa.float32())),
            "label": labels.astype("int32")}


_BUILDERS = {"region": _region, "nation": _nation, "customer": _customer,
             "supplier": _supplier, "part": _part, "orders": _orders,
             "lineitem": _lineitem, "events": _events, "documents": _documents,
             "embeddings": _embeddings}
