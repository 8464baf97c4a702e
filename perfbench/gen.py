"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (``sources.tables.TABLES``) as one
parquet file each, with the column names, types and value shapes of the
fixtures described in ``FIXTURES.md``: a TPC-H-like star schema,
an ``events`` stream, a ``documents`` corpus with planted near-duplicates
(5% of the documents copy another one and append the token ``dup``) and
64-dimensional unit ``embeddings``.

Row counts depend only on ``scale`` (1.0 = the sf0.01 sizes of
``FIXTURES.md``).  Values come from one fixed seed, so every run of the
benchmark reads the same bytes at a given scale; a run's ``--seed``
changes only the order of its queries.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.01 row counts of the scaled tables
BASE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64
DUP_FRAC = 0.05
DATA_SEED = 20240101


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale``; the two fixed dimension tables included."""
    rows = {k: max(10, int(round(v * scale))) for k, v in BASE_ROWS.items()}
    return {"region": 5, "nation": 25, **rows}


def _day_us(start: str, days):
    base = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = row_counts(scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)],
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(p, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, p)],
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
            "o_totalprice": _money(rng, 1000, 500000, o),
            # 1995-01-01 .. 2001-08-01
            "o_orderdate": _day_us("1995-01-01", rng.integers(0, 2404, o)),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)],
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li),
            "l_partkey": rng.integers(0, p, li),
            "l_suppkey": rng.integers(0, s, li),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
            # 1995-01-02 .. 2001-11-04
            "l_shipdate": _day_us("1995-01-02", rng.integers(0, 2498, li)),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    span_us = 30 * 86_400_000_000
    t["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": pa.array(
                np.sort(start + rng.integers(0, span_us, e)), pa.timestamp("us")
            ),
            "user_id": rng.integers(0, max(2, (e * 3) // 200), e),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    lens = rng.integers(10, 100, d)
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k)) for k in lens]
    dups = rng.choice(d, size=max(1, int(d * DUP_FRAC)), replace=False)
    for i in dups:
        j = int(rng.integers(0, d))
        if j == i:
            j = (j + 1) % d
        texts[i] = texts[j] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, size=d, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    v = n["embeddings"]
    x = rng.standard_normal((v, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(v, dtype=np.int64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, v).astype(np.int32),
        }
    )
    return t


def generate(out_dir: str, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir`` (atomically: a finished dir is
    renamed into place) and return the row counts written."""
    if os.path.isdir(out_dir):
        return verify(out_dir, scale)
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, table in _tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)
    return verify(out_dir, scale)


def verify(data_dir: str, scale: float) -> dict[str, int]:
    """Check every table's row count against ``row_counts(scale)``."""
    want = row_counts(scale)
    got = {
        name: pq.read_metadata(os.path.join(data_dir, f"{name}.parquet")).num_rows
        for name in want
    }
    if got != want:
        raise RuntimeError(f"fixture row counts {got} != expected {want}")
    return got

