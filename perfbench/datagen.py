"""Seeded generator for the benchmark's input tables.

Writes the ten tables ``suite.QUERIES`` read (``sources.TABLES``) as one
single-row-group parquet file each, with the schemas, row counts and value
domains of the sf0.1 tables described in TESTDATA.md / FIXTURES.md:

* a TPC-H-shaped star (region, nation, customer, supplier, part, orders,
  lineitem) with uniform keys, so joins and group-bys see the same
  cardinalities as sf0.1;
* ``events``: a click stream with exponential inter-arrival times, sorted by
  ``event_id`` like the original, so windows and sessions cut the same way;
* ``documents``: texts over a 30-word vocabulary, 5 % of them near
  duplicates (an earlier text plus one token) and a few exact copies, which
  is what the LSH / prefix-filter / dedup operators find;
* ``embeddings``: 64-d unit vectors in 10 weakly separated classes.

The same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
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
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMB_DIM = 64
EMB_CLASSES = 10
NEAR_DUP_FRAC = 0.05
EXACT_DUPS = 8


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    # each copy takes its text from a distinct original, so the corpus
    # has exactly EXACT_DUPS repeated texts and n_near (text, text + " dup")
    # pairs
    n_copies = int(n * NEAR_DUP_FRAC) + EXACT_DUPS
    perm = rng.permutation(n)
    for j, (dst, src) in enumerate(zip(perm[:n_copies], perm[n_copies : 2 * n_copies])):
        texts[dst] = texts[src] if j < EXACT_DUPS else texts[src] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, EMB_CLASSES, n).astype(np.int32)
    centers = rng.normal(0.0, 0.15, (EMB_CLASSES, EMB_DIM))
    v = centers[labels] + rng.normal(0.0, 1.0, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": labels,
        }
    )


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at ``scale`` times the sf0.1 row counts
    (region and nation keep their fixed sizes)."""
    rng = np.random.default_rng(seed)
    r = {k: int(n * scale) for k, n in SF01_ROWS.items()}
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
    }
    n = r["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    )
    n = r["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = r["part"]
    keys = np.arange(n, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )
    n = r["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, r["customer"], n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n, rng),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
        }
    )
    n = r["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, r["orders"], n).astype(np.int64),
            "l_partkey": rng.integers(0, r["part"], n).astype(np.int64),
            "l_suppkey": rng.integers(0, r["supplier"], n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days("1995-01-02", "2001-11-04", n, rng),
        }
    )
    n = r["events"]
    gaps_us = rng.exponential(30 * 86400e6 / n, n).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us),
            "user_id": rng.integers(0, 1500, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    out["documents"] = _documents(rng, r["documents"])
    out["embeddings"] = _embeddings(rng, r["embeddings"])
    return out


def write(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; return file sizes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tbl in tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=len(tbl) + 1, compression="snappy")
        sizes[name] = os.path.getsize(path)
    return sizes
