"""Seeded input tables for the benchmark.

Writes the ten tables ``f1_lakehouse_spark.tables.TABLE_NAMES`` reads, one
parquet file each, with the schemas and value domains of the repository's
synthetic TPC-H-ish test data (TESTDATA.md): the star schema, an ``events``
stream, a ``documents`` corpus with ~5% near-duplicates, and 64-d unit
``embeddings`` in ten weak clusters. Row counts scale with ``sf`` the way the
test data's do (sf0.01: 60k lineitem, 15k orders, 10k events, 500 documents).

The same ``seed`` and ``sf`` always give byte-identical column values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (floors keep tiny scales usable)."""
    return {
        "customer": max(15, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(150, round(1_500_000 * sf)),
        "lineitem": max(600, round(6_000_000 * sf)),
        "events": max(1000, round(1_000_000 * sf)),
        "users": max(15, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    days = rng.integers(0, span_days, n)
    return np.datetime64(start, "us") + days.astype("timedelta64[D]")


def _i64(k: int) -> pa.Array:
    """Keys 0..k-1."""
    return pa.array(np.arange(k, dtype=np.int64))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup queries'
            # positives (the test data marks them with trailing "dup" tokens)
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = 0.15 * centers[labels] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, derived from ``seed`` only."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": _i64(nc),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": _i64(ns),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": _i64(npart),
            "p_name": _pick(rng, names, npart),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": _i64(no),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": pa.array(_dates(rng, "1995-01-01", 2405, no)),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl)),
            "l_partkey": pa.array(rng.integers(0, npart, nl)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": pa.array(_dates(rng, "1995-01-02", 2499, nl)),
        }
    )
    ne = n["events"]
    offs = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table(
        {
            "event_id": _i64(ne),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n["users"], ne)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table, named as ``tables.table_path`` expects."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
