"""Seeded inputs for the lakehouse benchmark.

Everything the engine reads comes from here, as parquet files: the source
star schema (the same column layout as the engine's test tables: a
TPC-H-shaped schema with independent uniform columns, plus the
``documents`` corpus) and the document slices of the fold workload. The
same seed gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

FIRST_DAY = dt.date(1995, 1, 1)
LAST_DAY = dt.date(2001, 8, 1)
# the fold workload's held-out documents: doc_id % ARRIVAL_MOD == 0 (the
# engine's own late-arrival split, llmdata.incrstats.DOC_ARRIVAL_MOD)
ARRIVAL_MOD = 10

_EPOCH = dt.date(1970, 1, 1)


def _day_us(day: dt.date) -> int:
    return (day - _EPOCH).days * 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _write(path: str, table: pa.Table) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": max(100, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n)], pa.string()),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, 20, n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_source(out_dir: str, seed: int, sf: float, n_docs: int) -> None:
    """Write every source table under ``out_dir`` as ``<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    span = (LAST_DAY - FIRST_DAY).days
    first = (FIRST_DAY - _EPOCH).days

    _write(
        os.path.join(out_dir, "region.parquet"),
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
    )
    _write(
        os.path.join(out_dir, "nation.parquet"),
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )
    nc = n["customer"]
    _write(
        os.path.join(out_dir, "customer.parquet"),
        pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
                "c_mktsegment": pa.array(
                    np.array(SEGMENTS)[rng.integers(0, 5, nc)], pa.string()
                ),
            }
        ),
    )
    ns = n["supplier"]
    _write(
        os.path.join(out_dir, "supplier.parquet"),
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
            }
        ),
    )
    npart = n["part"]
    keys = np.arange(npart)
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
    ]
    _write(
        os.path.join(out_dir, "part.parquet"),
        pa.table(
            {
                "p_partkey": pa.array(keys, pa.int64()),
                "p_name": pa.array(names, pa.string()),
                "p_brand": pa.array(
                    [f"Brand#{i}" for i in rng.integers(1, 26, npart)], pa.string()
                ),
                "p_type": pa.array(
                    np.array(PART_TYPES)[rng.integers(0, 6, npart)], pa.string()
                ),
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": pa.array(
                    np.round(900.0 + (keys % 1000) / 10.0, 1), pa.float64()
                ),
            }
        ),
    )
    no = n["orders"]
    _write(
        os.path.join(out_dir, "orders.parquet"),
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": pa.array(
                    np.array(STATUSES)[rng.integers(0, 3, no)], pa.string()
                ),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), pa.float64()),
                "o_orderdate": _ts(first + rng.integers(0, span + 1, no)),
                "o_orderpriority": pa.array(
                    np.array(PRIORITIES)[rng.integers(0, 5, no)], pa.string()
                ),
            }
        ),
    )
    nl = n["lineitem"]
    _write(
        os.path.join(out_dir, "lineitem.parquet"),
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": pa.array(
                    rng.integers(1, 51, nl).astype(np.float64), pa.float64()
                ),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl), pa.float64()),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
                "l_returnflag": pa.array(
                    np.array(["A", "N", "R"])[rng.integers(0, 3, nl)], pa.string()
                ),
                "l_linestatus": pa.array(
                    np.array(["F", "O"])[rng.integers(0, 2, nl)], pa.string()
                ),
                "l_shipdate": _ts(first + rng.integers(0, span + 1, nl)),
            }
        ),
    )
    _write(os.path.join(out_dir, "documents.parquet"), _documents(rng, n_docs))
    # events/embeddings feed no benchmarked operator; they exist (small)
    # so every source view of the oracle connection resolves
    ne = 1_000
    t0 = _day_us(dt.date(2024, 1, 1))
    _write(
        os.path.join(out_dir, "events.parquet"),
        pa.table(
            {
                "event_id": pa.array(np.arange(ne), pa.int64()),
                "ts": pa.array(
                    np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, ne)),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, 100, ne), pa.int64()),
                "event_type": pa.array(
                    np.array(EVENT_TYPES)[rng.integers(0, 5, ne)], pa.string()
                ),
                "value": pa.array(_money(rng, 0.0, 200.0, ne), pa.float64()),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()
                ),
            }
        ),
    )
    nv = 100
    _write(
        os.path.join(out_dir, "embeddings.parquet"),
        pa.table(
            {
                "vec_id": pa.array(np.arange(nv), pa.int64()),
                "embedding": pa.array(
                    [list(v) for v in rng.standard_normal((nv, 64)).astype(np.float32)],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(rng.integers(0, 4, nv), pa.int32()),
            }
        ),
    )


def doc_slices(n_docs: int, seed: int, slice_size: int) -> list[np.ndarray]:
    """Disjoint seeded slices of the held-out documents (sorted ids)."""
    held = np.arange(0, n_docs, ARRIVAL_MOD)
    held = held[np.random.default_rng([seed, 2]).permutation(len(held))]
    return [
        np.sort(held[i : i + slice_size])
        for i in range(0, len(held) - slice_size + 1, slice_size)
    ]


def write_doc_slice(src: str, path: str, ids: np.ndarray) -> int:
    """Write the ``documents`` rows with the given ids; returns bytes."""
    docs = pq.read_table(src)
    mask = np.isin(docs.column("doc_id").to_numpy(), ids)
    return _write(path, docs.filter(pa.array(mask)))
