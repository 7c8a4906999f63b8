"""Benchmark inputs, made from the seed.

Values come from a fixed base generator, so every seed holds the same
rows with the same value distributions. The seed only permutes row
order and the file layout (which rows land in which file, and the
parquet row-group size). Every seed therefore does the same work and
must give the same answers.

Two input sets:

* the Glamira raw tables, written by the package's own
  ``write_raw_tables`` and then re-laid-out by the seed;
* the analyst tables (TPC-H-shaped star schema, ``events``,
  ``documents``, ``embeddings``) in the schema and value domains the
  registered queries read: one parquet file per table, named
  ``<table>.parquet`` so Spark and DuckDB read the same file.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Base generator seed for values. Never derived from ``--seed``.
VALUE_SEED = 20150101

#: Analyst table sizes (about TPC-H scale factor 0.01).
ANALYST_SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "red", "blue", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.42, 0.15, 0.15, 0.14, 0.14]
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000


def _days(start: str, n: int) -> np.ndarray:
    return np.datetime64(start, "D") + np.arange(n)


def _base_tables() -> dict[str, pa.Table]:
    """Every analyst table in canonical row order (seed-independent)."""
    rng = np.random.default_rng(VALUE_SEED)
    n = ANALYST_SIZES
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })

    npart = n["part"]
    retail = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })

    no = n["orders"]
    order_days = _days("1995-01-01", 2404)  # through 2001-08-01
    odate = order_days[rng.integers(0, len(order_days), no)]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })

    lines_per_order = rng.integers(1, 8, no)
    nl = int(lines_per_order.sum())
    l_order = np.repeat(np.arange(no), lines_per_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    l_part = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odate[l_order] + rng.integers(1, 96, nl).astype("timedelta64[D]")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.95, 1.05, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })

    ne = n["events"]
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start_us + rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, ne // 67, ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup workload
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })

    nv = n["embeddings"]
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, nv)
    vecs = 0.35 * centers[labels] + rng.normal(size=(nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _permute(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def write_analyst_tables(out_dir: Path, seed: int) -> dict[str, int]:
    """Write every analyst table under ``out_dir``; returns row counts."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for name, table in _base_tables().items():
        table = _permute(table, rng)
        groups = 1 + int(rng.integers(0, 4))
        pq.write_table(
            table,
            out_dir / f"{name}.parquet",
            row_group_size=max(1, -(-table.num_rows // groups)),
        )
        rows[name] = table.num_rows
    return rows


def relayout(src_dir: Path, dst_dir: Path, seed: int, files: int = 4) -> dict[str, int]:
    """Copy each parquet table directory under ``src_dir`` to ``dst_dir``
    with its rows permuted by ``seed`` and dealt into ``files`` files.

    Used on the output of ``write_raw_tables``: the package writes the
    raw tables in one fixed order, and the seed then decides row order
    and which file holds which row.
    """
    rng = np.random.default_rng(seed)
    rows = {}
    for src in sorted(p for p in src_dir.iterdir() if p.is_dir()):
        table = _permute(pq.read_table(src), rng)
        dst = dst_dir / src.name
        dst.mkdir(parents=True, exist_ok=True)
        cuts = np.linspace(0, table.num_rows, files + 1).astype(int)
        for i in range(files):
            part = table.slice(cuts[i], cuts[i + 1] - cuts[i])
            pq.write_table(part, dst / f"part-{i:05d}.parquet")
        rows[src.name.removesuffix(".parquet")] = table.num_rows
    return rows
