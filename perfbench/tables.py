"""Seeded tables for the ``table_checks`` workload, shaped like the
registry's sf test-data tables.

Same schemas as those (``lineitem``, ``orders``, ``documents``, ``events``,
``embeddings``) and the same layout: ONE parquet file with ONE row group per
table, so scans run as one task and the engine's ``spread_small_input``
decisions fire. ``scale`` is the fraction of the sf0.1 row counts. The same
(seed, scale) gives the same files.

The value distributions follow the sf0.1 tables, not the TPC-H
specification: there every column is drawn independently, so
``l_orderkey`` is uniform over the orders and ``l_linenumber`` uniform in
1..7 (the (l_orderkey, l_linenumber) key has ~118k duplicate clusters and
~1.8 % of the orders have no lines). ``perfbench/shape.py`` checks the
generator against figures recorded from sf0.1 (``sf01_shape.json``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("lineitem", "orders", "documents", "events", "embeddings")

# row counts at sf0.1
_SF01 = {"lineitem": 600_000, "orders": 150_000, "customers": 15_000,
         "parts": 20_000, "suppliers": 1_000, "events": 100_000,
         "users": 1_500, "documents": 5_000, "embeddings": 2_000}

_WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000
_EPOCH_2024_US = 1_704_067_200_000_000


def _n(key: str, scale: float) -> int:
    return max(10, int(_SF01[key] * scale))


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _lineitem(rng, scale):
    n = _n("lineitem", scale)
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": rng.integers(0, _n("orders", scale), n),
        "l_partkey": rng.integers(0, _n("parts", scale), n),
        "l_suppkey": rng.integers(0, _n("suppliers", scale), n),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2_500, n) * _DAY_US),
    })


def _orders(rng, scale):
    n = _n("orders", scale)
    return pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, _n("customers", scale), n),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n),
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n), 2),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2_405, n) * _DAY_US),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n),
    })


def _documents(rng, scale):
    n = _n("documents", scale)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in rng.integers(10, 101, n)]
    # a few exact duplicates, as in the registry tables (exact-dedup evidence)
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[(i + 1) % n]
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _events(rng, scale):
    n = _n("events", scale)
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(_EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, n))),
        "user_id": rng.integers(0, _n("users", scale), n),
        "event_type": rng.choice(
            np.array(["view", "click", "purchase", "signup", "error"]), n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _embeddings(rng, scale):
    n = _n("embeddings", scale)
    label = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[label] + rng.normal(0.0, 0.8, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label,
    })


_BUILDERS = {"lineitem": _lineitem, "orders": _orders,
             "documents": _documents, "events": _events,
             "embeddings": _embeddings}


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, name in enumerate(TABLES):
        table = _BUILDERS[name](np.random.default_rng([seed, i]), scale)
        _write(os.path.join(out_dir, f"{name}.parquet"), table)
        rows[name] = table.num_rows
    return rows
