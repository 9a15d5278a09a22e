"""Seeded input tables for the benchmark's catalog rows.

The catalog rows in ``spacetime_crawler4py_spark.queries`` read
parquet tables by name from a directory.  The benchmark writes the
tables its rows read (``lineitem``, ``documents``, ``embeddings``)
from its own seed, with the shapes of the repository's TPC-H-style
test tables: a 31-word vocabulary, 10-99-word documents of which a
few are near-duplicates (an earlier document plus a ``dup`` tail),
and 64-dimensional float32 embeddings around 10 cluster centres.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]

N_DOCS = 400
N_VECS = 400
N_LINEITEM = 20_000
DIM = 64


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.normal(0.0, 1.0, (10, DIM))
    label = rng.integers(0, 10, n)
    vecs = centres[label] + rng.normal(0.0, 0.6, (n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 105_000.0, n), 2)
    ship0 = dt.datetime(1995, 1, 2)
    days = rng.integers(0, 365 * 7, n)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n)],
            "l_shipdate": pa.array(
                [ship0 + dt.timedelta(days=int(d)) for d in days], pa.timestamp("us")
            ),
        }
    )


def write_tables(out_dir: str, seed: int) -> None:
    """Write the catalog input tables for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, N_DOCS),
        "embeddings": _embeddings(rng, N_VECS),
        "lineitem": _lineitem(rng, N_LINEITEM),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
