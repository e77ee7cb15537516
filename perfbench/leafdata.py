"""Seeded input tables for the `operator_leaves` workload.

The registry queries in `__spark_entry__.py` read parquet tables by name
from one directory. This module writes the tables those leaves need, in
the same column shapes, from a seed, so the benchmark carries no data
files:

- `documents`: 30-word uniform vocabulary, 10-100 tokens per doc, ~5%
  near-duplicate copies marked with `dup`, five languages, 20 sources;
- `embeddings`: 64-dim float vectors in 10 gaussian clusters;
- `lineitem`: supplier/part keys for the supplier→part link graph
  (connected components, PageRank, HITS);
- `nation` / `customer`: the containment hierarchy for the path query
  and the SKOS vocabulary.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(3):
                words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            idx = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[j] for j in idx))
    lang = rng.choice(LANGS, size=n_docs, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    centers = rng.normal(0, 0.25, size=(10, 64)).astype(np.float32)
    labels = rng.integers(0, 10, size=n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.08, size=(n_vecs, 64)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in vecs.astype(np.float32)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels.tolist(), pa.int32()),
        }
    )


def _lineitem(rng: np.random.Generator, n_rows: int, n_supp: int, n_part: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": pa.array(np.arange(n_rows, dtype=np.int64) // 4),
            "l_partkey": pa.array(rng.integers(1, n_part + 1, size=n_rows, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(1, n_supp + 1, size=n_rows, dtype=np.int64)),
        }
    )


def _nation() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)], pa.string()),
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }
    )


def _customer(rng: np.random.Generator, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust).astype(np.int32)),
        }
    )


def write_leaf_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                      n_lineitem: int, n_customers: int) -> None:
    """Write every table the benchmark's registry leaves read."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
        "lineitem": _lineitem(rng, n_lineitem, n_supp=max(n_lineitem // 600, 10),
                              n_part=max(n_lineitem // 30, 100)),
        "nation": _nation(),
        "customer": _customer(rng, n_customers),
    }
    for name, table in tables.items():
        # small row groups keep each file splittable across cores
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows // 8, 1))
