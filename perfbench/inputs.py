"""Seeded benchmark inputs, materialized once as parquet so Spark and the
DuckDB oracle read the same bytes."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_embeddings(directory: str, seed: int, n: int, dim: int, clusters: int) -> str:
    """``embeddings.parquet`` shaped like the repo's fixture (vec_id bigint,
    embedding array<float> of unit length, label int): ``n`` vectors drawn
    around ``clusters`` seeded centres."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, n)
    v = centres[label] + 0.6 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, "embeddings.parquet")
    pq.write_table(table, path)
    return path
