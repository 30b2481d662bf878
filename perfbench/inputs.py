"""Seeded benchmark inputs.

Everything here is a pure function of the seed: the object table and
the query batches are built in NumPy from ``sources.datagen`` hash
streams and written with pyarrow, so the same seed writes byte-identical
parquet files. The engine only ever sees those files.

Object table (``range_queries`` and ``knn_queries``): about 1M integer
boxes on the 2^16 world.
- 30% of the rows (``obj_id % 10 < 3``) sit in a hot square of 16x16
  depth-6 cells, about 5x the mean cell density.
- The other rows are uniform, except that none lies in a void square of
  6x6 depth-6 cells. kNN queries inside the void starve the first ring
  (deep inside) or need the bound pass (near its edge).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from optimizing_spark.config import POW2_WORLD_EDGE
from optimizing_spark.sources import datagen

WORLD = POW2_WORLD_EDGE
DEPTH = 6
CELL = WORLD >> DEPTH
N_OBJECTS = 1_000_000
OBJECT_PARTS = 4
MAX_EXTENT = 64
HOT_EDGE = 16 * CELL
VOID_EDGE = 6 * CELL
N_BATCHES = 64
RANGE_BATCH = 100
KNN_BATCH = 25
KNN_K = 5
HOT_QUERY_SHARE = 0.25
MIN_VIEW, MAX_VIEW = 16.0, 4096.0


def regions(seed: int) -> tuple[tuple[int, int], tuple[int, int]]:
    """Origins of the hot square (left half) and the void (right half),
    so the two never overlap."""
    rng = np.random.default_rng([seed, 1])
    half = WORLD // 2
    hot = (int(rng.integers(0, half - HOT_EDGE - MAX_EXTENT)),
           int(rng.integers(0, WORLD - HOT_EDGE - MAX_EXTENT)))
    void = (int(rng.integers(half, WORLD - VOID_EDGE)),
            int(rng.integers(0, WORLD - VOID_EDGE)))
    return hot, void


def objects_part(seed: int, part: int) -> pa.Table:
    """Rows of one of OBJECT_PARTS slices of the object table:
    obj_id, min_x, min_y, max_x, max_y and the box centre x, y."""
    per = N_OBJECTS // OBJECT_PARTS
    ids = np.arange(part * per, (part + 1) * per, dtype=np.uint64)
    base = datagen.quadtree_objects_pandas(len(ids), seed, ids=ids)
    w = datagen.QT_BENCH_WORLD
    u = base["x"].to_numpy() / (w.max_x - w.min_x)
    v = base["y"].to_numpy() / (w.max_y - w.min_y)
    span = WORLD - MAX_EXTENT - 1
    x = np.floor(u * span)
    y = np.floor(v * span)
    (hx, hy), (vx, vy) = regions(seed)
    hot = (ids % np.uint64(10)) < np.uint64(3)
    x[hot] = hx + np.floor(u[hot] * HOT_EDGE)
    y[hot] = hy + np.floor(v[hot] * HOT_EDGE)
    in_void = (x >= vx - MAX_EXTENT) & (x < vx + VOID_EDGE) & (y >= vy - MAX_EXTENT) & (y < vy + VOID_EDGE)
    keep = hot | ~in_void
    ex = 1.0 + np.floor(base["size_x"].to_numpy() * (MAX_EXTENT - 1) / 100.0)
    ey = 1.0 + np.floor(base["size_y"].to_numpy() * (MAX_EXTENT - 1) / 100.0)
    x, y, ex, ey = x[keep], y[keep], ex[keep], ey[keep]
    return pa.table({
        "obj_id": ids[keep].astype(np.int64),
        "min_x": x, "min_y": y, "max_x": x + ex, "max_y": y + ey,
        "x": x + np.floor(ex / 2), "y": y + np.floor(ey / 2),
    })


def range_batches(seed: int) -> pa.Table:
    """N_BATCHES viewport batches of RANGE_BATCH boxes with log-uniform
    extents; HOT_QUERY_SHARE of the centres fall in the hot square."""
    rng = np.random.default_rng([seed, 2])
    n = N_BATCHES * RANGE_BATCH
    (hx, hy), _ = regions(seed)
    ext = np.floor(np.exp(rng.uniform(np.log(MIN_VIEW), np.log(MAX_VIEW), (n, 2))))
    cx = rng.uniform(0, WORLD, n)
    cy = rng.uniform(0, WORLD, n)
    hot = rng.random(n) < HOT_QUERY_SHARE
    cx[hot] = hx + rng.uniform(0, HOT_EDGE, hot.sum())
    cy[hot] = hy + rng.uniform(0, HOT_EDGE, hot.sum())
    min_x = np.clip(np.floor(cx - ext[:, 0] / 2), 0, WORLD - 1)
    min_y = np.clip(np.floor(cy - ext[:, 1] / 2), 0, WORLD - 1)
    return pa.table({
        "batch": np.repeat(np.arange(N_BATCHES, dtype=np.int32), RANGE_BATCH),
        "query_id": np.arange(n, dtype=np.int64),
        "min_x": min_x, "min_y": min_y,
        "max_x": np.minimum(min_x + ext[:, 0], WORLD - 1),
        "max_y": np.minimum(min_y + ext[:, 1], WORLD - 1),
    })


def knn_batches(seed: int) -> pa.Table:
    """N_BATCHES batches of KNN_BATCH query points: the first half in the
    hot square, the rest in the void."""
    rng = np.random.default_rng([seed, 3])
    (hx, hy), (vx, vy) = regions(seed)
    n_hot = KNN_BATCH // 2
    n = N_BATCHES * KNN_BATCH
    hot = np.tile(np.arange(KNN_BATCH) < n_hot, N_BATCHES)
    x = np.where(hot, hx, vx) + np.floor(rng.uniform(0, 1, n) * np.where(hot, HOT_EDGE, VOID_EDGE))
    y = np.where(hot, hy, vy) + np.floor(rng.uniform(0, 1, n) * np.where(hot, HOT_EDGE, VOID_EDGE))
    return pa.table({
        "batch": np.repeat(np.arange(N_BATCHES, dtype=np.int32), KNN_BATCH),
        "query_id": np.arange(n, dtype=np.int64),
        "x": x, "y": y,
    })


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
