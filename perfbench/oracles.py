"""Result oracles: independent computations of each op's answer, run
outside the timed window.

- range: the 2D rect-overlap search (query min strict, query max
  closed) as a NumPy sweep over objects sorted by min_x, counted per
  query.
- kNN: brute force over every object in NumPy, ordered by squared
  distance then obj_id.
- tiling: NumPy re-derivation of qt_depth / qt_code / cell_prefix from
  the written (ix, iy, sx, sy), plus histogram totals.

The range and kNN twins are NumPy, not DuckDB: on 1M objects the DuckDB
1.0 in this toolchain takes about 0.65 s per 100-query range batch
(inequality join), and it has no top-n aggregate, so a windowed top-5
over the cross product of one kNN batch takes about 4 s.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

class RangeOracle:
    """Objects sorted by min_x. An object overlapping query q has
    min_x > q.min_x - E, where E is the widest object, so only the
    objects with min_x in (q.min_x - E, q.max_x] need the exact test."""

    def __init__(self, objects: pa.Table):
        order = np.argsort(objects["min_x"].to_numpy(), kind="stable")
        self.box = {c: objects[c].to_numpy()[order] for c in ("min_x", "min_y", "max_x", "max_y")}
        self.widest = float((self.box["max_x"] - self.box["min_x"]).max())

    def counts(self, queries: pa.Table) -> dict[int, int]:
        """Hit count per query (queries without hits are absent)."""
        b, out = self.box, {}
        for q in queries.to_pylist():
            lo = np.searchsorted(b["min_x"], q["min_x"] - self.widest, side="right")
            hi = np.searchsorted(b["min_x"], q["max_x"], side="right")
            s = slice(lo, hi)
            n = int(np.count_nonzero((q["min_x"] < b["max_x"][s]) & (q["max_x"] >= b["min_x"][s])
                                     & (q["min_y"] < b["max_y"][s]) & (q["max_y"] >= b["min_y"][s])))
            if n:
                out[q["query_id"]] = n
        return out


def knn_rows(x: np.ndarray, y: np.ndarray, obj_id: np.ndarray,
             queries: pa.Table, k: int) -> list[tuple[int, int, float, int]]:
    """(query_id, obj_id, d2, rank) for the k nearest objects of each query."""
    out = []
    for qid, qx, qy in zip(queries["query_id"].to_numpy(), queries["x"].to_numpy(),
                           queries["y"].to_numpy()):
        d2 = (x - qx) * (x - qx) + (y - qy) * (y - qy)
        near = np.argpartition(d2, k - 1)[:k]
        # every object tied with the k-th distance competes on obj_id
        cand = np.flatnonzero(d2 <= d2[near].max())
        order = cand[np.lexsort((obj_id[cand], d2[cand]))][:k]
        out.extend((int(qid), int(obj_id[i]), float(d2[i]), r + 1) for r, i in enumerate(order))
    return out


def same_rows(got, expected) -> bool:
    return sorted(map(tuple, got)) == sorted(map(tuple, expected))


def qt_cells(ix, iy, sx, sy, world_bits: int = 16, max_node_depth: int = 4,
             prefix_depth: int = 2):
    """(qt_depth, qt_code, cell_prefix) of integer boxes [i, i+s): the
    deepest quadtree level whose cell holds the box (min-closed,
    max-strict), its Morton code (x on even bits) and the code's prefix
    at min(depth, prefix_depth)."""
    ix, iy = ix.astype(np.int64), iy.astype(np.int64)
    ax, ay = ix + sx.astype(np.int64), iy + sy.astype(np.int64)
    world = 1 << world_bits
    depth = np.zeros(len(ix), dtype=np.int64)
    for d in range(1, max_node_depth + 1):
        sh = world_bits - d
        fits = ((ix >> sh) == (ax >> sh)) & (ax < world) & ((iy >> sh) == (ay >> sh)) & (ay < world)
        depth = np.where(fits, d, depth)
    cx = ix >> (world_bits - max_node_depth)
    cy = iy >> (world_bits - max_node_depth)
    deep = np.zeros(len(ix), dtype=np.int64)
    for b in range(max_node_depth):
        deep |= ((cx >> b) & 1) << (2 * b)
        deep |= ((cy >> b) & 1) << (2 * b + 1)
    code = deep >> (2 * (max_node_depth - depth))
    prefix = code >> (2 * (depth - np.minimum(depth, prefix_depth)))
    return depth, code, prefix


def tile_ok(out_dir: str, histogram, n_docs: int) -> bool:
    """The written slice has n_docs rows whose cell columns match the
    re-derivation, and the collected histogram counts them all."""
    t = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(
        columns=["ix", "iy", "sx", "sy", "qt_depth", "qt_code", "cell_prefix"])
    if t.num_rows != n_docs:
        return False
    c = {name: t[name].to_numpy() for name in t.column_names}
    depth, code, prefix = qt_cells(c["ix"], c["iy"], c["sx"], c["sy"])
    if not (np.array_equal(depth, c["qt_depth"]) and np.array_equal(code, c["qt_code"])
            and np.array_equal(prefix, c["cell_prefix"])):
        return False
    want = Counter(zip(depth.tolist(), code.tolist()))
    return {(int(d), int(k)): int(n) for d, k, n in histogram} == want


def cell_cover(boxes: pa.Table, depth: int, world: float) -> np.ndarray:
    """(2^depth)^2 grid counting the boxes that cover each cell, with the
    clamped min/max cell rule of ``tiling.explode_covering_cells``."""
    n = 1 << depth
    size = world / n

    def cell(col: str) -> np.ndarray:
        return np.clip(np.floor(boxes[col].to_numpy() / size), 0, n - 1).astype(np.int64)

    x0, x1, y0, y1 = cell("min_x"), cell("max_x") + 1, cell("min_y"), cell("max_y") + 1
    diff = np.zeros((n + 1, n + 1), dtype=np.int64)
    for xs, ys, sign in ((x0, y0, 1), (x1, y0, -1), (x0, y1, -1), (x1, y1, 1)):
        np.add.at(diff, (xs, ys), sign)
    return diff.cumsum(0).cumsum(1)[:n, :n]


def cell_candidates(object_cover: np.ndarray, queries: pa.Table, depth: int, world: float) -> int:
    """(query, object) pairs that share a cell: what the cell equi-join
    compares before the exact overlap and reporting-cell filters."""
    return int((cell_cover(queries, depth, world) * object_cover).sum())
