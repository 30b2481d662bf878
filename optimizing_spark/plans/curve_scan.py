"""Space-filling-curve range scans: arbitrary-box reads over a table
clustered by a Morton (Z-order) or Hilbert key that open only the
row groups the box can touch.

A query box decomposes into merged full-resolution code ranges by a
quadtree descent (the Z-region decomposition, Tropf & Herzog 1981,
public literature): a cell fully inside the box emits its whole code
block; a boundary cell recurses until ``split_depth``, below which its
block is emitted as a superset; touching blocks are merged. This is
the distributed analog of the reference's contains-fast-path subtree
prune (DynamicOctree.hpp:161-170), executed at PLAN time on scalars,
never over data.

Both curves have the block property: every depth-d ALIGNED quadtree
cell occupies one contiguous code interval of exactly e^2 codes,
aligned to a multiple of e^2 (its points share the top 2d code bits).
So a cell's block base is the code of any of its points with the low
2*(world_bits-d) bits cleared, and the two curves differ only in the
scalar index function and the key column:

- Morton, key ``m`` (cells.morton2d): the sort key of the pipeline's
  write_clustered layout.
- Hilbert, key ``h`` (cells.with_hilbert2d): consecutive codes are
  ALWAYS grid-adjacent (Morton jumps a row/column boundary every
  other step), so the same box decomposes into FEWER merged ranges
  (Moon et al., TKDE 2001) — fewer OR-of-BETWEEN disjuncts pushed to
  parquet, fewer contiguous runs of row groups; test_hcurve
  re-certifies the range-count win on a box ensemble.

``read_morton_box`` / ``read_hilbert_box`` turn the ranges into
OR-of-BETWEEN pushdown filters on the key plus the exact bbox
residual on (ix, iy). On a table written sorted by the key, parquet
min/max stats skip every row group outside the ranges — at 100 TB a
viewport box reads O(perimeter) row groups instead of the table. The
ranges are a strict superset of the box cells, so the residual keeps
the result exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from optimizing_spark.functions import cells as C


def _interleave2(x: int, y: int, bits: int) -> int:
    # x takes the even bits, y the odd — cells.morton2d's convention
    m = 0
    for b in range(bits):
        m |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
    return m


def hilbert_index(x: int, y: int, bits: int) -> int:
    """Scalar xy2d, the same canonical per-bit descend-and-rotate as
    cells.with_hilbert2d (flip uses the FULL-grid constant n-1), so
    plan-time range endpoints agree bit-for-bit with the column."""
    n = 1 << bits
    d = 0
    for k in range(bits - 1, -1, -1):
        rx = (x >> k) & 1
        ry = (y >> k) & 1
        d += (1 << (2 * k)) * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
    return d


def _ranges(index, x0: int, y0: int, x1: int, y1: int, world_bits: int,
            split_depth: int) -> list[tuple[int, int]]:
    """Merged [lo, hi] full-resolution ``index`` ranges covering the
    closed integer box [x0,x1] x [y0,y1]. Superset guarantee: every
    (x, y) in the box has index(x, y) inside some range."""
    out: list[tuple[int, int]] = []

    def descend(cx: int, cy: int, d: int) -> None:
        # cell = [cx, cx+e) x [cy, cy+e) at depth d, edge e
        e = 1 << (world_bits - d)
        if cx > x1 or cy > y1 or cx + e - 1 < x0 or cy + e - 1 < y0:
            return
        if (x0 <= cx and cx + e - 1 <= x1 and y0 <= cy and cy + e - 1 <= y1) \
                or d >= split_depth:
            blk = e * e
            lo = (index(cx, cy, world_bits) // blk) * blk
            out.append((lo, lo + blk - 1))
            return
        h = e >> 1
        descend(cx, cy, d + 1)
        descend(cx + h, cy, d + 1)
        descend(cx, cy + h, d + 1)
        descend(cx + h, cy + h, d + 1)

    descend(0, 0, 0)
    # the Hilbert curve reorders quadrants per level, so blocks come
    # out in geometric order, not code order
    out.sort()
    merged: list[tuple[int, int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged


def morton_ranges(x0: int, y0: int, x1: int, y1: int, world_bits: int = 16,
                  split_depth: int = 8) -> list[tuple[int, int]]:
    """Merged [lo, hi] full-resolution Morton ranges covering the
    closed integer box [x0,x1] x [y0,y1]."""
    return _ranges(_interleave2, x0, y0, x1, y1, world_bits, split_depth)


def hilbert_ranges(x0: int, y0: int, x1: int, y1: int, world_bits: int = 16,
                   split_depth: int = 8) -> list[tuple[int, int]]:
    """Merged [lo, hi] full-resolution Hilbert ranges covering the
    closed integer box [x0,x1] x [y0,y1]."""
    return _ranges(hilbert_index, x0, y0, x1, y1, world_bits, split_depth)


def with_morton_key(df: DataFrame) -> DataFrame:
    """Full-resolution sort key ``m`` for write_clustered(order_col='m')."""
    return df.withColumn("m", C.morton2d(F.col("ix"), F.col("iy")))


def with_hilbert_key(df: DataFrame, world_bits: int = 16) -> DataFrame:
    """Full-resolution sort key ``h`` for write_clustered(order_col='h')."""
    return C.with_hilbert2d(df, out="h", bits=world_bits)


def _read_box(index, key: str, spark: SparkSession, path: str, box,
              world_bits: int, split_depth: int, prefix_col: str | None,
              prefix_depth: int) -> DataFrame:
    """Exact bbox read over a table clustered by the ``index`` curve in
    column ``key``. With ``prefix_col`` (the write_clustered partition
    column = key >> 2*(world_bits - prefix_depth)), the ranges also
    become an IN-list of partition directories — a depth-p aligned
    cell IS a code block, so its prefix is exact — and whole
    directories prune before any file is opened; the BETWEENs then
    skip row groups inside the survivors via min/max stats."""
    x0, y0, x1, y1 = box
    ranges = _ranges(index, x0, y0, x1, y1, world_bits, split_depth)
    df = spark.read.parquet(path)
    if prefix_col is not None:
        sh = 2 * (world_bits - prefix_depth)
        pv = sorted({v for lo, hi in ranges
                     for v in range(lo >> sh, (hi >> sh) + 1)})
        df = df.filter(F.col(prefix_col).isin(pv))
    k = F.col(key)
    cover = None
    for lo, hi in ranges:
        r = k.between(F.lit(lo), F.lit(hi))
        cover = r if cover is None else (cover | r)
    exact = (
        (F.col("ix") >= x0) & (F.col("ix") <= x1)
        & (F.col("iy") >= y0) & (F.col("iy") <= y1)
    )
    return df.filter((cover & exact) if cover is not None else F.lit(False))


def read_morton_box(spark: SparkSession, path: str, x0: int, y0: int,
                    x1: int, y1: int, world_bits: int = 16,
                    split_depth: int = 8, prefix_col: str | None = None,
                    prefix_depth: int = 2) -> DataFrame:
    """Exact bbox read over a table written sorted by ``m``."""
    return _read_box(_interleave2, "m", spark, path, (x0, y0, x1, y1),
                     world_bits, split_depth, prefix_col, prefix_depth)


def read_hilbert_box(spark: SparkSession, path: str, x0: int, y0: int,
                     x1: int, y1: int, world_bits: int = 16,
                     split_depth: int = 8, prefix_col: str | None = None,
                     prefix_depth: int = 2) -> DataFrame:
    """Exact bbox read over a table written sorted by ``h``."""
    return _read_box(hilbert_index, "h", spark, path, (x0, y0, x1, y1),
                     world_bits, split_depth, prefix_col, prefix_depth)
