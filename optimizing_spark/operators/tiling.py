"""Tiling operators: the reference's tree inserts as DataFrame transforms.

- ``tile_static_quadtree``: O8 — pure projection (no shuffle): each box's
  quadtree node (.Test/QuadTree.cpp:131-148) becomes (qt_depth, qt_code).
- ``tile_octree_capacity``: O7 — the order-dependent capacity rule
  (DynamicOctree.hpp:126-144) as an iterative refinement loop: one
  window per level keeps the first CAPACITY arrivals at each node
  (ranked by an explicit insert_seq column), pushes the rest down.
  This is also the skew story: a hot cell automatically refines to
  deeper resolution — the reference's "split only hot nodes" heuristic
  (REPORT.md:10) at cluster scale. This float variant keeps exact
  float-world reference parity; the SCALE path for pow-2 integer
  worlds is functions/cells.assign_octree_capacity_pow2 (single
  lineage: 1 scan + one window per level, no branch unions).
- ``explode_covering_cells``: O9 multi-assign — one row per (object,
  overlapped grid cell) at a fixed depth; the candidate generator for
  range joins.
- ``coarse_grid``: O6 (WorldPartition.hpp:169-181).
- ``remove_objects`` / ``relocate``: O12-O14 (anti-join / re-encode).

Scale notes (100 TB): the static path is a projection — fully parallel,
zero shuffle, codegen'd. The capacity loop shuffles once per level on
the cell key; levels are bounded (5) and after level 0 the partition
key cardinality explodes (4^d cells), so skew disappears rapidly; AQE
skew-split covers the root level.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import Box2, Box3, OCTREE_CAPACITY, OCTREE_MAX_DEPTH, QT_MAX_DEPTH
from ..functions import cells as C
from ..functions import geometry as G


def with_box_cols(df: DataFrame, dims: int = 2, pos=("x", "y", "z"), size=("size_x", "size_y", "size_z")) -> DataFrame:
    """Materialize min/max AABB columns from (pos, size) — the
    BoundaryBox(pos, size) ctor (BoundaryBox.hpp:29-38) with swap-fix."""
    axes = ("x", "y", "z")[:dims]
    out = df
    for i, ax in enumerate(axes):
        p, s = F.col(pos[i]), F.col(size[i])
        out = out.withColumn(f"min_{ax}", F.least(p, p + s)).withColumn(
            f"max_{ax}", F.greatest(p, p + s)
        )
    return out


def tile_static_quadtree(
    df: DataFrame, world: Box2 = None, max_depth: int = QT_MAX_DEPTH
) -> DataFrame:
    """O8: add (qt_depth, qt_code) — single narrow projection."""
    from ..config import QT_BENCH_WORLD

    world = world or QT_BENCH_WORLD
    return C.assign_static_quadtree(df, world, max_depth)


def tile_octree_capacity(
    df: DataFrame,
    world: Box3,
    capacity: int = OCTREE_CAPACITY,
    max_depth: int = OCTREE_MAX_DEPTH,
    seq_col: str = "obj_id",
) -> DataFrame:
    """O7: order-dependent octree assignment.

    Exact semantics (DynamicOctree.hpp:126-144): an item arriving at a
    node stays if (a) the node is at the depth limit, (b) fewer than
    `capacity` items are already at the node (arrivals are ordered by
    seq_col), or (c) no child box contains it (closed intervals,
    straddles a midplane). Else it descends into the child that
    contains it and the rule recurses.

    Distributed restatement: at each level, rank arrivals per node with
    row_number() ordered by seq_col; rank <= capacity stays (the first
    `capacity` arrivals at a node always stay — the node's count is
    below capacity exactly for them), rank > capacity descends iff some
    child contains the box. One shuffle per level on the node key.

    Requires columns min_x..max_z and a totally-ordered seq_col.
    Returns df + (oct_depth, oct_code).
    """
    b = df.withColumn("_c0x", F.lit(float(world.min_x))) \
        .withColumn("_c0y", F.lit(float(world.min_y))) \
        .withColumn("_c0z", F.lit(float(world.min_z))) \
        .withColumn("_c1x", F.lit(float(world.max_x))) \
        .withColumn("_c1y", F.lit(float(world.max_y))) \
        .withColumn("_c1z", F.lit(float(world.max_z))) \
        .withColumn("oct_depth", F.lit(0)) \
        .withColumn("oct_code", F.lit(0).cast("long"))

    finished: list[DataFrame] = []
    active = b
    for level in range(max_depth):
        w = Window.partitionBy("oct_depth", "oct_code").orderBy(seq_col)
        digit = C.octree_child_digit(
            (F.col("min_x"), F.col("min_y"), F.col("min_z")),
            (F.col("max_x"), F.col("max_y"), F.col("max_z")),
            (F.col("_c0x"), F.col("_c0y"), F.col("_c0z")),
            (F.col("_c1x"), F.col("_c1y"), F.col("_c1z")),
        )
        stepped = active.withColumn("_rn", F.row_number().over(w)).withColumn("_digit", digit)
        descend = (F.col("_rn") > capacity) & F.col("_digit").isNotNull()
        finished.append(stepped.filter(~descend).drop("_rn", "_digit"))
        nxt = stepped.filter(descend)
        mids = {
            ax: F.col(f"_c0{ax}") + (F.col(f"_c1{ax}") - F.col(f"_c0{ax}")) * F.lit(0.5)
            for ax in ("x", "y", "z")
        }
        for i, ax in enumerate(("x", "y", "z")):
            hi = F.col("_digit").bitwiseAND(F.lit(1 << i)) != 0
            nxt = nxt.withColumn(f"_n0{ax}", F.when(hi, mids[ax]).otherwise(F.col(f"_c0{ax}"))) \
                     .withColumn(f"_n1{ax}", F.when(hi, F.col(f"_c1{ax}")).otherwise(mids[ax]))
        for ax in ("x", "y", "z"):
            nxt = nxt.withColumn(f"_c0{ax}", F.col(f"_n0{ax}")).withColumn(
                f"_c1{ax}", F.col(f"_n1{ax}")).drop(f"_n0{ax}", f"_n1{ax}")
        active = (
            nxt.withColumn("oct_code", F.shiftleft(F.col("oct_code"), 3).bitwiseOR(F.col("_digit")))
            .withColumn("oct_depth", F.col("oct_depth") + 1)
            .drop("_rn", "_digit")
        )
    finished.append(active)  # depth-limit nodes keep everything

    out = finished[0]
    for f in finished[1:]:
        out = out.unionByName(f)
    return out.drop("_c0x", "_c0y", "_c0z", "_c1x", "_c1y", "_c1z")


def explode_covering_cells(
    df: DataFrame,
    world: Box2,
    depth: int,
    min_x: str = "min_x",
    min_y: str = "min_y",
    max_x: str = "max_x",
    max_y: str = "max_y",
    cell_x: str = "cell_x",
    cell_y: str = "cell_y",
) -> DataFrame:
    """O9 multi-assign: one output row per fixed-depth grid cell the box
    overlaps (the oldQuadTree duplicate-to-all-children mode,
    .Test/oldQuadTree.cpp:237-253). Grid = 2^depth x 2^depth over world.

    Uses explode(sequence(...)) — JVM-side, no UDF. Cell coords clamped
    to the grid so out-of-world boxes land in edge cells. Output: the
    input columns other than cell_x / cell_y, in order, then cell_x,
    cell_y.

    Three selectExpr projections (cell bounds, then one explode per
    axis: Spark allows one generator per select) built from
    C.grid_cell_sql text, so the whole plan costs three Py4J round
    trips instead of a few dozen Column-node calls.
    """
    n = 1 << depth
    sx = (world.max_x - world.min_x) / n
    sy = (world.max_y - world.min_y) / n
    keep = [f"`{c}`" for c in df.columns if c not in (cell_x, cell_y)]
    return (
        df.selectExpr(
            *keep,
            f"{C.grid_cell_sql(f'`{min_x}`', world.min_x, sx, n)} AS _gx0",
            f"{C.grid_cell_sql(f'`{max_x}`', world.min_x, sx, n)} AS _gx1",
            f"{C.grid_cell_sql(f'`{min_y}`', world.min_y, sy, n)} AS _gy0",
            f"{C.grid_cell_sql(f'`{max_y}`', world.min_y, sy, n)} AS _gy1",
        )
        .selectExpr(*keep, "_gy0", "_gy1",
                    f"explode(sequence(_gx0, _gx1)) AS `{cell_x}`")
        .selectExpr(*keep, f"`{cell_x}`",
                    f"explode(sequence(_gy0, _gy1)) AS `{cell_y}`")
    )


def coarse_grid(df: DataFrame, cell: float = 255.0, x: str = "x", z: str = "z") -> DataFrame:
    """O6: coarse world-partition cell (WorldPartition.hpp:174-179)."""
    cx, cz = C.coarse_cell(F.col(x), F.col(z), cell)
    return df.withColumn("cell_x", cx).withColumn("cell_z", cz)


def remove_objects(df: DataFrame, dead: DataFrame, key: str = "obj_id") -> DataFrame:
    """O12/O13: remove = left anti-join on the object key."""
    return df.join(dead.select(key), key, "left_anti")


def relocate(
    df: DataFrame, moved: DataFrame, key: str = "obj_id", retile=None
) -> DataFrame:
    """O14: new positions for a subset; unchanged rows keep their cells,
    moved rows are re-encoded (incremental re-tile). `moved` must carry
    the same schema minus derived cell columns; `retile` re-derives them."""
    keep = df.join(moved.select(key), key, "left_anti")
    new = retile(moved) if retile is not None else moved
    return keep.unionByName(new, allowMissingColumns=False)
