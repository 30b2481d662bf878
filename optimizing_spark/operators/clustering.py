"""Grid-DBSCAN: density-based spatial clustering over the cell index.

The cell-granular DBSCAN variant of the grid-partitioned literature
(GriDBSCAN, Mahran & Mahar 2008; the grid step of DBSCAN surveys —
public literature), composed entirely from the engine's existing
primitives:

- a cell is DENSE when it holds >= ``min_pts`` points (the same
  max-rows-per-cell density rule the reference's capacity octree uses
  for splitting, DynamicOctree.hpp:126-144 — here read as a density
  threshold instead of a split trigger);
- clusters are connected components of dense cells under 8-adjacency
  (operators/dedup.connected_components — the pointer-jumping CC used
  for near-dup clustering, reused verbatim on the cell graph);
- a point in a dense cell is ``core`` and takes its cell's component;
  a point whose 3x3 neighborhood touches a dense cell is ``border``
  and takes the MINIMUM adjacent component id (deterministic — classic
  DBSCAN leaves border ties arbitrary); everything else is ``noise``
  (cluster_id -1).

Scale shape (the reason to cluster cells, not points): the point table
flows through exactly ONE hash aggregation (per-cell counts, map-side
partial, bounded by 4^depth rows) and two equi-joins against the
dense-cell table — which holds at most 4^depth rows and broadcasts.
The CC iteration runs on the dense-CELL graph (<= 8 edges/cell), never
on point pairs; classic point-level DBSCAN's eps-neighborhood join is
quadratic without an index and is exactly what the cell grid replaces.
Deterministic for any partitioning: counts, min-labels and component
ids are order-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import POW2_WORLD_BITS
from ..functions.cells import QUEEN8, neighbor_cells, square_offsets
from .dedup import connected_components


def grid_dbscan(
    df: DataFrame,
    depth: int,
    min_pts: int,
    x: str = "px",
    y: str = "py",
    key: str = "point_id",
    world_bits: int = POW2_WORLD_BITS,
) -> DataFrame:
    """Cluster integer points in the pow-2 world at grid ``depth``.

    Returns (``key``, kind: core|border|noise, cluster_id) where
    cluster_id is the minimum dense-cell id (row-major cx*2^depth+cy)
    of the point's component, or -1 for noise.
    """
    shift = world_bits - depth
    side = 1 << depth
    cells = df.select(
        F.col(key),
        F.shiftright(F.col(x), shift).alias("cx"),
        F.shiftright(F.col(y), shift).alias("cy"),
    )
    dense = (
        cells.groupBy("cx", "cy").agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= min_pts)
        .select("cx", "cy", (F.col("cx") * side + F.col("cy")).alias("cid"))
    )
    # dense-cell adjacency graph (<= 8 edges per dense cell)
    edges = neighbor_cells(dense.select("cid", "cx", "cy"), "cx", "cy",
                           QUEEN8, out=("nx", "ny")).join(
        dense.select(F.col("cx").alias("nx"), F.col("cy").alias("ny"),
                     F.col("cid").alias("v")),
        ["nx", "ny"],
    ).select(F.col("cid").alias("u"), "v")
    comp = connected_components(
        edges, a="u", b="v", vertices=dense.select("cid"), key="cid")
    dense_lbl = dense.join(comp, "cid").select("cx", "cy", "cluster_id")

    core = cells.join(F.broadcast(dense_lbl), ["cx", "cy"]).select(
        F.col(key), F.col("cluster_id").alias("_core"))
    ring_min = (
        neighbor_cells(cells, "cx", "cy", square_offsets(1), out=("nx", "ny"))
        .join(F.broadcast(
            dense_lbl.select(F.col("cx").alias("nx"),
                             F.col("cy").alias("ny"), "cluster_id")),
            ["nx", "ny"])
        .groupBy(key).agg(F.min("cluster_id").alias("_ring"))
    )
    return (
        df.select(key)
        .join(core, key, "left")
        .join(ring_min, key, "left")
        .select(
            F.col(key),
            F.when(F.col("_core").isNotNull(), F.lit("core"))
            .when(F.col("_ring").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise")).alias("kind"),
            F.coalesce("_core", "_ring", F.lit(-1)).alias("cluster_id"),
        )
    )
