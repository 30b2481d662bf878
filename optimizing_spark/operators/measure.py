"""Klee's measure — exact area of the UNION of N axis-aligned boxes.

The global-geometry complement of the per-pair join family: where
range_join (O10, DynamicOctree.hpp:146-171) reports which boxes meet,
union_area reports how much of the world the box SET covers — dedup
overlap exactly, the tile-coverage / crawl-footprint question the
reference's recursive node counts (O16, DynamicOctree.hpp:207-219)
approximate at node granularity.

Scale design (the 100 TB shape):
- Boxes explode to their covering fixed-depth grid cells (O9
  multi-assign, tiling.explode_covering_cells) and are clipped to the
  cell — cells partition the plane, so per-cell covered areas ADD with
  no cross-cell dedup pass.
- Cells fully covered by ANY single clip short-circuit to edge_x *
  edge_y and are anti-joined out of the sweep entirely — large boxes
  cost O(cells covered), never O(clips^2).
- Within each remaining cell: classic slab sweep, expressed as pure
  window + join algebra so it shuffles ONCE on the cell key and every
  window is cell- or slab-partitioned (never a global window). The
  distinct x-boundaries of the cell's clips cut it into vertical
  slabs; slab edges are event-aligned so a clip covers a slab
  all-or-nothing; per (cell, slab) the covered y-length is the
  interval union via the running-max merge (sort by y0, new group
  when y0 > max of previous y1s, per group max(y1) - min(y0)).
- Cost is sum over cells of clips x slabs — quadratic per CELL, not
  per dataset; `depth` trades fan-out (deeper = more clip rows)
  against per-cell work. The avg-clips-per-cell guard mirrors
  joins.DIST_JOIN_MAX_FANOUT: exceeding `max_cell_clips` (estimated
  from counts, not a scan) raises with the refinement hint.

Semantics: boxes are half-open [x0, x1) x [y0, y1) on integer
coordinates — the unambiguous convention for area (touching boxes
don't double-count, zero-width boxes are empty and ignored). All
arithmetic is BIGINT-exact; world areas up to 2^62 are safe under
ANSI mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import Box2
from .tiling import explode_covering_cells

UNION_MAX_CELL_CLIPS = 4096  # avg clips/cell guard, like DIST_JOIN_MAX_FANOUT


def _int_grid(world: Box2, depth: int) -> tuple[int, int, int]:
    """(n, edge_x, edge_y) for an integer pow-2 world; raises unless the
    world divides evenly so clipping stays BIGINT-exact."""
    n = 1 << depth
    wx = world.max_x - world.min_x
    wy = world.max_y - world.min_y
    ex, ey = wx / n, wy / n
    # float(): Box2 fields may be ints, and int.is_integer() needs 3.12
    if not all(float(v).is_integer() for v in (world.min_x, world.min_y, ex, ey)):
        raise ValueError(
            f"union_area needs an integer world with 2^{depth}-divisible "
            f"edges, got {world} (cell edge {ex} x {ey})")
    return n, int(ex), int(ey)


def union_area(
    boxes: DataFrame,
    world: Box2,
    depth: int = 6,
    x0: str = "x_min",
    y0: str = "y_min",
    x1: str = "x_max",
    y1: str = "y_max",
    per_cell: bool = False,
    max_cell_clips: int | None = UNION_MAX_CELL_CLIPS,
) -> DataFrame:
    """Exact union area of half-open integer boxes [x0,x1) x [y0,y1).

    Returns a 1-row (union_area BIGINT) DataFrame, or per-cell rows
    (cell_x, cell_y, area) when ``per_cell`` (only cells with coverage
    appear; per-cell areas sum to the union because cells tile the
    world and clips are exact). Boxes are clamped to the world; empty
    boxes (x1 <= x0 or y1 <= y0 after clamping) contribute nothing.

    ``max_cell_clips`` guards the per-cell quadratic: if the AVERAGE
    clips-per-occupied-cell estimate (two cheap counts, no extra
    shuffle of the data) exceeds it, raises ValueError telling the
    caller to deepen the grid — the same silent-blow-up contract as
    joins.distance_join's ring fan-out guard.
    """
    n, ex, ey = _int_grid(world, depth)
    wx0, wy0 = int(world.min_x), int(world.min_y)

    b = (
        boxes.select(
            F.greatest(F.col(x0).cast("long"), F.lit(int(world.min_x))).alias("_x0"),
            F.greatest(F.col(y0).cast("long"), F.lit(int(world.min_y))).alias("_y0"),
            F.least(F.col(x1).cast("long"), F.lit(int(world.max_x))).alias("_x1"),
            F.least(F.col(y1).cast("long"), F.lit(int(world.max_y))).alias("_y1"),
        )
        .filter((F.col("_x1") > F.col("_x0")) & (F.col("_y1") > F.col("_y0")))
        # half-open: a box ending exactly on a cell boundary must NOT
        # cover the next cell — feed x1-1 (still >= x0) to the cover
        .withColumn("_cx1", F.col("_x1") - 1)
        .withColumn("_cy1", F.col("_y1") - 1)
    )
    cells = explode_covering_cells(
        b, world, depth, min_x="_x0", min_y="_y0", max_x="_cx1", max_y="_cy1")
    cmx = (F.lit(wx0) + F.col("cell_x").cast("long") * ex)
    cmy = (F.lit(wy0) + F.col("cell_y").cast("long") * ey)
    clips = cells.select(
        "cell_x", "cell_y",
        F.greatest(F.col("_x0"), cmx).alias("cx0"),
        F.greatest(F.col("_y0"), cmy).alias("cy0"),
        F.least(F.col("_x1"), cmx + ex).alias("cx1"),
        F.least(F.col("_y1"), cmy + ey).alias("cy1"),
    )

    # one evaluation of the (filter + explode + clip) subplan feeds the
    # full-cover split, the sweep AND the guard estimate
    clips = clips.localCheckpoint(eager=False)

    if max_cell_clips is not None:
        est = clips.groupBy("cell_x", "cell_y").count() \
                   .agg(F.avg("count").alias("avg"), F.max("count").alias("mx")) \
                   .collect()[0]
        if est["avg"] is not None and est["avg"] > max_cell_clips:
            raise ValueError(
                f"union_area avg clips/cell {est['avg']:.0f} (max "
                f"{est['mx']}) exceeds max_cell_clips={max_cell_clips} at "
                f"depth={depth}; deepen the grid (each +1 depth quarters "
                f"the per-cell population) or raise max_cell_clips")

    cmx_c = (F.lit(wx0) + F.col("cell_x").cast("long") * ex)
    cmy_c = (F.lit(wy0) + F.col("cell_y").cast("long") * ey)
    full = (
        clips.filter(
            (F.col("cx0") == cmx_c) & (F.col("cy0") == cmy_c)
            & (F.col("cx1") == cmx_c + ex) & (F.col("cy1") == cmy_c + ey))
        .select("cell_x", "cell_y").distinct()
        .withColumn("area", F.lit(int(ex) * int(ey)).cast("long"))
    )
    rest = clips.join(full.select("cell_x", "cell_y"),
                      ["cell_x", "cell_y"], "left_anti")

    # vertical slabs from the distinct x-boundaries of the cell's clips
    events = (
        rest.select("cell_x", "cell_y",
                    F.explode(F.array("cx0", "cx1")).alias("sx0"))
        .distinct()
    )
    wcell = Window.partitionBy("cell_x", "cell_y").orderBy("sx0")
    slabs = (
        events.withColumn("sx1", F.lead("sx0").over(wcell))
        .filter(F.col("sx1").isNotNull())
    )
    # DISTINCT before the running-max merge: duplicate (cy0, cy1)
    # rows don't change the union but CREATE TIES in the merge sort —
    # and an engine that evaluates the island flag and its prefix sum
    # in two separate sorts (DuckDB) may permute tied rows differently
    # between them, splitting islands inconsistently (caught by the
    # sf0.1 full sweep: 20 cells off by a sliver). Deduping makes the
    # (cy0, cy1) order TOTAL per (cell, slab) — the same
    # collapse-before-prefix-sum principle as temporal.peak_concurrency
    cand = (
        slabs.join(rest, ["cell_x", "cell_y"])
        .filter((F.col("cx0") <= F.col("sx0")) & (F.col("cx1") >= F.col("sx1")))
        .select("cell_x", "cell_y", "sx0", "sx1", "cy0", "cy1")
        .distinct()
    )
    # running-max interval merge per (cell, slab)
    wslab = Window.partitionBy("cell_x", "cell_y", "sx0").orderBy("cy0", "cy1")
    prevmax = F.max("cy1").over(
        wslab.rowsBetween(Window.unboundedPreceding, -1))
    grouped = (
        cand.withColumn(
            "_new", F.when(prevmax.isNull() | (F.col("cy0") > prevmax), 1)
            .otherwise(0))
        .withColumn("_grp", F.sum("_new").over(
            wslab.rowsBetween(Window.unboundedPreceding, 0)))
    )
    swept = (
        grouped.groupBy("cell_x", "cell_y", "sx0", "sx1", "_grp")
        .agg((F.max("cy1") - F.min("cy0")).alias("_ylen"))
        .groupBy("cell_x", "cell_y", "sx0", "sx1")
        .agg(F.sum("_ylen").alias("_ylen"))
        .groupBy("cell_x", "cell_y")
        .agg(F.sum((F.col("sx1") - F.col("sx0")) * F.col("_ylen"))
             .alias("area"))
    )
    per_cell_df = full.unionByName(swept).select(
        "cell_x", "cell_y", F.col("area").cast("long").alias("area"))
    if per_cell:
        return per_cell_df
    return per_cell_df.agg(
        F.coalesce(F.sum("area"), F.lit(0)).cast("long").alias("union_area"))


def union_area_sql(
    boxes_sql: str,
    world: Box2,
    depth: int = 6,
    x0: str = "x_min",
    y0: str = "y_min",
    x1: str = "x_max",
    y1: str = "y_max",
    per_cell: bool = False,
) -> str:
    """DuckDB twin of union_area — the identical clip / full-cover
    short-circuit / slab sweep / running-max merge, bit-for-bit on the
    same BIGINT algebra. ``boxes_sql`` is a subquery yielding the box
    columns."""
    n, ex, ey = _int_grid(world, depth)
    wx0, wy0 = int(world.min_x), int(world.min_y)
    wx1, wy1 = int(world.max_x), int(world.max_y)
    per_cell_sel = "SELECT cell_x, cell_y, area FROM per_cell"
    total_sel = ("SELECT CAST(coalesce(sum(area), 0) AS BIGINT) "
                 "AS union_area FROM per_cell")
    return f"""
        WITH b AS (
            SELECT greatest(CAST({x0} AS BIGINT), {wx0}) AS _x0,
                   greatest(CAST({y0} AS BIGINT), {wy0}) AS _y0,
                   least(CAST({x1} AS BIGINT), {wx1}) AS _x1,
                   least(CAST({y1} AS BIGINT), {wy1}) AS _y1
            FROM ({boxes_sql})
            WHERE least(CAST({x1} AS BIGINT), {wx1})
                    > greatest(CAST({x0} AS BIGINT), {wx0})
              AND least(CAST({y1} AS BIGINT), {wy1})
                    > greatest(CAST({y0} AS BIGINT), {wy0})
        ), g AS (
            SELECT _x0, _y0, _x1, _y1,
                   greatest(0, least({n - 1},
                       CAST(floor((_x0 - {wx0}) / {float(ex)}) AS BIGINT))) AS gx0,
                   greatest(0, least({n - 1},
                       CAST(floor((_x1 - 1 - {wx0}) / {float(ex)}) AS BIGINT))) AS gx1,
                   greatest(0, least({n - 1},
                       CAST(floor((_y0 - {wy0}) / {float(ey)}) AS BIGINT))) AS gy0,
                   greatest(0, least({n - 1},
                       CAST(floor((_y1 - 1 - {wy0}) / {float(ey)}) AS BIGINT))) AS gy1
            FROM b
        ), clips AS (
            SELECT CAST(cx.g AS INTEGER) AS cell_x,
                   CAST(cy.g AS INTEGER) AS cell_y,
                   greatest(_x0, {wx0} + cx.g * {ex}) AS cx0,
                   greatest(_y0, {wy0} + cy.g * {ey}) AS cy0,
                   least(_x1, {wx0} + cx.g * {ex} + {ex}) AS cx1,
                   least(_y1, {wy0} + cy.g * {ey} + {ey}) AS cy1
            FROM g, unnest(generate_series(gx0, gx1)) AS cx(g),
                 unnest(generate_series(gy0, gy1)) AS cy(g)
        ), full_cells AS (
            SELECT DISTINCT cell_x, cell_y
            FROM clips
            WHERE cx0 = {wx0} + cell_x * {ex}
              AND cy0 = {wy0} + cell_y * {ey}
              AND cx1 = {wx0} + cell_x * {ex} + {ex}
              AND cy1 = {wy0} + cell_y * {ey} + {ey}
        ), rest AS (
            SELECT * FROM clips
            WHERE NOT EXISTS (
                SELECT 1 FROM full_cells f
                WHERE f.cell_x = clips.cell_x AND f.cell_y = clips.cell_y)
        ), events AS (
            SELECT DISTINCT cell_x, cell_y, sx0 FROM (
                SELECT cell_x, cell_y, cx0 AS sx0 FROM rest
                UNION ALL
                SELECT cell_x, cell_y, cx1 AS sx0 FROM rest)
        ), slabs AS (
            SELECT * FROM (
                SELECT cell_x, cell_y, sx0,
                       lead(sx0) OVER (PARTITION BY cell_x, cell_y
                                       ORDER BY sx0) AS sx1
                FROM events)
            WHERE sx1 IS NOT NULL
        ), cand AS (
            -- DISTINCT: ties in (cy0, cy1) would let the two window
            -- sorts below permute rows differently (flag vs prefix
            -- sum) — dedup makes the merge order total, mirroring the
            -- Spark side
            SELECT DISTINCT s.cell_x, s.cell_y, s.sx0, s.sx1,
                   r.cy0, r.cy1
            FROM slabs s JOIN rest r
              ON r.cell_x = s.cell_x AND r.cell_y = s.cell_y
             AND r.cx0 <= s.sx0 AND r.cx1 >= s.sx1
        ), grouped AS (
            SELECT cell_x, cell_y, sx0, sx1, cy0, cy1,
                   CAST(sum(_new) OVER (
                       PARTITION BY cell_x, cell_y, sx0
                       ORDER BY cy0, cy1
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS _grp
            FROM (
                SELECT *,
                       CASE WHEN max(cy1) OVER (
                                PARTITION BY cell_x, cell_y, sx0
                                ORDER BY cy0, cy1
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
                              OR cy0 > max(cy1) OVER (
                                PARTITION BY cell_x, cell_y, sx0
                                ORDER BY cy0, cy1
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS _new
                FROM cand)
        ), swept AS (
            SELECT cell_x, cell_y,
                   CAST(sum((sx1 - sx0) * _ylen) AS BIGINT) AS area
            FROM (
                SELECT cell_x, cell_y, sx0, sx1,
                       CAST(sum(_ylen) AS BIGINT) AS _ylen
                FROM (
                    SELECT cell_x, cell_y, sx0, sx1, _grp,
                           max(cy1) - min(cy0) AS _ylen
                    FROM grouped
                    GROUP BY cell_x, cell_y, sx0, sx1, _grp)
                GROUP BY cell_x, cell_y, sx0, sx1)
            GROUP BY cell_x, cell_y
        ), per_cell AS (
            SELECT cell_x, cell_y, CAST({ex} AS BIGINT) * {ey} AS area
            FROM full_cells
            UNION ALL
            SELECT cell_x, cell_y, area FROM swept
        )
        {per_cell_sel if per_cell else total_sel}
    """
