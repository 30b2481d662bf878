"""Raster <-> vector operators: the reference raytracer's math
(Raytracing.hpp) as vectorized column expressions — rays x objects
nearest-hit joins and per-pixel raster aggregation.

- ``ray_aabb_t``: slab-method ray/AABB entry distance
  (Raytracing.hpp:267-289): per-axis t-intervals with least/greatest,
  NaN-free (zero direction components handled via +-inf division
  semantics of IEEE doubles, matching the reference's C++ behavior).
- ``ray_sphere_t``: quadratic discriminant nearest positive root
  (Raytracing.hpp:291-348, eps 1e-9 per _EPSILON usage).
- ``scene_t``: the sphere / aabb / mixed dispatch of a ray-table row
  against a scene row, as one t column.
- ``nearest_hit``: O22 — the one argmin of every ray query
  (Raytracing.hpp:640-669: linear scan keeping min positive t).
  Contract: ``nearest_hit(probe, other, t, key)`` crosses ``probe``
  with the broadcast ``other``, drops rows whose ``t`` is NULL (a
  miss) and keeps, per ``key``, the row of least ``(t, obj_id)`` with
  every column of both sides plus ``t``. A key with no hit is absent;
  callers that need misses take a ``left_anti`` of their probe rows
  against the hits on the key. The argmin is ``min_by`` over a struct,
  so each task reduces its candidates before the one Exchange; a
  ``row_number`` window would shuffle every candidate row.
- The bounce step (compute_radiance, Raytracing.hpp:501-638) as column
  expressions over 2-D or 3-D axis tuples: ``hit_point`` o + d*t,
  ``sphere_normal`` (p - c)/r, ``reflect`` d - 2(d.n)n, ``glass``
  (refraction with Schlick's fresnel and the reflect-or-refract
  roulette) and ``nudge`` (the bounced origin, 1e-6 along the new
  direction). ``pathtrace`` and the driver's mirror and glass chain
  queries share them, so their doubles agree bit for bit.
- ``render_raster``: O24 — groupBy(px, py) mean of per-sample values
  (Raytracing.hpp:485-492 accumulation).
- ``tone_map``: O25 — clamp -> pow(1/2.2) -> *255 + 0.5 floor
  (format_color_component, Raytracing.hpp:250-265).

Scale notes: the scene is the broadcast side of the nearest hit (a
scene is small vs the ray table: W*H*samples rows), so the join is a
broadcast nested loop with a cheap codegen'd predicate and one
partial-aggregated Exchange on the key — the idiomatic plan when
|scene| << |rays|. A query with few probes and many objects
(``joins.nearest_hit_xy``) broadcasts the probes instead and streams
the objects. For giant scenes, pre-bucket rays and scene by coarse
cells (operators.joins.range_join pattern) instead.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cells import ROOK4, neighbor_cells, square_offsets


def _axis_t(o: Column, d: Column, lo: Column, hi: Column) -> tuple[Column, Column]:
    t0 = (lo - o) / d
    t1 = (hi - o) / d
    return F.least(t0, t1), F.greatest(t0, t1)


def ray_aabb_t(
    origin: tuple[Column, Column, Column],
    direction: tuple[Column, Column, Column],
    box_min: tuple[Column, Column, Column],
    box_max: tuple[Column, Column, Column],
) -> Column:
    """Entry distance t (>=0) of the ray into the box, NULL if missed.
    Slab method (Raytracing.hpp:267-289): tmin = max of per-axis nears,
    tmax = min of per-axis fars; hit iff tmax >= max(tmin, 0)."""
    nears, fars = [], []
    for o, d, lo, hi in zip(origin, direction, box_min, box_max):
        n, f_ = _axis_t(o, d, lo, hi)
        nears.append(n)
        fars.append(f_)
    tmin = F.greatest(*nears)
    tmax = F.least(*fars)
    t = F.when(tmin >= 0, tmin).otherwise(tmax)  # inside-box -> exit dist
    return F.when((tmax >= tmin) & (tmax >= 0), t)


def ray_sphere_t(
    origin: tuple[Column, Column, Column],
    direction: tuple[Column, Column, Column],
    center: tuple[Column, Column, Column],
    radius: Column,
    eps: float = 1e-9,
) -> Column:
    """Nearest positive root of |o + t*d - c|^2 = r^2 (direction assumed
    unit), NULL on miss (Raytracing.hpp:291-348)."""
    oc = [o - c for o, c in zip(origin, center)]
    b = sum(occ * d for occ, d in zip(oc, direction))
    c_ = sum(occ * occ for occ in oc) - radius * radius
    disc = b * b - c_
    s = F.sqrt(disc)
    t1 = -b - s
    t2 = -b + s
    t = F.when(t1 > eps, t1).when(t2 > eps, t2)
    return F.when(disc >= 0, t)


def scene_t(shape: str = "sphere", eps: float = 1e-9) -> Column:
    """Hit distance t of a ray-table row (origin_x..z, dir_x..z)
    against a scene row, NULL on a miss.

    scene (sphere): (cx, cy, cz, radius)
    scene (aabb):   (min_x..max_z)
    scene (mixed):  (cx, cy, cz, radius, shape) — shape='CUBE' rows are
    AABBs with min corner (cx,cy,cz) and extent ``radius``
    (SpatialObject.getBoundingBox = BoundaryBox(position, size),
    BoundaryBox.hpp:102-105; the sphere/cube dispatch of
    Raytracing.hpp:291-295), everything else a sphere.
    """
    o = (F.col("origin_x"), F.col("origin_y"), F.col("origin_z"))
    d = (F.col("dir_x"), F.col("dir_y"), F.col("dir_z"))
    if shape not in ("sphere", "mixed"):
        return ray_aabb_t(o, d,
                          (F.col("min_x"), F.col("min_y"), F.col("min_z")),
                          (F.col("max_x"), F.col("max_y"), F.col("max_z")))
    c = (F.col("cx"), F.col("cy"), F.col("cz"))
    sph = ray_sphere_t(o, d, c, F.col("radius"), eps=eps)
    if shape == "sphere":
        return sph
    box = ray_aabb_t(o, d, c, tuple(ci + F.col("radius") for ci in c))
    return F.when(F.col("shape") == "CUBE", box).otherwise(sph)


def nearest_hit(probe: DataFrame, other: DataFrame, t: Column, key: str) -> DataFrame:
    """O22: per ``key``, the (probe, other) pair of least (t, obj_id)
    (raycast, Raytracing.hpp:640-669; misses — NULL t — are dropped,
    as raycast returns false). ``other`` is broadcast; ``t`` is an
    expression over both sides' columns, whose names must not clash.
    Returns ``key``, then every other column of the crossed pair and
    ``t``, one row per key with a hit."""
    j = probe.crossJoin(F.broadcast(other)).withColumn("t", t) \
        .filter(F.col("t").isNotNull())
    rest = [c for c in j.columns if c != key]
    return j.groupBy(key).agg(
        F.min_by(F.struct(*rest), F.struct("t", "obj_id")).alias("_b")
    ).select(key, "_b.*")


NUDGE = 1e-6  # a bounced ray leaves its hit point this far along its new direction
IOR_GLASS = 1.5  # Raytracing.hpp:595
_R0_GLASS = ((IOR_GLASS - 1.0) ** 2) / ((IOR_GLASS + 1.0) ** 2)  # Schlick r0


def _dot(a, b) -> Column:
    return reduce(operator.add, (x * y for x, y in zip(a, b)))


def hit_point(o, d, t: Column) -> tuple:
    """o + d*t per axis."""
    return tuple(oi + di * t for oi, di in zip(o, d))


def sphere_normal(p, c, r: Column) -> tuple:
    """Outward unit normal (p - c)/r of a sphere at its surface point p."""
    return tuple((pi - ci) / r for pi, ci in zip(p, c))


def reflect(d, n) -> tuple:
    """Mirror direction d - 2(d.n)n (Raytracing.hpp:585; the same for
    either orientation of n)."""
    dn = _dot(d, n)
    return tuple(di - 2.0 * dn * ni for di, ni in zip(d, n))


def nudge(p, nd) -> tuple:
    """Origin of the bounced ray: the hit point moved NUDGE along nd."""
    return tuple(pi + ndi * NUDGE for pi, ndi in zip(p, nd))


def glass(frame: DataFrame, d, n, u: Column):
    """REFRACTION bounce (Raytracing.hpp:588-635), ior 1.5, at a
    surface of outward normal n hit along direction d: total internal
    reflection always mirrors with weight 1; otherwise the roulette u <
    p = 0.25 + 0.5*re (Schlick's re) mirrors with weight re/p, else the
    ray takes the normalised transmitted direction with weight
    (1-re)/(1-p). u is a uniform in [0, 1).

    Returns (frame, direction, weight, tir, reflected): ``frame`` gains
    the scratch columns _ddn, _nnt, _cos2t, _td<axis> and _re, which
    keep the downstream expressions small; the rest are columns of it
    (``reflected`` is the roulette's u < p)."""
    into = _dot(d, n) < 0  # the ray arrives from outside
    sgn = F.when(into, F.lit(1.0)).otherwise(F.lit(-1.0))
    frame = frame.withColumns({
        "_ddn": _dot(d, [ni * sgn for ni in n]),  # d . oriented normal
        "_nnt": F.when(into, F.lit(1.0 / IOR_GLASS)).otherwise(F.lit(IOR_GLASS)),
    })
    ddn, nnt = F.col("_ddn"), F.col("_nnt")
    frame = frame.withColumn("_cos2t", 1.0 - nnt * nnt * (1.0 - ddn * ddn))
    cos2t = F.col("_cos2t")
    tcoef = sgn * (ddn * nnt + F.sqrt(F.greatest(F.lit(0.0), cos2t)))
    tx = [di * nnt - ni * tcoef for di, ni in zip(d, n)]
    tlen = F.sqrt(_dot(tx, tx))
    names = [f"_td{i}" for i in range(len(tx))]
    frame = frame.withColumns({c: x / tlen for c, x in zip(names, tx)})
    td = [F.col(c) for c in names]
    c1 = 1.0 - F.when(into, -ddn).otherwise(_dot(td, n))
    frame = frame.withColumn(
        "_re", F.lit(_R0_GLASS) + F.lit(1.0 - _R0_GLASS) * c1 * c1 * c1 * c1 * c1)
    re = F.col("_re")
    p = 0.25 + 0.5 * re
    tir, reflected = cos2t < 0, u < p
    nd = tuple(F.when(tir | reflected, r).otherwise(t)
               for r, t in zip(reflect(d, n), td))
    weight = F.when(tir, F.lit(1.0)).when(reflected, re / p) \
        .otherwise((1.0 - re) / (1.0 - p))
    return frame, nd, weight, tir, reflected


def render_raster(samples: DataFrame, value_cols: list[str]) -> DataFrame:
    """O24: per-pixel mean over samples (Raytracing.hpp:485-492)."""
    aggs = [F.avg(c).alias(f"avg_{c}") for c in value_cols]
    return samples.groupBy("px", "py").agg(*aggs)


def focal_sum(
    raster: DataFrame,
    value: str = "n",
    x: str = "px",
    y: str = "py",
    radius: int = 1,
) -> DataFrame:
    """Focal (stencil) map algebra: for every occupied raster cell, the
    SUM and contributing-cell COUNT of ``value`` over its
    (2*radius+1)² neighborhood — the moving-window aggregation of GIS
    map algebra (Tomlin's focal functions — public literature),
    extending the engine's raster ops (O24) with the neighborhood
    dimension the ring join (O17) gives object queries.

    Plan shape: SCATTER, not gather — each cell explodes to the
    neighbors it contributes to, then ONE hash aggregation on the
    target cell (map-side partial combine). Never a (2r+1)²-way
    self-join of the raster, and absent cells cost nothing (sparse
    representation: missing = 0, exactly like the pixel aggregation).
    Integer values stay exact at any accumulation order; report
    (sum, count) rather than the mean so exactness survives engines
    that round division differently."""
    spread = neighbor_cells(raster, f"`{x}`", f"`{y}`",
                            square_offsets(radius), out=(x, y))
    agg = spread.groupBy(x, y).agg(F.expr(f"sum(`{value}`) AS focal_sum"),
                                   F.expr("count(*) AS focal_n"))
    # report occupied cells only (the sparse-raster contract)
    return raster.join(agg, [x, y])


def contour_edges(
    raster: DataFrame,
    threshold: int,
    value: str = "n",
    x: str = "px",
    y: str = "py",
) -> DataFrame:
    """Raster -> VECTOR: the exact topological boundary of the
    above-threshold region of a sparse integer raster — iso-region
    contour extraction (the marching-squares axis-aligned case), the
    inverse direction of the engine's vector->raster ops (O24 pixel
    aggregation, kde_grid, zonal) and the raster-tile<->vector loop
    the north rule names.

    A cell is INSIDE iff value >= threshold; absent cells are 0
    (sparse contract, like focal_sum). For every inside cell, each of
    its 4 sides emits one unit edge iff the neighbor across that side
    is outside — the emitted set is exactly the region boundary, and
    its row count is the region's perimeter in cell units. Edges are
    integer segments in CELL coordinates ((cx, cy) owns the unit
    square [cx, cx+1] x [cy, cy+1]); callers scale by the cell edge.

    Plan shape: ONE equi-join — inside cells explode to 4 direction
    probes and LEFT-ANTI join the inside set on the probed neighbor
    key. Never a raster self-join per direction, no window, no
    driver-side geometry. Integer-exact; deterministic set output."""
    inside = raster.filter(F.col(value) >= F.lit(int(threshold))).select(
        F.col(x).cast("long").alias("cx"),
        F.col(y).cast("long").alias("cy"))
    probes = neighbor_cells(inside, "cx", "cy", ROOK4, out=("nx", "ny"))
    nbr = inside.select(F.col("cx").alias("nx"), F.col("cy").alias("ny"))
    # the edge is the side shared with the probed neighbour (nx, ny)
    return probes.join(nbr, ["nx", "ny"], "left_anti").selectExpr(
        "cx", "cy",
        "CASE WHEN nx > cx THEN 'E' WHEN nx < cx THEN 'W' "
        "WHEN ny > cy THEN 'N' ELSE 'S' END AS side",
        "greatest(cx, nx) AS x1", "greatest(cy, ny) AS y1",
        "CASE WHEN nx < cx THEN cx ELSE cx + 1 END AS x2",
        "CASE WHEN ny < cy THEN cy ELSE cy + 1 END AS y2",
    )


def contour_edges_sql(
    raster_sql: str, threshold: int | str,
    value: str = "n", x: str = "px", y: str = "py",
) -> str:
    """DuckDB twin of contour_edges — NOT EXISTS on the probed
    neighbor over the identical inside set and edge coordinates.
    ``threshold`` may be an int literal or a SQL scalar expression
    (e.g. a subquery deriving a data-dependent threshold — callers
    must make the Spark side compute the identical integer)."""
    thr = int(threshold) if isinstance(threshold, int) else f"({threshold})"
    return f"""
        WITH r AS ({raster_sql}),
        inside AS (
            SELECT CAST({x} AS BIGINT) AS cx, CAST({y} AS BIGINT) AS cy
            FROM r WHERE {value} >= {thr}
        ),
        probes AS (
            SELECT cx, cy, d.side,
                   cx + d.dx AS nx, cy + d.dy AS ny
            FROM inside, (VALUES (1, 0, 'E'), (-1, 0, 'W'),
                                 (0, 1, 'N'), (0, -1, 'S'))
                 AS d(dx, dy, side)
        ),
        boundary AS (
            SELECT * FROM probes p
            WHERE NOT EXISTS (SELECT 1 FROM inside i
                              WHERE i.cx = p.nx AND i.cy = p.ny)
        )
        SELECT cx, cy, side,
               CASE WHEN side = 'E' THEN cx + 1 ELSE cx END AS x1,
               CASE WHEN side = 'N' THEN cy + 1 ELSE cy END AS y1,
               CASE WHEN side = 'W' THEN cx ELSE cx + 1 END AS x2,
               CASE WHEN side = 'S' THEN cy ELSE cy + 1 END AS y2
        FROM boundary
    """


def distance_transform(
    occupied: DataFrame,
    sources: DataFrame,
    x: str = "px",
    y: str = "py",
    max_rounds: int = 24,
) -> DataFrame:
    """Geodesic distance transform (cost-distance analysis): the
    4-adjacency hop distance from the nearest SOURCE cell, walking
    only through OCCUPIED cells — the raster GIS "cost distance" with
    unit costs, and the engine's iterative-frontier representative
    beyond dedup.connected_components' pointer jumping.

    occupied(x, y) is the passable lattice; sources(x, y) the zero-
    distance seeds (rows not in `occupied` are ignored). Returns
    (x, y, dist) for every occupied cell reachable within
    ``max_rounds`` hops; unreachable (or farther) cells are absent —
    the cap is part of the operator's contract so the DuckDB twin
    (a depth-capped recursive CTE) computes the identical set.

    Plan per round: the FRONTIER (cells settled last round — not the
    lattice) explodes to its 4 neighbors, one equi-join against the
    occupied set, one left-anti against settled, localCheckpoint to
    keep the plan shallow; the loop stops early when the frontier
    drains. Rounds = min(max_rounds, eccentricity of the source set):
    inherent to BFS — each round is embarrassingly parallel over the
    frontier, which is the 100 TB story (a continental lattice settles
    millions of cells per round; the round count is governed by
    geometry, not data volume)."""
    occ = occupied.select(
        F.col(x).cast("long").alias("px"),
        F.col(y).cast("long").alias("py")).distinct().localCheckpoint()
    cur = (
        sources.select(
            F.col(x).cast("long").alias("px"),
            F.col(y).cast("long").alias("py")).distinct()
        .join(occ, ["px", "py"])  # seeds must be passable
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    # BFS invariant: a neighbor of a dist-(r-1) cell has dist >= r-2,
    # so the dedup anti-join needs only the LAST TWO frontiers — the
    # growing settled set is never re-shuffled or re-checkpointed;
    # the result is the lazy union of the per-round frontiers
    frontiers = [cur]
    prev = cur.select("px", "py").filter(F.lit(False))
    for r in range(1, max_rounds + 1):
        probes = neighbor_cells(cur.select("px", "py"), "px", "py", ROOK4,
                                out=("px", "py")).distinct()
        recent = cur.select("px", "py").unionByName(prev)
        new = (
            probes.join(occ, ["px", "py"])
            .join(recent, ["px", "py"], "left_anti")
            .withColumn("dist", F.lit(r).cast("long"))
            .localCheckpoint()
        )
        if new.isEmpty():
            break
        frontiers.append(new)
        prev, cur = cur.select("px", "py"), new
    out = frontiers[0]
    for f in frontiers[1:]:
        out = out.unionByName(f)
    return out


def distance_transform_sql(
    occupied_sql: str,
    sources_sql: str,
    x: str = "px",
    y: str = "py",
    max_rounds: int = 24,
) -> str:
    """DuckDB twin of distance_transform: a depth-capped recursive
    CTE expanding (cell, dist) rows, min-dist per cell — identical
    reachable set and distances under the same cap."""
    return f"""
        WITH RECURSIVE occ AS (
            SELECT DISTINCT CAST({x} AS BIGINT) AS px,
                   CAST({y} AS BIGINT) AS py
            FROM ({occupied_sql})
        ),
        seeds AS (
            SELECT DISTINCT CAST({x} AS BIGINT) AS px,
                   CAST({y} AS BIGINT) AS py
            FROM ({sources_sql})
        ),
        walk(px, py, dist) AS (
            SELECT s.px, s.py, CAST(0 AS BIGINT)
            FROM seeds s JOIN occ USING (px, py)
            UNION
            SELECT o.px, o.py, w.dist + 1
            FROM walk w,
                 (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) AS d(dx, dy),
                 occ o
            WHERE o.px = w.px + d.dx AND o.py = w.py + d.dy
              AND w.dist < {int(max_rounds)}
        )
        SELECT px, py, CAST(min(dist) AS BIGINT) AS dist
        FROM walk GROUP BY px, py
    """


def kde_grid(
    points: DataFrame,
    depth: int,
    radius: int,
    x: str = "x",
    y: str = "y",
    world_bits: int = 16,
) -> DataFrame:
    """Kernel-density surface on the power-of-two grid (round 5): for
    every grid cell whose CENTER lies within ``radius`` of at least
    one point, the sum of unnormalized integer Epanechnikov weights

        w(p, c) = max(0, radius^2 - d2(p, center(c)))

    over all such points — the heatmap/hotspot operator of GIS
    (Silverman's KDE with the Epanechnikov kernel, public literature),
    quantized so Spark and the SQL twin agree at any accumulation
    order. Grid: cell edge 2^(world_bits - depth), center at
    cell*edge + edge/2 (exact integers for depth < world_bits).

    Plan shape: SCATTER like focal_sum — each point explodes to the
    (2k+1)^2 cells its kernel support can reach (k = ceil((radius +
    half_diag_reach)/edge), a CONSTANT fan-out), zero-weight
    candidates die in a filter BEFORE the shuffle, then ONE hash
    aggregation keyed on uniform cells — never a points x cells
    product. Same plan at 100 TB: fan-out is constant, the shuffle
    keys are the grid. Returns (cx, cy, density, n_pts).

    Boundary semantics: cells are NOT clamped to the world — a point
    near the edge contributes to out-of-world cells (negative /
    >= 2^depth coords) whose centers are still within radius; the twin
    mirrors this exactly. ANSI-safe: weights < 2^2*world_bits, sums
    bounded by n * radius^2 < 2^63 at any realistic n."""
    edge = 1 << (world_bits - depth)
    half = edge // 2
    r2 = radius * radius
    # kernel support reaches centers within radius of the point; the
    # point sits anywhere in its own cell, so cover ceil((radius+half)
    # /edge) rings (center offset from own-cell center <= radius+half)
    k = -(-(radius + half) // edge)
    sh = world_bits - depth
    cand = neighbor_cells(
        points.selectExpr(f"CAST(`{x}` AS BIGINT) AS _px",
                          f"CAST(`{y}` AS BIGINT) AS _py"),
        f"shiftright(_px, {sh})", f"shiftright(_py, {sh})",
        square_offsets(k), out=("cx", "cy"))
    ccx = F.col("cx") * edge + half
    ccy = F.col("cy") * edge + half
    d2 = (F.col("_px") - ccx) * (F.col("_px") - ccx) \
        + (F.col("_py") - ccy) * (F.col("_py") - ccy)
    w = (F.lit(r2) - d2)
    return (cand.withColumn("_w", w).where(F.col("_w") > 0)
            .groupBy("cx", "cy")
            .agg(F.sum("_w").alias("density"),
                 F.count("*").alias("n_pts")))


def kde_grid_sql(points_sql: str, depth: int, radius: int,
                 x: str = "x", y: str = "y", world_bits: int = 16) -> str:
    """DuckDB twin of kde_grid: the same scatter as a points x literal
    offset-VALUES join — identical integer weights, identical
    unclamped boundary semantics; floor division via >> on the
    (non-negative, in-world) point coords matches Spark shiftright."""
    edge = 1 << (world_bits - depth)
    half = edge // 2
    r2 = radius * radius
    k = -(-(radius + half) // edge)
    vals = ", ".join(f"({dx}, {dy})"
                     for dx in range(-k, k + 1) for dy in range(-k, k + 1))
    return f"""
        WITH pts AS ({points_sql}),
        offs(dx, dy) AS (VALUES {vals}),
        cand AS (
            SELECT (CAST({x} AS BIGINT) >> {world_bits - depth}) + dx AS cx,
                   (CAST({y} AS BIGINT) >> {world_bits - depth}) + dy AS cy,
                   CAST({x} AS BIGINT) AS px, CAST({y} AS BIGINT) AS py
            FROM pts CROSS JOIN offs
        )
        SELECT cx, cy,
               CAST(sum({r2} - ((px - (cx * {edge} + {half})) * (px - (cx * {edge} + {half}))
                         + (py - (cy * {edge} + {half})) * (py - (cy * {edge} + {half})))) AS BIGINT) AS density,
               CAST(count(*) AS BIGINT) AS n_pts
        FROM cand
        WHERE ((px - (cx * {edge} + {half})) * (px - (cx * {edge} + {half}))
             + (py - (cy * {edge} + {half})) * (py - (cy * {edge} + {half}))) < {r2}
        GROUP BY cx, cy
    """


GAMMA = 1.0 / 2.2  # Raytracing.hpp:697


def tone_map(c: Column) -> Column:
    """format_color_component (Raytracing.hpp:250-265): clamp to [0,1],
    gamma 1/2.2, scale to [0,255], +0.5 and truncate (C uint8 cast)."""
    clamped = F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))
    return F.floor(F.pow(clamped, F.lit(GAMMA)) * 255 + 0.5).cast("int")


def jitter_u(bounce: int, seed: int, stream: int, ray_id: str = "ray_id") -> Column:
    """Deterministic u01 sample per (ray, bounce, stream): hash-derived,
    reproducible under any partitioning (the MT19937 of the reference
    replaced by a stateless stream — documented deviation)."""
    return (
        F.pmod(F.xxhash64(ray_id, F.lit(bounce + stream), F.lit(seed)), F.lit(1 << 20))
        / F.lit(float(1 << 20))
    )


def _inline_hit_struct(objs: list, eps: float) -> Column:
    """Nearest-hit as ONE projection expression for a plan-time-known
    scene: per-object t formulas (sphere quadratic or cube slab, picked
    per object at plan time), packed into array<struct<t,obj>>, NULL
    misses filtered, array_min = (t asc, obj asc) argmin — exactly
    nearest_hit's min_by contract with ZERO joins and ZERO shuffles.
    The scale rationale: a scene is O(10-1e4) objects (broadcast-sized
    by construction) while rays are W*H*spp rows; per-bounce work
    should be a streamed projection over the ray table, not a
    |rays| x |scene| shuffle."""
    o = (F.col("origin_x"), F.col("origin_y"), F.col("origin_z"))
    d = (F.col("dir_x"), F.col("dir_y"), F.col("dir_z"))
    inf = float("inf")
    entries = []
    for r in objs:
        if r.shape == "CUBE":
            t = ray_aabb_t(
                o, d,
                (F.lit(r.cx), F.lit(r.cy), F.lit(r.cz)),
                (F.lit(r.cx + r.radius), F.lit(r.cy + r.radius),
                 F.lit(r.cz + r.radius)))
        else:
            t = ray_sphere_t(o, d, (F.lit(r.cx), F.lit(r.cy), F.lit(r.cz)),
                             F.lit(r.radius), eps=eps)
        # miss -> +inf sentinel so the argmin is a plain least() over
        # structs (whole-stage-codegen'd); higher-order filter/array_min
        # are interpreted per row — 10x slower on a 4M-ray render
        entries.append(F.struct(
            F.coalesce(t.cast("double"), F.lit(inf)).alias("t"),
            F.lit(int(r.obj_id)).cast("long").alias("obj")))
    best = F.least(*entries) if len(entries) > 1 else entries[0]
    return F.when(best["t"] != F.lit(inf), best)


def _inline_attr(objs: list, attr: str, default) -> Column:
    """Scene-attribute lookup by hit obj_id as a literal CASE chain."""
    expr = F.lit(default)
    for r in objs:
        expr = F.when(F.col("h_obj") == int(r.obj_id),
                      F.lit(getattr(r, attr))).otherwise(expr)
    return expr


def pathtrace(
    rays: DataFrame,
    scene: DataFrame,
    max_depth: int = 5,
    seed: int = 42,
    hit_eps: float = 1e-9,
    inline_scene: bool = False,
    roulette_from: int | None = None,
) -> DataFrame:
    """O23: bounded-depth path tracing as iterative per-bounce DataFrame
    passes (compute_radiance, Raytracing.hpp:501-638; depth cap :692)
    with all three material branches:

    - DIFFUSE (:566-580): cosine-weighted hemisphere sample about the
      oriented normal nl.
    - SPECULAR (:581-587): mirror reflection d - 2(d.n)n.
    - REFRACTION (:588-635): glass ior=1.5, total internal reflection,
      Schlick fresnel Re/Tr, and the reflect-vs-refract choice taken by
      a deterministic roulette u < P with RP/TP weights. Deviations
      (documented): the roulette applies at EVERY depth (the reference
      splits into both sub-rays at depth <= 2 — a 2^depth row fan-out a
      columnar plan should not take), and the depth cap replaces the
      colour-roulette of :557-564.

    Each bounce = one broadcast nearest-hit join + emission
    accumulation + the material CASE; sampling is hash-derived via
    jitter_u so results are reproducible under any partitioning.

    scene: (obj_id, cx, cy, cz, radius, emit, albedo[, material]
    [, shape]) — material in {'DIFFUSE','SPECULAR','REFRACTION'},
    default DIFFUSE; shape in {'SPHERE','CUBE'}, default SPHERE (CUBE =
    AABB with min corner (cx,cy,cz), extent radius; slab intersection +
    dominant-axis face normal, Raytracing.hpp:291-295, 534-543); scalar
    emission/albedo (gray) keeps the column count down; RGB is the same
    math three times. hit_eps: intersection tolerance (the reference
    uses 1e-4 — required for the 1e5-radius Cornell wall spheres, where
    quadratic-root cancellation noise exceeds 1e-9).

    roulette_from: COLOUR ROULETTE (Raytracing.hpp:552-564) — from that
    bounce index on, a path survives with probability equal to its hit
    object's max colour component (= the gray albedo here) and a
    survivor's colour weight is rescaled by 1/threshold (gray: the
    albedo factor becomes exactly 1); a dead path terminates with the
    emission it just accumulated. The reference applies this past its
    _MAX_DEPTH with UNBOUNDED recursion; a fixed-loop engine still
    truncates at max_depth — the residual bias decays as albedo^k and
    the truncation depth is the caller's knob. None (default) keeps
    the round-3 hard depth cap.

    Returns per-ray accumulated radiance (ray_id, px, py, sample_id,
    radiance). Misses terminate with 0 background.
    """
    if "material" not in scene.columns:
        scene = scene.withColumn("material", F.lit("DIFFUSE"))
    if "shape" not in scene.columns:
        scene = scene.withColumn("shape", F.lit("SPHERE"))
    scene = scene.select("obj_id", "cx", "cy", "cz", "radius", "emit",
                         "albedo", "material", "shape")
    objs = scene.collect() if inline_scene else None  # tiny by contract
    o_names = ("origin_x", "origin_y", "origin_z")
    d_names = ("dir_x", "dir_y", "dir_z")
    d = tuple(F.col(c) for c in d_names)
    live = rays.select(
        "ray_id", "px", "py", "sample_id", *o_names, *d_names,
        F.lit(1.0).alias("throughput"),
    )
    done_parts: list[DataFrame] = []
    for bounce in range(max_depth):
        if inline_scene:
            # nearest hit as ONE projection, then an immediate
            # localCheckpoint: h_t/h_obj become plain columns, so
            # projection collapse cannot substitute the 10-formula hit
            # expression into every downstream use (without the barrier
            # the collapsed tree explodes — observed 7.5 MB task
            # binaries and interpreted-speed evaluation). Per bounce,
            # the geometry is evaluated exactly once.
            ck = live.withColumn(
                "_b", _inline_hit_struct(objs, hit_eps)).localCheckpoint()
            missed = ck.filter(F.col("_b").isNull())
            h = ck.filter(F.col("_b").isNotNull()).withColumns({
                "h_obj": F.col("_b.obj"), "h_t": F.col("_b.t")})
            h = h.withColumns({
                a: _inline_attr(objs, a, None)
                for a in ("cx", "cy", "cz", "radius", "emit", "albedo",
                          "material", "shape")
            }).drop("_b")
        else:
            h = nearest_hit(live, scene, scene_t("mixed", hit_eps),
                            "ray_id").withColumnRenamed("t", "h_t")
            missed = live.join(h, "ray_id", "left_anti")
        done_parts.append(missed.select(
            "ray_id", "px", "py", "sample_id", F.lit(0.0).alias("radiance")))
        # emitted light weighted by current throughput
        contrib = h.select(
            "ray_id", "px", "py", "sample_id",
            (F.col("throughput") * F.col("emit")).alias("radiance"))
        done_parts.append(contrib)
        if bounce == max_depth - 1:
            break

        if roulette_from is not None and bounce >= roulette_from:
            # colour roulette (Raytracing.hpp:556-564): survive iff
            # u < threshold (= gray albedo); the dead path's emission
            # was already accumulated above, so death = drop from live
            h = h.filter(jitter_u(bounce, seed, 300) < F.col("albedo"))
            # survivor colour f*(1/threshold): gray albedo/albedo == 1
            alb = F.lit(1.0)
        else:
            alb = F.col("albedo")

        # hit point + outward normal, materialized as columns
        hit = (F.col("_hx"), F.col("_hy"), F.col("_hz"))
        h2 = h.withColumns(dict(zip(
            ("_hx", "_hy", "_hz"),
            hit_point([F.col(c) for c in o_names], d, F.col("h_t")))))
        # outward normal: sphere = radial; CUBE = dominant-axis face
        # normal from the box center (Raytracing.hpp:534-543)
        is_cube = F.col("shape") == "CUBE"
        half = F.col("radius") / 2.0
        cdx = F.col("_hx") - (F.col("cx") + half)
        cdy = F.col("_hy") - (F.col("cy") + half)
        cdz = F.col("_hz") - (F.col("cz") + half)
        adx, ady, adz = F.abs(cdx), F.abs(cdy), F.abs(cdz)
        x_dom = (adx > ady) & (adx > adz)
        y_dom = (~x_dom) & (ady > adz)
        z_dom = (~x_dom) & (~y_dom)

        def face(sel, comp):
            return F.when(sel, F.when(comp > 0, F.lit(1.0))
                          .otherwise(F.lit(-1.0))).otherwise(F.lit(0.0))

        radial = sphere_normal(
            hit, (F.col("cx"), F.col("cy"), F.col("cz")), F.col("radius"))
        h2 = h2.withColumns({
            "_nx": F.when(is_cube, face(x_dom, cdx)).otherwise(radial[0]),
            "_ny": F.when(is_cube, face(y_dom, cdy)).otherwise(radial[1]),
            "_nz": F.when(is_cube, face(z_dom, cdz)).otherwise(radial[2]),
        })
        n = (F.col("_nx"), F.col("_ny"), F.col("_nz"))
        h2 = h2.withColumn("_dot", _dot(d, n))
        # oriented normal nl (faces against the incoming ray, :551)
        flip = F.when(F.col("_dot") < 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        h2 = h2.withColumns({
            "_nlx": F.col("_nx") * flip, "_nly": F.col("_ny") * flip,
            "_nlz": F.col("_nz") * flip,
        })

        # --- DIFFUSE: cosine hemisphere sample about nl (:566-580) ---
        u1 = jitter_u(bounce, seed, 0)
        u2 = jitter_u(bounce, seed, 100)
        u3 = jitter_u(bounce, seed, 200)
        theta = u1 * 2.0 * 3.141592653589793
        rr = F.sqrt(u2)
        up_is_x = F.abs(F.col("_nlx")) > 0.9
        ax = F.when(up_is_x, F.lit(0.0)).otherwise(F.lit(1.0))
        h2 = h2.withColumn("_ax", ax) \
               .withColumn("_ay", 1.0 - F.col("_ax")).withColumn("_az", F.lit(0.0))
        cux = F.col("_ay") * F.col("_nlz") - F.col("_az") * F.col("_nly")
        cuy = F.col("_az") * F.col("_nlx") - F.col("_ax") * F.col("_nlz")
        cuz = F.col("_ax") * F.col("_nly") - F.col("_ay") * F.col("_nlx")
        ulen = F.sqrt(cux * cux + cuy * cuy + cuz * cuz)
        h2 = h2.withColumn("_ux", cux / ulen).withColumn("_uy", cuy / ulen) \
               .withColumn("_uz", cuz / ulen)
        vx = F.col("_nly") * F.col("_uz") - F.col("_nlz") * F.col("_uy")
        vy = F.col("_nlz") * F.col("_ux") - F.col("_nlx") * F.col("_uz")
        vz = F.col("_nlx") * F.col("_uy") - F.col("_nly") * F.col("_ux")
        sq = F.sqrt(F.greatest(F.lit(0.0), 1.0 - u2))
        h2 = h2.withColumns({
            "_dfx": F.col("_ux") * F.cos(theta) * rr + vx * F.sin(theta) * rr + F.col("_nlx") * sq,
            "_dfy": F.col("_uy") * F.cos(theta) * rr + vy * F.sin(theta) * rr + F.col("_nly") * sq,
            "_dfz": F.col("_uz") * F.cos(theta) * rr + vz * F.sin(theta) * rr + F.col("_nlz") * sq,
        })

        # --- SPECULAR (:585) and REFRACTION (:588-635) ---
        h2, refr_d, refr_w, _, _ = glass(h2, d, n, u3)

        # --- material select ---
        is_spec = F.col("material") == "SPECULAR"
        is_refr = F.col("material") == "REFRACTION"
        nd = tuple(F.when(is_spec, rf).when(is_refr, tr).otherwise(F.col(df))
                   for rf, tr, df in zip(reflect(d, n), refr_d,
                                         ("_dfx", "_dfy", "_dfz")))
        weight = F.when(is_refr, alb * refr_w).otherwise(alb)
        live = h2.select(
            "ray_id", "px", "py", "sample_id",
            *(c.alias(a) for c, a in zip(nudge(hit, nd), o_names)),
            *(c.alias(a) for c, a in zip(nd, d_names)),
            (F.col("throughput") * weight).alias("throughput"),
        )
        if not inline_scene:
            # the join path's multi-consumer plan needs the bounce
            # pinned; inline mode already checkpoints at the hit struct
            # (live is consumed exactly once, by the next bounce's ck)
            live = live.localCheckpoint()

    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("ray_id", "px", "py", "sample_id").agg(
        F.sum("radiance").alias("radiance"))


def render_scene(
    rays: DataFrame,
    scene: DataFrame,
    samples_per_subpixel: int,
    max_depth: int = 5,
    seed: int = 42,
    hit_eps: float = 1e-4,
) -> DataFrame:
    """E3 end-to-end: rays -> pathtrace -> the reference's pixel
    accumulation -> tone map, ONE lazy plan (Raytracing.hpp:445-499):
    per subpixel, radiance is the MEAN over its samples
    (sum of radiance * 1/RAY_PER_PIXEL, :485-488), CLAMPED to [0,1],
    then each of the subpixels contributes clamp(..)*(1/n_subpixels)
    to the pixel (:491 does *0.25 for the 2x2 block); the final value
    is gamma-mapped by tone_map (O25).

    rays: camera_rays_spark output — sample_id // samples_per_subpixel
    recovers the subpixel index. Returns (px, py, value, tone).
    Default hit_eps=1e-4 matches the reference's intersection
    tolerance (mandatory for the 1e5-radius Cornell walls). The scene
    is inlined into the plan (render scenes are O(10) objects), so
    each bounce is a shuffle-free projection; the ONLY shuffles in the
    whole render are the two pixel aggregations."""
    rad = pathtrace(rays, scene, max_depth=max_depth, seed=seed,
                    hit_eps=hit_eps, inline_scene=True)
    sub = rad.withColumn(
        "_sp", F.floor(F.col("sample_id") / samples_per_subpixel))
    subagg = sub.groupBy("px", "py", "_sp").agg(
        F.avg("radiance").alias("_r"),
        F.count("*").alias("_ns"))
    clamped = F.least(F.greatest(F.col("_r"), F.lit(0.0)), F.lit(1.0))
    # the subpixel count is data-derived (count, not a 0.25 literal) so
    # a partial ray table (tests) still normalizes correctly
    pix = subagg.groupBy("px", "py").agg(
        F.sum(clamped).alias("_s"), F.count("*").alias("_nsub"))
    pix = pix.select(
        "px", "py",
        (F.col("_s") / F.col("_nsub")).alias("value"))
    return pix.withColumn("tone", tone_map(F.col("value")))
