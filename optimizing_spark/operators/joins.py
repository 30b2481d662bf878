"""Spatial joins: the reference's tree traversals as DataFrame joins.

- ``pip_join``: O11/O1 — closed point-in-box with the box set
  broadcast (query geometries are typically tiny vs the object table).
- The box family — ``range_join`` (O10/O2 box overlap),
  ``polygon_join``, ``polygon_polygon_join``, ``segment_box_join``,
  ``segment_segment_join`` and ``snap_candidates_raw`` — are adapters
  over ONE plan, ``_bbox_join`` (the reference's one range search,
  DynamicOctree.hpp:146-171). Each adapter names a bbox per side and an
  exact predicate; the shared plan is:
  - method='broadcast': broadcast the right side and join on
    ``bbox gate AND exact predicate``, so codegen short-circuits
    non-candidates on the O(1) integer gate.
  - method='cells' (the both-sides-large, 100 TB shape): a box side
    explodes to the fixed-depth grid cells its bbox covers, a point
    side keeps its ONE home cell, and candidates meet in a single
    (cell_x, cell_y) equi-join — the equi-join on the cell key is the
    tree pruning. Two box sides emit a pair only in its reporting cell
    (the cell holding the bbox-overlap region's min corner), so
    duplicates vanish WITHOUT a dedup shuffle; a point meets each box
    in one cell only, so it needs no such gate. The residual is ONE
    filter, ``bbox gate AND reporting cell AND exact predicate``: the
    cheap integer gates first and the costly fold last. Conjunct order
    survives Catalyst (no cost-based reordering), so a pair sharing k
    cells pays k cheap tests but exactly ONE fold (measured 2.0x on the
    20M-polygon bench --poly); chained filters would let a later-pushed
    fold land ahead of the gates.
- ``knn_join``: O17/O22 — cell-local kNN: ring-expansion candidate
  generation (the 3x3 load ring of WorldPartition::update,
  hpp:198-204) in two rounds of one lazy plan. Round 1 rings every
  query at a density-derived radius and finishes those whose
  k-th-distance disc provably fits it; round 2 re-rings the rest at a
  per-query radius that is a plan expression — the disc-cover bound,
  capped by a bound from a broadcast occupied-cell summary (no driver
  loop, no nested-loop join over the objects). Provably exact.
- ``ring_semi_join``: O17 — objects residing in the Chebyshev-<=k ring
  of each query's cell; ``distance_join``, ``radius_join`` and the
  streaming distance join probe the same ring: one side's rows shift
  to every cell of ``cells.square_offsets(r)`` through
  ``cells.neighbor_cells`` and meet the other side's home cell in one
  (cell_x, cell_y) equi-join. ``st_pair_join`` keeps its own 3-D
  half-space offset set, and ``knn_join`` its per-row, grid-clipped
  radius.
- ``nearest_hit_xy``: O22 — the k=1 fast path, an adapter over
  ``raster.nearest_hit`` (the engine's one min_by argmin).
- ``linear_scan``: O29 — the un-pruned control (plain theta-join).

Scale notes: all joins are equi-joins on integer cell keys (shuffle
hash / sort-merge with AQE skew split) except the deliberately-naive
linear_scan and the broadcast paths (BroadcastNestedLoopJoin is the
right plan when one side is a handful of query geometries).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..config import Box2
from ..functions import geometry as G
from ..functions.cells import grid_cell_sql, neighbor_cells, square_offsets
from .raster import nearest_hit
from .tiling import explode_covering_cells


def _grid(world: Box2, depth: int) -> tuple[int, float, float]:
    n = 1 << depth
    return n, (world.max_x - world.min_x) / n, (world.max_y - world.min_y) / n


def _cell_sql(world: Box2, depth: int, x: str, y: str) -> tuple[str, str]:
    """(cell_x, cell_y) SQL text of the point (x, y) on the depth grid."""
    n, sx, sy = _grid(world, depth)
    return (grid_cell_sql(x, world.min_x, sx, n),
            grid_cell_sql(y, world.min_y, sy, n))


def _report_sql(world: Box2, depth: int, a: tuple[str, str], b: tuple[str, str]) -> str:
    """Reporting-cell gate of the box-explode joins: the overlap
    region's min corner — greatest of the two boxes' (min_x, min_y)
    columns ``a`` and ``b`` — lies in the row's (cell_x, cell_y)."""
    rx, ry = _cell_sql(world, depth, f"greatest({a[0]}, {b[0]})",
                       f"greatest({a[1]}, {b[1]})")
    return f"{rx} = cell_x AND {ry} = cell_y"


def _hit_sql(lbox: tuple[str, ...], rbox: tuple[str, ...], convention: str) -> str:
    """Bbox gate as SQL text. A point ``lbox`` = (x, y) must lie in the
    closed ``rbox``; two boxes (min_x, min_y, max_x, max_y) overlap,
    closed (geometry.overlaps), or under convention='rect' by the
    asymmetric search() rule with ``lbox`` as the query
    (geometry.rect_overlaps). Text, like grid_cell_sql, so the gate is
    one Py4J round trip instead of ~15 Column-node calls; the
    range_join == linear_scan tests hold it to the Column forms."""
    x0, y0, x1, y1 = rbox
    if len(lbox) == 2:
        x, y = lbox
        return f"{x} >= {x0} AND {x} <= {x1} AND {y} >= {y0} AND {y} <= {y1}"
    lt = "<" if convention == "rect" else "<="
    a0x, a0y, a1x, a1y = lbox
    return f"{a0x} {lt} {x1} AND {a1x} >= {x0} AND {a0y} {lt} {y1} AND {a1y} >= {y0}"


def _bbox_join(
    left: DataFrame,
    right: DataFrame,
    lbox: tuple[str, ...],
    rbox: tuple[str, ...],
    pred: Column | None,
    method: str,
    world: Box2 | None,
    depth: int,
    convention: str = "closed",
) -> DataFrame:
    """The box family's one join plan (see the module docstring).
    ``lbox``/``rbox`` name each side's bbox columns (min_x, min_y,
    max_x, max_y), or (x, y) for a point left side; ``pred`` is the
    exact predicate (None when the bbox gate is exact). Returns both
    sides' columns, in cells mode led by the match cell (cell_x,
    cell_y); the adapter projects its output."""
    if method not in ("broadcast", "cells"):
        raise ValueError(f"unknown method {method!r}")
    if method == "cells" and world is None:
        raise ValueError("method='cells' needs a world box")
    gates = [_hit_sql(lbox, rbox, convention)]
    if method == "cells":
        if len(lbox) == 2:
            cx, cy = _cell_sql(world, depth, *lbox)
            left = left.withColumns({"cell_x": F.expr(cx), "cell_y": F.expr(cy)})
        else:
            left = explode_covering_cells(left, world, depth, *lbox)
            gates.append(_report_sql(world, depth, lbox[:2], rbox[:2]))
        right = explode_covering_cells(right, world, depth, *rbox)
    cond = F.expr(" AND ".join(gates))
    if pred is not None:
        cond = cond & pred
    if method == "broadcast":
        return left.join(F.broadcast(right), cond)
    return left.join(right, ["cell_x", "cell_y"]).filter(cond)


def _poly_box(df: DataFrame, keep, vertices: str, p: str) -> tuple[DataFrame, tuple]:
    """``keep`` columns of df plus the bbox of its ``vertices`` ring as
    _{p}x0, _{p}y0, _{p}x1, _{p}y1."""
    box = tuple(f"_{p}{c}" for c in ("x0", "y0", "x1", "y1"))
    bb = G.polygon_bbox(F.col(vertices))
    return df.select(*keep, *[c.alias(n) for c, n in zip(bb, box)]), box


def _seg_box(df: DataFrame, seg, p: str, pad: int = 0) -> tuple[DataFrame, tuple]:
    """df plus the bbox of the segment ``seg`` = (x1, y1, x2, y2),
    dilated by ``pad``, as _{p}_min_x, _{p}_min_y, _{p}_max_x,
    _{p}_max_y."""
    x1, y1, x2, y2 = seg
    box = tuple(f"_{p}_{c}" for c in ("min_x", "min_y", "max_x", "max_y"))
    lo, hi = (f" - {pad}", f" + {pad}") if pad else ("", "")
    return df.selectExpr(
        "*", f"least({x1}, {x2}){lo} AS {box[0]}", f"least({y1}, {y2}){lo} AS {box[1]}",
        f"greatest({x1}, {x2}){hi} AS {box[2]}", f"greatest({y1}, {y2}){hi} AS {box[3]}",
    ), box


def pip_join(points: DataFrame, boxes: DataFrame, dims: int = 3) -> DataFrame:
    """Point-in-box join (O11) under the 3D BoundaryBox convention,
    closed at both ends (BoundaryBox.hpp:42-46); the boxes broadcast."""
    box = G.BoxCols.prefixed("", dims=dims)
    pred = G.contains_point(box, F.col("x"), F.col("y"), F.col("z") if dims == 3 else None)
    return points.join(F.broadcast(boxes), pred)


def range_join(
    objects: DataFrame,
    queries: DataFrame,
    world: Box2,
    depth: int = 6,
    convention: str = "rect",
) -> DataFrame:
    """Box-overlap join (O10). Output: one row per (query, object) pair
    whose boxes overlap under the chosen convention:
    - 'rect': asymmetric 2D search() semantics (.Test/QuadTree.cpp:58-69)
    - 'closed': 3D closed overlap on x/y (BoundaryBox.hpp:47-51)

    The box family's cells plan (module docstring) with the bbox gate as
    the exact predicate: expected candidates per cell stay O(density),
    the equi-join shuffles on (cell_x, cell_y), and the reporting cell
    replaces a dedup pass.
    """
    def side(df: DataFrame, key: str, p: str) -> tuple[DataFrame, tuple]:
        box = ("min_x", "min_y", "max_x", "max_y")
        return (df.selectExpr(key, *[f"{c} AS {p}_{c}" for c in box]),
                tuple(f"{p}_{c}" for c in box))

    (q, qbox), (o, obox) = side(queries, "query_id", "q"), side(objects, "obj_id", "o")
    return _bbox_join(q, o, qbox, obox, None, "cells", world, depth, convention) \
        .drop("cell_x", "cell_y")


def linear_scan(objects: DataFrame, queries: DataFrame, convention: str = "rect") -> DataFrame:
    """O29 control: full theta-join, no cell pruning (broadcast the
    queries; .Test/vectorQuadTree.cpp:399-415)."""
    qbox = G.BoxCols("q_min_x", "q_min_y", "q_max_x", "q_max_y")
    obox = G.BoxCols("min_x", "min_y", "max_x", "max_y")
    pred = G.rect_overlaps(qbox, obox) if convention == "rect" else G.overlaps(qbox, obox)
    q = queries.select(
        "query_id",
        F.col("min_x").alias("q_min_x"), F.col("min_y").alias("q_min_y"),
        F.col("max_x").alias("q_max_x"), F.col("max_y").alias("q_max_y"),
    )
    return objects.join(F.broadcast(q), pred)


def polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    method: str = "broadcast",
    world: Box2 | None = None,
    depth: int = 6,
    test: str = "convex",
) -> DataFrame:
    """Point-in-convex-polygon join — the north star's "broadcast
    point-in-polygon join", generalizing pip_join (O1/O11) from AABBs
    to convex vertex rings. points(point_id, x, y) x polygons(
    query_id, vertices: array<struct<x,y>>), boundary-inclusive CCW
    half-plane test (functions/geometry.point_in_convex_polygon).

    method='broadcast' (default, the small-dim case) or 'cells' (the
    both-sides-large case): the box family's plans (module docstring),
    with the point side keeping its single home cell, so no reporting
    gate is needed.

    test='convex' (default) uses the boundary-inclusive CCW half-plane
    fold (geometry.point_in_convex_polygon); test='crossing' uses the
    even-odd crossing-number rule (geometry.point_in_polygon_crossing)
    and handles arbitrary SIMPLE rings — concave stars included — with
    the same integer-exact guarantee and the same bbox prefilter /
    broadcast / cell-join plans.
    """
    polys, box = _poly_box(polygons, ["query_id", "vertices"], "vertices", "b")
    if test == "convex":
        in_poly = G.point_in_convex_polygon(
            F.col("x"), F.col("y"), F.col("vertices"))
    elif test == "crossing":
        in_poly = G.point_in_polygon_crossing(
            F.col("x"), F.col("y"), F.col("vertices"))
    else:
        raise ValueError(f"unknown test {test!r}")
    return _bbox_join(points, polys, ("x", "y"), box, in_poly, method, world, depth) \
        .drop("cell_x", "cell_y", *box)


DIST_JOIN_MAX_FANOUT = 81  # copies per row, (2r+1)^2 at r=4 — the silent-blow-up guard


def _ring_grid(world: Box2, d: int, depth: int | None,
               max_fanout: int = DIST_JOIN_MAX_FANOUT,
               who: str = "distance_join") -> tuple:
    """Shared cell-grid geometry for the distance-band joins (batch
    distance_join and streaming.cells_stream.streaming_distance_join —
    ONE policy so the stream==batch contract can't silently diverge).
    Returns (depth, n, sx, sy, r).

    depth=None auto-picks floor(log2(min_extent / d)) clamped to
    [0, 12] so cell_edge lands in [d, 2d) and r=1. r is then clamped
    to n-1: grid_cell_sql clamps coordinates into [0, n-1], so ring offsets
    with |dx| >= n can never equi-match any real cell — dropping them
    changes nothing and keeps the auto path valid even when d exceeds
    the world extent (depth 0, one cell, r=0: the exact d^2 predicate
    does all the work). The fan-out guard therefore only fires on an
    EXPLICIT deep depth with a large d."""
    if world is None:
        raise ValueError(f"{who} needs a world box")
    if depth is None:
        ext = min(world.max_x - world.min_x, world.max_y - world.min_y)
        depth = max(0, min(12, int(math.floor(
            math.log2(max(ext / max(d, 1), 1.0))))))
    n, sx, sy = _grid(world, depth)
    r = min(int(-(-d // min(sx, sy))), n - 1)  # ceil, clamped to grid
    # copies each probe row becomes: the spatial ring, or st_pair_join's
    # half-space of the ring x its {-1, 0, 1} time-bucket ring
    if who == "st_pair_join":
        form, fanout = "(3(2r+1)^2+1)/2", (3 * (2 * r + 1) ** 2 + 1) // 2
    else:
        form, fanout = "(2r+1)^2", (2 * r + 1) ** 2
    if fanout > max_fanout:
        raise ValueError(
            f"{who} ring fan-out {form} = {fanout} copies per row exceeds "
            f"max_fanout={max_fanout} (d={d}, r={r}, cell_edge~{min(sx, sy):.0f} "
            f"at depth={depth}); pass depth=None to auto-size cells to "
            f"~d (r<=1), choose a shallower depth, or raise max_fanout "
            f"explicitly if the blow-up is intended.")
    return depth, n, sx, sy, r


def distance_join(
    points: DataFrame,
    d: int,
    world: Box2,
    depth: int | None = None,
    id_col: str = "point_id",
    max_fanout: int = DIST_JOIN_MAX_FANOUT,
) -> DataFrame:
    """Distance-band self-join: all unordered pairs of points within
    Euclidean distance d (closed), each exactly once (id_a < id_b),
    with the exact integer squared distance. The cell-index shape:
    one side keeps its single cell, the other explodes to the
    Chebyshev-<=r ring (r = ceil(d / cell_edge)) around its cell, so
    candidates meet in ONE (cell_x, cell_y) equi-shuffle and the
    exact d^2 predicate runs only on co-located candidates — the
    100 TB plan (cf. ring_semi_join / WorldPartition.hpp:194-213).
    The id_a < id_b filter dedups the symmetric appearance, so no
    distinct pass is needed.

    depth=None (default) auto-picks floor(log2(min_extent / d))
    clamped to [0, 12]: cell_edge lands in [d, 2d) so the ring radius
    is exactly r=1 and the explode fan-out a fixed 9 cells (r clamps
    to the grid width, so even d > world extent degrades gracefully to
    one cell + exact predicate — see _ring_grid). A caller passing an
    explicit deep depth with a large d explodes quadratically —
    (2r+1)^2 — so the fan-out is guarded like the LSH bucket cap
    (dedup.minhash_lsh_pairs max_bucket_rows): exceeding `max_fanout`
    raises instead of silently shuffling r^2 copies."""
    depth, _, _, _, r = _ring_grid(world, d, depth, max_fanout)
    acx, acy = _cell_sql(world, depth, "ax", "ay")
    # coords cast to long: the d^2 residual squares coordinate deltas,
    # which overflows 32-bit inputs under ANSI mode (the driver's
    # default session) — the cast keeps the operator exact for any
    # integral coordinate dtype
    a = points.select(
        F.col(id_col).alias("id_a"),
        F.col("x").cast("long").alias("ax"),
        F.col("y").cast("long").alias("ay"),
    ).withColumn("cell_x", F.expr(acx)).withColumn("cell_y", F.expr(acy))
    b = neighbor_cells(points.select(
        F.col(id_col).alias("id_b"),
        F.col("x").cast("long").alias("bx"),
        F.col("y").cast("long").alias("by"),
    ), *_cell_sql(world, depth, "bx", "by"), square_offsets(r))
    dist2 = (
        (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
        + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
    )
    return (
        a.join(b, ["cell_x", "cell_y"])
        .filter((F.col("id_a") < F.col("id_b")) & (dist2 <= F.lit(d * d)))
        .select("id_a", "id_b", dist2.alias("dist2"))
    )


def st_pair_join(
    events: DataFrame,
    d: int,
    t: int,
    world: Box2,
    depth: int | None = None,
    id_col: str = "event_id",
    max_fanout: int = DIST_JOIN_MAX_FANOUT,
) -> DataFrame:
    """Spatio-temporal distance-band self-join: all unordered pairs of
    events within Euclidean distance d AND time gap t (both closed),
    each exactly once (id_a < id_b), with the exact integer squared
    distance and gap — contact tracing / co-occurrence / conflation,
    the time-extended distance_join and the axes-A+B composition the
    interleaved brief centers on.

    events(id, x, y, tsec) with tsec a NON-NEGATIVE integer clock
    (epoch seconds/micros — `div` truncation equals floor only there).
    The 100 TB shape: one side keeps its single (cell_x, cell_y, tb)
    key, the other explodes to the Chebyshev-<=r spatial ring x the
    {-1,0,1} time-bucket ring (bucket width = t, so a qualifying pair
    differs by <= 1 bucket), candidates meet in ONE 3-column
    equi-shuffle, exact residuals run only on co-located candidates.
    The half-space explode below makes (3(2r+1)^2 + 1)/2, about
    1.5x(2r+1)^2, copies per event — auto depth keeps r=1 (14
    copies). `max_fanout` caps that copy count, as it caps
    distance_join's (2r+1)^2.

    Streaming twin: streaming/cells_stream.streaming_distance_join is
    the stream-stream form of the same semantics (distance band +
    +-bound_seconds), with the watermark+time bound as the
    state-eviction contract."""
    if t < 1:
        raise ValueError("st_pair_join needs t >= 1")
    depth, _, _, _, r = _ring_grid(world, d, depth, max_fanout,
                                   who="st_pair_join")
    acx, acy = _cell_sql(world, depth, "ax", "ay")
    bcx, bcy = _cell_sql(world, depth, "bx", "by")
    # HALF-SPACE explode: of the full (2r+1)^2 x 3 offset cube, the
    # probe side only materializes the zero offset plus the
    # lexicographically-POSITIVE half (first nonzero of (dt, dy, dx)
    # > 0). For an unordered pair the key delta D = key_a - key_b
    # satisfies D = -D(swapped), so exactly one orientation finds a
    # positive offset — each pair meets exactly once with NO id-order
    # filter; only same-key pairs (D = 0, both orientations match)
    # dedup by id<. Halves the shuffled fan-out vs the symmetric ring
    # (14 copies instead of 27 at r=1) at identical output.
    offs = [(0, 0, 0)] + [
        (dt, dy, dx)
        for dt in (-1, 0, 1) for dy in range(-r, r + 1)
        for dx in range(-r, r + 1)
        if (dt, dy, dx) > (0, 0, 0)
    ]
    off_arr = F.array(*[
        F.struct(F.lit(dt).alias("dt"), F.lit(dy).alias("dy"),
                 F.lit(dx).alias("dx"),
                 F.lit(dt == 0 and dy == 0 and dx == 0).alias("zero"))
        for dt, dy, dx in offs
    ])
    a = events.select(
        F.col(id_col).alias("id_a"),
        F.col("x").cast("long").alias("ax"),
        F.col("y").cast("long").alias("ay"),
        F.col("tsec").cast("long").alias("ta"),
    ).withColumn("cell_x", F.expr(acx)).withColumn("cell_y", F.expr(acy)) \
     .withColumn("tb", F.expr(f"ta div {int(t)}"))
    b = (
        events.select(
            F.col(id_col).alias("id_b"),
            F.col("x").cast("long").alias("bx"),
            F.col("y").cast("long").alias("by"),
            F.col("tsec").cast("long").alias("tbt"),
        )
        .withColumn("_bcx", F.expr(bcx))
        .withColumn("_bcy", F.expr(bcy))
        .withColumn("_o", F.explode(off_arr))
        .select(
            "id_b", "bx", "by", "tbt", F.col("_o.zero").alias("_zero"),
            (F.col("_bcx") + F.col("_o.dx")).alias("cell_x"),
            (F.col("_bcy") + F.col("_o.dy")).alias("cell_y"),
            (F.expr(f"tbt div {int(t)}") + F.col("_o.dt")).alias("tb"),
        )
    )
    dist2 = (
        (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
        + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
    )
    gap = F.abs(F.col("ta") - F.col("tbt"))
    # hash, not sort-merge: keys are near-unique (events are sparse in
    # (cell, bucket) space), so SMJ would SORT the 14x-exploded probe
    # side for no merge benefit; hashing the compact kept side builds
    # a per-partition table of N/partitions rows and streams the probe
    return (
        a.hint("shuffle_hash").join(b, ["cell_x", "cell_y", "tb"])
        .filter((~F.col("_zero") | (F.col("id_a") < F.col("id_b")))
                & (F.col("id_a") != F.col("id_b"))
                & (dist2 <= F.lit(int(d) * int(d)))
                & (gap <= F.lit(int(t))))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            dist2.alias("dist2"), gap.alias("gap"))
    )


def radius_join(
    points: DataFrame,
    queries: DataFrame,
    d: int,
    world: Box2,
    depth: int | None = None,
    method: str = "broadcast",
    max_fanout: int = DIST_JOIN_MAX_FANOUT,
) -> DataFrame:
    """Two-table distance-band join: every (query, point) pair with
    Euclidean distance <= d (closed), each exactly once, with the
    exact integer squared distance — the asymmetric sibling of
    distance_join and the candidate generator for IDW interpolation
    (operators/interpolate.py) and density queries. Same grid policy
    as distance_join (_ring_grid: depth=None auto-sizes cell_edge to
    [d, 2d) so the ring is r=1 and fan-out 9).

    points must carry integral coordinate columns (x, y) — every other
    point column (values, weights, ids) is preserved in the output.
    queries must carry (qx, qy); its other columns are preserved too,
    so callers group directly on their query key with no re-join.

    method='broadcast' (default): the QUERY side explodes to its
    (2r+1)^2 ring cells and broadcasts — the big point table never
    shuffles; candidates are generated by a hash probe per point (the
    hex-ring-join shape). method='cells': both sides shuffle once on
    (cell_x, cell_y) for the both-sides-large case. Each point lives
    in exactly one cell and each query emits each ring cell once, so
    a pair meets at most once — no dedup pass in either mode."""
    if method not in ("broadcast", "cells"):
        raise ValueError(f"unknown radius_join method {method!r}")
    depth, _, _, _, r = _ring_grid(world, d, depth, max_fanout,
                                   who="radius_join")
    pcx, pcy = _cell_sql(world, depth, "x", "y")
    p = (
        points
        .withColumn("x", F.col("x").cast("long"))
        .withColumn("y", F.col("y").cast("long"))
        .withColumn("cell_x", F.expr(pcx))
        .withColumn("cell_y", F.expr(pcy))
    )
    q = neighbor_cells(
        queries
        .withColumn("qx", F.col("qx").cast("long"))
        .withColumn("qy", F.col("qy").cast("long")),
        *_cell_sql(world, depth, "qx", "qy"), square_offsets(r))
    rhs = F.broadcast(q) if method == "broadcast" else q
    dist2 = (
        (F.col("qx") - F.col("x")) * (F.col("qx") - F.col("x"))
        + (F.col("qy") - F.col("y")) * (F.col("qy") - F.col("y"))
    )
    return (
        p.join(rhs, ["cell_x", "cell_y"])
        .filter(dist2 <= F.lit(d * d))
        .withColumn("dist2", dist2)
        .drop("cell_x", "cell_y")
    )


def polygon_polygon_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    method: str = "broadcast",
    world: Box2 | None = None,
    depth: int = 6,
) -> DataFrame:
    """Polygon-polygon overlap join — the classic spatial join,
    completing the point/segment/box/polygon family. polys_a(a_id,
    vertices_a) x polys_b(b_id, vertices_b), exact closed semantics
    (geometry.polygons_overlap: any edge pair intersects, or either
    vertex-0 containment), integer arithmetic throughout.

    method='broadcast' (broadcast polys_b) or 'cells': the box family's
    plans (module docstring) over the two polygon bboxes; the O(1) bbox
    and reporting-cell gates run before the edge-pair fold.
    """
    a, abox = _poly_box(polys_a, ["*"], "vertices_a", "a")
    b, bbox = _poly_box(polys_b, ["*"], "vertices_b", "b")
    overlap = G.polygons_overlap(F.col("vertices_a"), F.col("vertices_b"))
    return _bbox_join(a, b, abox, bbox, overlap, method, world, depth) \
        .drop("cell_x", "cell_y", *abox, *bbox)


def segment_box_join(
    segments: DataFrame,
    boxes: DataFrame,
    method: str = "broadcast",
    world: Box2 | None = None,
    depth: int = 6,
) -> DataFrame:
    """Segment-vs-box intersection join — 1D geometry (roads,
    trajectories, network edges) against query tiles, completing the
    point/box/polygon/ray family. segments(seg_id, x1, y1, x2, y2) x
    boxes(query_id, q_min_x..q_max_y), exact integer SAT predicate
    (geometry.segment_intersects_box; the batch-join form of the
    reference's per-ray slab walk, Raytracing.hpp:267-289).

    method='broadcast' (broadcast the boxes, stream segments through)
    or 'cells': the box family's plans (module docstring) over the
    segment bbox and the box.
    """
    qbox = ("q_min_x", "q_min_y", "q_max_x", "q_max_y")
    pred = G.segment_intersects_box(
        F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"), G.BoxCols(*qbox))
    s, sbox = _seg_box(segments, ("x1", "y1", "x2", "y2"), "s")
    return _bbox_join(s, boxes, sbox, qbox, pred, method, world, depth) \
        .drop("cell_x", "cell_y", *sbox)


def segment_segment_join(
    left: DataFrame,
    right: DataFrame,
    method: str = "broadcast",
    world: Box2 | None = None,
    depth: int = 6,
) -> DataFrame:
    """Segment-vs-segment CROSSING join — map overlay / road-network
    intersection detection, the 1D×1D member completing the
    point/box/segment/polygon join family (extends the reference's O10
    range search, DynamicOctree.hpp:146-171, to pair-of-polyline-edge
    workloads). left(a_id, ax1, ay1, ax2, ay2) × right(b_id, bx1, by1,
    bx2, by2); the predicate is geometry.segments_intersect — exact
    integer mutual non-strict straddle + bbox overlap, so collinear
    overlaps and endpoint touches count (closed sets).

    method='broadcast' (broadcast the right side, stream the left) or
    'cells': the box family's plans (module docstring) over the two
    segment bboxes."""
    pred = G.segments_intersect(
        F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2"),
        F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2"))
    a, abox = _seg_box(left, ("ax1", "ay1", "ax2", "ay2"), "a")
    b, bbox = _seg_box(right, ("bx1", "by1", "bx2", "by2"), "b")
    return _bbox_join(a, b, abox, bbox, pred, method, world, depth) \
        .drop("cell_x", "cell_y", *abox, *bbox)


def snap_join(
    points: DataFrame,
    segments: DataFrame,
    max_d: int,
    world: Box2,
    depth: int | None = None,
    method: str = "cells",
) -> DataFrame:
    """Map-matching primitive: snap each point to its NEAREST segment
    within ``max_d`` — the GPS-trace-to-road-network assignment, the
    point-to-1D member of the nearest family (O22's argmin,
    Raytracing.hpp nearest-hit, over O10's range candidates,
    DynamicOctree.hpp:146-171).

    points(point_id, px, py) x segments(seg_id, x1, y1, x2, y2) ->
    (point_id, seg_id, d2): the winning segment per point and its
    squared point-to-segment distance. Points with no segment within
    max_d are absent (inner semantics). Ties and the argmin are
    decided by lexicographic (d2, seg_id), so the result is a
    deterministic function of the input SET.

    Exactness and engine portability: the clamped-projection distance
    is the rational num/den with num = |w|^2*len2 - dot^2, den = len2
    (endpoint branches den = 1), all BIGINT-exact — the max_d gate is
    the EXACT integer comparison num <= max_d^2 * den, and only the
    ORDERING value d2 is the IEEE double num/den, which is
    bit-identical in any IEEE-754 engine (num, den < 2^53 exact, one
    correctly-rounded divide) — the same portability argument as the
    Gi* z-scores. Caller contract: |w|^2 * len2 < 2^63 (coords and
    segment lengths up to ~2^17 are safe).

    method='cells' (the 100 TB shape): segment bboxes dilate by max_d
    and explode to covering cells (auto depth sizes cell_edge to
    ~max_d, so the dilation adds <= 1 ring); each point lands in its
    ONE home cell, so every qualifying (point, segment) pair meets
    exactly once — no dedup pass — in ONE (cell_x, cell_y)
    equi-shuffle, then a hash argmin per point. method='broadcast':
    crossJoin against the broadcast segment side — the linear-scan
    control (O29) and the small-network fast path."""
    if method == "broadcast":
        cand = points.crossJoin(F.broadcast(segments))
    elif method == "cells":
        cand = snap_candidates_raw(points, segments, max_d, world, depth)
    else:
        raise ValueError(f"unknown method {method!r}")
    keep, d2 = snap_exprs(max_d)
    scored = cand.select(
        *[c for c in points.columns], d2.alias("_d2"), "seg_id",
    ).filter(keep)
    return (
        scored.groupBy("point_id")
        .agg(F.min(F.struct(F.col("_d2"), F.col("seg_id"))).alias("_m"))
        .select("point_id", F.col("_m.seg_id").alias("seg_id"),
                F.col("_m._d2").alias("d2"))
    )


def snap_exprs(max_d: int):
    """(keep, d2) column pair of the snap distance algebra over the
    joined (px, py, x1, y1, x2, y2) columns: `keep` is the EXACT
    integer rational max_d gate, `d2` the IEEE-portable ordering
    double — shared by snap_join and streaming.streaming_snap_join so
    stream and batch can't diverge."""
    max_d2 = int(max_d) * int(max_d)
    vx = F.col("x2") - F.col("x1")
    vy = F.col("y2") - F.col("y1")
    wx = F.col("px") - F.col("x1")
    wy = F.col("py") - F.col("y1")
    ux = F.col("px") - F.col("x2")
    uy = F.col("py") - F.col("y2")
    dot = wx * vx + wy * vy
    len2 = vx * vx + vy * vy
    w2 = wx * wx + wy * wy
    u2 = ux * ux + uy * uy
    keep = (
        F.when(dot <= 0, w2 <= F.lit(max_d2))
        .when(dot >= len2, u2 <= F.lit(max_d2))
        .otherwise(w2 * len2 - dot * dot <= F.lit(max_d2) * len2)
    )
    d2 = (
        F.when(dot <= 0, w2.cast("double"))
        .when(dot >= len2, u2.cast("double"))
        .otherwise((w2 * len2 - dot * dot).cast("double")
                   / len2.cast("double"))
    )
    return keep, d2


def snap_candidates_raw(
    points: DataFrame,
    segments: DataFrame,
    max_d: int,
    world: Box2,
    depth: int | None = None,
) -> DataFrame:
    """The cells-mode candidate join of snap_join, pre-filter: the box
    family's cells plan (module docstring) of each point against the
    segment bboxes dilated by max_d. Each point keeps its ONE home
    cell, so every qualifying pair meets exactly once. Works unchanged
    on a STREAMING points side (both projections are stateless; the
    equi-join against the static exploded segment side is a
    stream-static join)."""
    depth = _ring_grid(world, max_d, depth, who="snap_join")[0]
    s, sbox = _seg_box(segments, ("x1", "y1", "x2", "y2"), "s", pad=max_d)
    return _bbox_join(points, s, ("px", "py"), sbox, None, "cells", world, depth) \
        .drop(*sbox)


def ring_semi_join(
    objects: DataFrame, queries: DataFrame, world: Box2, depth: int, k: int = 1
) -> DataFrame:
    """O17: all objects whose cell lies in the Chebyshev-<=k ring around
    each query point's cell (the 3x3 load ring). Objects must carry
    (cell_x, cell_y); queries carry point (x, y)."""
    q = neighbor_cells(queries, *_cell_sql(world, depth, "x", "y"),
                       square_offsets(k))
    return q.join(objects, ["cell_x", "cell_y"])


def knn_join(
    queries: DataFrame,
    objects: DataFrame,
    world: Box2,
    depth: int,
    k: int,
    oversample: int = 8,
    broadcast_queries: bool = False,
) -> DataFrame:
    """Exact kNN (queries: query_id, x, y; objects: obj_id, x, y), as
    ONE lazy plan: building it runs no Spark job, and the sink runs it
    as one SQL execution.

    1. Round 1 rings every query at r0, derived from data density
       inside the plan: the object count is a scalar subquery, and r0
       satisfies (2*r0+1)^2 * density >= oversample * k (guarded to 1
       on an empty table — the unguarded division yields Infinity and
       an ANSI overflow at F.ceil). One window pass over the candidates
       gives per-row rank, per-query candidate count and k-th-candidate
       distance d_k. A query with >= k candidates whose d_k-disc bound
       fits inside r0 is provably complete: its top-k is emitted here.
    2. Round 2 covers every other query with ONE ring join + top-k, at
       radius least(bnd if satisfied, rg). Both are provable upper
       bounds on the radius that covers the k-th-distance disc:
       - bnd, the d_k disc-cover bound of a satisfied query;
       - rg, from a broadcast OCCUPIED-CELL summary (bounded by
         min(4^depth, #objects) rows — never the object table itself,
         so no BroadcastNestedLoopJoin over a non-trivial side): the
         smallest Chebyshev radius whose cumulative cell count reaches
         k, inflated by the cell-diagonal factor. It is the only bound
         of a starved query (< k candidates at r0 — density-derived r0
         defeated by local skew), including one with no candidate.
       Round 1's stats feed both rounds: over a file-scan input AQE
       reuses their exchange, so the round-1 ring join runs once, and
       its empty-relation propagation drops round 2's ring join when
       every query finished in round 1. Over a cached object table (an
       InMemoryRelation) AQE does not reuse it, and round 1 runs twice.

    Returns (query_id, obj_id, d2, rank). Ties: obj_id ascending —
    deterministic under any partitioning.
    """
    n, sx, sy = _grid(world, depth)
    cx, cy = _cell_sql(world, depth, "x", "y")
    o = objects.selectExpr(
        "obj_id", "x AS ox", "y AS oy", f"{cx} AS cell_x", f"{cy} AS cell_y")
    q0 = queries.selectExpr(
        "query_id", "x AS qx", "y AS qy", f"{cx} AS qcx", f"{cy} AS qcy")

    def ring_candidates(qdf: DataFrame) -> DataFrame:
        """(query_id, _r, obj_id, d2) of the objects in the grid-clipped
        Chebyshev-<=_r ring around each query's cell."""
        qq = qdf.selectExpr(
            "query_id", "qx", "qy", "qcy", "_r",
            f"explode(sequence(greatest(0, qcx - _r), least({n - 1}, qcx + _r))) AS cell_x",
        ).selectExpr(
            "query_id", "qx", "qy", "_r", "cell_x",
            f"explode(sequence(greatest(0, qcy - _r), least({n - 1}, qcy + _r))) AS cell_y",
        )
        # broadcast_queries=True is the fast path for the reference
        # workload (a handful of viewport/player queries vs a huge
        # object table): the exploded query-ring side broadcasts and
        # objects STREAM through a BroadcastHashJoin — zero shuffle of
        # the big side. It is an explicit opt-in, NOT the default: the
        # hint bypasses autoBroadcastJoinThreshold, and a large query
        # set exploded x (2r+1)^2 ring cells would OOM the driver
        # where the default shuffle equi-join on cell keys is safe.
        c = (F.broadcast(qq) if broadcast_queries else qq) \
            .join(o, ["cell_x", "cell_y"])
        return c.selectExpr(
            "query_id", "_r", "obj_id", "(ox - qx) * (ox - qx) + (oy - qy) * (oy - qy) AS d2")

    # round 1: density-derived ring radius from the scalar object count
    nobj = objects.agg(F.count("*")).scalar()
    density = nobj.cast("double") / F.lit(float(n * n))
    r0 = F.when(
        nobj > 0,
        F.ceil((F.sqrt(F.lit(float(oversample * k)) / density) - F.lit(1.0)) / 2),
    ).otherwise(F.lit(1))
    r0 = F.greatest(F.lit(1), F.least(F.lit(n - 1), r0)).cast("int")
    wk = W.partitionBy("query_id").orderBy("d2", "obj_id")
    wall = W.partitionBy("query_id")
    stats = (
        ring_candidates(q0.withColumn("_r", r0))
        .withColumn("_rk", F.row_number().over(wk))
        .withColumn("_cnt", F.count("*").over(wall))
        # d_k = k-th candidate distance (or farthest when _cnt < k)
        .withColumn("_dk2", F.max(
            F.when(F.col("_rk") == F.least(F.lit(k), F.col("_cnt")), F.col("d2"))
        ).over(wall))
    )
    # Exact disc-cover bound: a point within Euclid distance d of the
    # query lies in a cell whose per-axis index differs by at most
    # floor(d / cell_axis) + 1 (the +1 absorbs the query's intra-cell
    # offset). floor, NOT ceil+1: the looser form can never be <= r0=1,
    # which silently forced the second ring join for EVERY query.
    cellw = min(sx, sy)
    bnd = F.least(
        F.lit(n), (F.floor(F.sqrt(F.col("_dk2")) / F.lit(cellw)) + 1).cast("int")
    )
    sat = F.col("_cnt") >= k
    fast = stats.filter(sat & (bnd <= F.col("_r")) & (F.col("_rk") <= k)) \
        .select("query_id", "obj_id", "d2", F.col("_rk").alias("rank"))

    # round 2: the left join keeps the queries with no round-1 candidate
    # (no stats row, so _bnd is null like any starved query's)
    todo = q0.join(
        stats.filter(F.col("_rk") == 1)
        .select("query_id", "_r", F.when(sat, bnd).alias("_bnd")),
        "query_id", "left",
    ).filter(F.col("_bnd").isNull() | (F.col("_bnd") > F.col("_r")))
    csum = o.groupBy("cell_x", "cell_y").agg(F.count("*").alias("_cn"))
    # bounded cartesian: every round-2 query sees every occupied cell.
    # The join key is constant-valued but NOT constant-foldable
    # (pmod(col, 1) == 0 has no simplification rule), which keeps the
    # plan on BroadcastHashJoin — "no BroadcastNestedLoopJoin" stays a
    # mechanically checkable invariant of this operator even though a
    # BNLJ over this bounded build side would cost the same.
    sj = todo.withColumn("_one", F.pmod(F.col("qcx"), F.lit(1))).join(
        F.broadcast(csum.withColumn("_one", F.pmod(F.col("cell_x"), F.lit(1)))),
        "_one").drop("_one")
    cheb = F.greatest(F.abs(F.col("cell_x") - F.col("qcx")),
                      F.abs(F.col("cell_y") - F.col("qcy")))
    sj = sj.withColumn("_cheb", cheb)
    wcum = W.partitionBy("query_id").orderBy("_cheb", "cell_x", "cell_y") \
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    sj = sj.withColumn("_cum", F.sum("_cn").over(wcum))
    sj = sj.groupBy("query_id", "qx", "qy", "qcx", "qcy", "_bnd").agg(
        F.min(F.when(F.col("_cum") >= k, F.col("_cheb"))).alias("_rq"))
    # table smaller than k -> no radius reaches k: full-grid ring
    rq = F.coalesce(F.col("_rq"), F.lit(n - 1))
    # d_k <= (rq+1) * max_cell * sqrt(2); cells within ceil(d_k/min_cell)+1
    # Chebyshev distance provably cover the d_k disc
    diag = max(sx, sy) * math.sqrt(2.0) / cellw
    rg = F.least(F.lit(n), (F.floor((rq + 1) * F.lit(diag)) + 1).cast("int"))
    # least() skips nulls: a starved query's radius is rg alone
    second = ring_candidates(sj.withColumn("_r", F.least(F.col("_bnd"), rg)))
    return fast.unionByName(
        second.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k).select("query_id", "obj_id", "d2", "rank"))


def nearest_hit_xy(queries: DataFrame, objects: DataFrame) -> DataFrame:
    """k=1 fast path (O22 shape): ``raster.nearest_hit`` with the
    queries broadcast and the objects streamed, t = squared distance
    with obj_id tiebreak. Returns (query_id, obj_id, d2)."""
    q = queries.select("query_id", F.col("x").alias("qx"), F.col("y").alias("qy"))
    ddx = F.col("x") - F.col("qx")
    ddy = F.col("y") - F.col("qy")
    return nearest_hit(objects.select("obj_id", "x", "y"), q,
                       ddx * ddx + ddy * ddy, "query_id").select(
        "query_id", "obj_id", F.col("t").alias("d2"))
