"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operators (SURVEY.md §2) over spatial
tables derived deterministically from the driver parquet with
integer-exact arithmetic (optimizing_spark/sources/derived.py), so the
DuckDB ``oracle_sql()`` twins agree bit-for-bit: integer coordinates,
squared distances, integer-valued sums, power-of-two world.

Operator coverage map (reference file:line cites in the module docs):
- O6/O16 cell assign + counts  -> q_cell_counts
- O27 Morton encode            -> q_morton
- O8 static quadtree assign    -> q_qt_assign
- O1/O11 point-in-box join     -> q_pip_join
- O2/O10 range join            -> q_range_join
- O29 linear-scan control      -> q_linear_control
- O17/O22 kNN / neighbor ring  -> q_knn, q_ring_count, q_nearest
- O12 remove (anti-join)       -> q_remove
- O14 relocate (re-encode)     -> q_relocate
- O24 raster aggregation       -> q_raster
- O25 tone-map                 -> q_tonemap
- window top-k                 -> q_topk_per_cell
- partial aggregation          -> q_agg_wide
- O7 capacity rule (exact)     -> q_oct_capacity
- O15 world resize/rebuild     -> q_rebuild
- O19 full extract             -> q_extract
- O20 ray-AABB slab            -> q_ray_box
- O21 ray-sphere quadratic     -> q_ray_circle
- O31 north-rule docs pipeline -> q_docs_pipeline (oracle-exact)
- banded embedding LSH         -> q_embed_neardup_lsh (oracle-exact)
- grid-DBSCAN clustering       -> q_dbscan (cell density + CC)
- zonal statistics             -> q_zonal (per-polygon aggregates)
- interval-overlap join        -> q_interval (bucketed, no nested loop)
- portable sketches            -> q_hll (HyperLogLog), q_cms_tokens
                                  (Count-Min; both engine-portable)
- bloom semi-join pruning      -> q_bloom_prune (bit-exact sketch)
- non-convex PIP (crossing)    -> q_pip_concave (integer even-odd)
- hexagonal cells (H3 analog)  -> q_hex_counts, q_hex_ring
- segment-box join (exact SAT) -> q_seg_join
- polygon-polygon overlap      -> q_poly_poly (all edge pairs +
                                  containment, closed semantics)
- distance-band self-join      -> q_dist_join (kring + exact d^2)
- IDW interpolation            -> q_idw (quantized Shepard weights)
- convex hull / farthest pair  -> q_hull, q_diameter (partial-hull
                                  merge; O(h^2) diameter vs brute max)
- skyline / Pareto frontier    -> q_skyline (sort-sweep vs
                                  NOT-EXISTS-dominator twin)
- closest pair                 -> q_closest (grouped x-sweep; global
                                  band-doubling over distance_join)
- polygon area/centroid        -> q_poly_stats (pure-JVM integer
                                  shoelace, division-free)
plus the text/dedup/similarity/event suite (q_token_count ..
q_top_customers) — every queries() key has an oracle_sql() twin.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from optimizing_spark.config import POW2_WORLD_2D, POW2_WORLD_EDGE
from optimizing_spark.functions import cells as C
from optimizing_spark.functions import geometry as G
from optimizing_spark.functions import text as TX
from optimizing_spark.operators import closest as CL
from optimizing_spark.operators import dedup as DD
from optimizing_spark.operators import hull as H
from optimizing_spark.operators import interpolate as ITP
from optimizing_spark.operators import autocorr as AC
from optimizing_spark.operators import joins as J
from optimizing_spark.operators import measure as MEAS
from optimizing_spark.operators import pointpattern as PP
from optimizing_spark.operators import raster as R
from optimizing_spark.operators import similarity as SIM
from optimizing_spark.operators import skyline as SKY
from optimizing_spark.operators import temporal as T
from optimizing_spark.operators import trajectory as TRJ
from optimizing_spark.sources import derived as D
from optimizing_spark.sources import oracle_text as OT

E = POW2_WORLD_EDGE
_MAX_ND = 4  # deepest static-quadtree node (QT_MAX_DEPTH - 1)


# ---------------------------------------------------------------------------
# shared building blocks
# ---------------------------------------------------------------------------

def _qt_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """objects2d + closed-form static-quadtree (qt_depth, qt_code)."""
    return C.assign_quadtree_pow2(D.objects2d(spark, sf_dir), max_node_depth=_MAX_ND)


_SQL_QT_TILED = f"""
    SELECT *,
           CASE qt_depth
                WHEN 4 THEN m4 WHEN 3 THEN m4 >> 2 WHEN 2 THEN m4 >> 4
                WHEN 1 THEN m4 >> 6 ELSE 0 END AS qt_code
    FROM (
        SELECT *,
               {D.qt_fits_depth_sql(_MAX_ND)} AS qt_depth,
               {D.morton2d_sql('ix >> 12', 'iy >> 12')} AS m4
        FROM objs
    )
"""


def _objects_boxes(spark, sf_dir):
    o = D.objects2d(spark, sf_dir)
    return o.select(
        "obj_id",
        F.col("ix").alias("min_x"), F.col("iy").alias("min_y"),
        (F.col("ix") + F.col("sx")).alias("max_x"),
        (F.col("iy") + F.col("sy")).alias("max_y"),
    )


def _query_boxes_named(spark, sf_dir):
    return D.query_boxes(spark, sf_dir).select(
        "query_id",
        F.col("q_min_x").alias("min_x"), F.col("q_min_y").alias("min_y"),
        F.col("q_max_x").alias("max_x"), F.col("q_max_y").alias("max_y"),
    )


# rect-convention overlap in SQL (asymmetric: q.min < o.max, q.max >= o.min;
# .Test/QuadTree.cpp:58-69)
_SQL_RANGE_PAIRS = f"""
    WITH objs AS ({D.SQL_OBJECTS}), qb AS ({D.SQL_QUERY_BOXES})
    SELECT qb.query_id, objs.obj_id
    FROM qb JOIN objs
      ON qb.q_min_x < objs.ix + objs.sx AND qb.q_max_x >= objs.ix
     AND qb.q_min_y < objs.iy + objs.sy AND qb.q_max_y >= objs.iy
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6+O16: per-cell row counts at the assigned quadtree node."""
    return _qt_tiled(spark, sf_dir).groupBy("qt_depth", "qt_code") \
        .agg(F.count("*").alias("n"))


def q_cell_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell exact distribution stats at the assigned quadtree node
    (O6+O16 extension): R-7 linear-interpolated p25/p50/p75 of the
    integer x coordinate plus min/max/count. On integer inputs the
    interpolated quantiles are exact dyadic rationals (k/4), so Spark
    percentile and DuckDB quantile_cont agree bit-for-bit with no
    rounding bridge. One partial-agg hash shuffle on uniform
    (depth, code) keys — the same plan at 100 TB."""
    t = _qt_tiled(spark, sf_dir)
    return t.groupBy("qt_depth", "qt_code").agg(
        F.count("*").alias("n"),
        F.min("ix").alias("min_ix"),
        F.max("ix").alias("max_ix"),
        F.expr("percentile(ix, 0.25)").alias("p25_ix"),
        F.expr("percentile(ix, 0.5)").alias("p50_ix"),
        F.expr("percentile(ix, 0.75)").alias("p75_ix"))


def q_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O27: full-resolution 2D Morton code per object."""
    o = D.objects2d(spark, sf_dir)
    return o.select("obj_id", C.morton2d(F.col("ix"), F.col("iy")).alias("m"))


def q_qt_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8: static-quadtree node per object."""
    return _qt_tiled(spark, sf_dir).select("obj_id", "qt_depth", "qt_code")


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O11: broadcast point-in-box join (closed intervals)."""
    p = D.points(spark, sf_dir).select(
        F.col("point_id"), F.col("px").alias("x"), F.col("py").alias("y"))
    b = _query_boxes_named(spark, sf_dir)
    out = J.pip_join(p, b, dims=2)
    return out.select("query_id", "point_id")


def q_pip_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star's broadcast point-in-polygon join: points against
    convex quadrilaterals (supplier diamonds), boundary-inclusive
    half-plane tests — integer cross products, so exact vs the
    oracle's unrolled edge SQL."""
    p = D.points(spark, sf_dir).select(
        F.col("point_id"), F.col("px").alias("x"), F.col("py").alias("y"))
    polys = D.polygons(spark, sf_dir)
    out = J.polygon_join(p, polys, method="broadcast")
    return out.select("query_id", "point_id")


def q_pip_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-NON-CONVEX-polygon join: points against concave
    8-vertex supplier stars via the even-odd crossing-number rule
    (geometry.point_in_polygon_crossing) — integer multiply-through,
    no division, so bit-exact vs the oracle's unrolled 8-edge SQL.
    Generalizes q_pip_poly beyond convex rings; the half-plane test
    would wrongly accept the star's concave notches."""
    p = D.points(spark, sf_dir).select(
        F.col("point_id"), F.col("px").alias("x"), F.col("py").alias("y"))
    polys = D.star_polygons(spark, sf_dir)
    out = J.polygon_join(p, polys, method="broadcast", test="crossing")
    return out.select("query_id", "point_id")


def q_hex_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hexagonal cell counts — the H3-analog of q_cell_counts: every
    customer point binned to its nearest two-lattice hex center
    (cells.hex_cell, integer squared-distance nearest-center pick),
    then a plain hash count per (hq, hr) cell. Same 100 TB shape as
    the square grid: one scan, one shuffle keyed on uniform integer
    cells."""
    p = D.points(spark, sf_dir)
    hq, hr = C.hex_cell(F.col("px"), F.col("py"))
    return (
        p.select(hq.alias("hq"), hr.alias("hr"))
        .groupBy("hq", "hr")
        .agg(F.count("*").alias("n_pts"))
    )


def q_hex_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex neighbor-ring load — O17's 3x3 kring re-expressed on the
    hex grid (cells.HEX_RING: self + 6 neighbors): per
    query point, count customer points whose hex cell lies in the
    7-cell ring around the query's cell. Equi-join on (hq, hr) after
    exploding the constant offset array on the TINY query side —
    never on the point table."""
    p = D.points(spark, sf_dir)
    phq, phr = C.hex_cell(F.col("px"), F.col("py"))
    pts = p.select(phq.alias("hq"), phr.alias("hr"))
    q = D.knn_queries(spark, sf_dir)
    qhq, qhr = C.hex_cell(F.col("qx"), F.col("qy"))
    ring = C.neighbor_cells(
        q.select("query_id", qhq.alias("hq"), qhr.alias("hr")),
        "hq", "hr", C.HEX_RING, out=("hq", "hr"))
    hits = pts.join(F.broadcast(ring), ["hq", "hr"]).groupBy("query_id").agg(
        F.count("*").alias("n_ring"))
    # hits is bounded by the query count — broadcast the left join too
    return q.select("query_id").join(F.broadcast(hits), "query_id", "left") \
        .select("query_id", F.coalesce("n_ring", F.lit(0)).alias("n_ring"))


def q_dist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-band self-join (joins.distance_join): all unordered
    customer-point pairs within Euclidean distance 1500 (closed),
    exact integer squared distances, each pair exactly once. Cell
    equi-join + kring explode — never an all-pairs product; oracle is
    the plain inequality join. depth=None auto-sizes cells to ~d
    (picks depth 5 here: cell_edge 2048 for d=1500, ring r=1)."""
    p = D.points(spark, sf_dir).select(
        "point_id", F.col("px").alias("x"), F.col("py").alias("y"))
    return J.distance_join(p, d=1500, world=POW2_WORLD_2D, depth=None)


def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted interpolation (interpolate.idw,
    round 5): estimate an integer measurement at every supplier query
    site from the customer sample sites within d=3000, Shepard
    power-2 weights quantized to integers (w = 2^30 div (1+d2)) so
    Spark and DuckDB agree bit-for-bit at any accumulation order.
    Candidates come from joins.radius_join — the query side explodes
    to its r=1 kring and broadcasts; the sample table never shuffles.
    Zero-neighbor sites survive with n_pts=0 / NULL estimate."""
    sites = D.sample_sites(spark, sf_dir)
    qs = D.supplier_queries(spark, sf_dir)
    return ITP.idw(sites, qs, d=3000, world=POW2_WORLD_2D)


def _hull_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer points bucketed into 64 hull groups (grp, x, y)."""
    return D.points(spark, sf_dir).select(
        (F.col("point_id") % 64).alias("grp"),
        F.col("px").alias("x"), F.col("py").alias("y"))


def q_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group strict convex hull vertex SETS (hull.convex_hull,
    round 5): Akl-Toussaint prefilter + monotone chain inside ONE
    applyInPandas per group key — integer cross products, exact at
    any coordinate < 2^31. The oracle re-derives the same vertex set
    declaratively: (a, b) is a strict CCW hull edge iff no third
    point is strictly right of it and no collinear point falls
    outside the closed segment; vertices = distinct edge sources
    (plus single-point groups). seq ordering is pytest-verified
    (tests/test_hull.py) — the driver hash is row-order-free, so the
    gated contract is the exact vertex set per group."""
    return H.convex_hull(_hull_groups(spark, sf_dir), "grp") \
        .select("grp", "x", "y")


def q_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group farthest-pair squared distance (hull.diameter,
    round 5): hull first, then the exact pair max over hull vertices
    only — both endpoints of a diameter are extreme points, so the
    O(N^2) search collapses to O(h^2). The oracle brute-forces the
    full pair max per group AND recomputes hull_size via the strict
    hull-edge characterization, so a hull that dropped a true vertex
    (or kept a fake one) hash-mismatches twice over."""
    return H.diameter(_hull_groups(spark, sf_dir), "grp")


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pareto frontier (skyline.skyline, round 5): the
    minimize-both dominance frontier of the customer points, same
    64-group split as q_hull. Spark reduces each group to its
    frontier with an O(n log n) sort-sweep inside applyInPandas; the
    oracle is the textbook NOT-EXISTS-dominator quadratic — a point
    survives iff no other point of its group is <= in both
    coordinates and < in at least one."""
    return SKY.skyline(_hull_groups(spark, sf_dir), "grp")


def q_closest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closest pair (closest.closest_pair_grouped, round 5):
    exact minimum squared distance over raw row pairs (duplicates
    count as 0) per 64-group customer split, via the x-sweep inside
    applyInPandas. Oracle is the brute pair min (a.point_id <>
    b.point_id). The GLOBAL operator (closest.closest_pair_global,
    iterative band doubling over distance_join — each round one
    9-cell-fan-out equi-shuffle) is pytest-gated vs brute NumPy."""
    return CL.closest_pair_grouped(_hull_groups(spark, sf_dir), "grp")


def q_poly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer shoelace over the concave supplier stars
    (geometry.shoelace_cols, round 5): area2 = 2*signed_area (CCW
    positive), cx6/cy6 = the 6*area*centroid numerators — all BIGINT,
    division deferred to the caller, so the DuckDB twin (the same sum
    unrolled over the 8-vertex ring) matches bit-for-bit. Pure JVM:
    transform + aggregate inside codegen, zero Python."""
    stars = D.star_polygons(spark, sf_dir)
    a2, cx6, cy6 = G.shoelace_cols(F.col("vertices"))
    return stars.select("query_id", a2.alias("area2"),
                        cx6.alias("cx6"), cy6.alias("cy6"))


def q_quadkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bing-style quadkey tile keys (cells.quadkey, round 5): per-tile
    object counts keyed by the base-4 STRING code at depth 6 — the
    web-map tile-server interop encoding (parent tile = key prefix,
    so prefix scans are subtree reads; same bit order as q_morton /
    q_qt_assign, whose codes are already driver-gated — this is their
    string re-encoding, gated in the driver window since the round-6
    rotation).
    Pure JVM concat of per-level digit lookups; DuckDB twin builds
    the identical string (cells.quadkey_sql)."""
    o = D.objects2d(spark, sf_dir)
    qk = C.quadkey(F.shiftright("ix", 10), F.shiftright("iy", 10), 6)
    return o.groupBy(qk.alias("qk")).agg(F.count("*").alias("n"))


_VALID_SWAP = (0, 4, 2, 3, 1, 5, 6, 7)  # bowtie: vertices 1 and 4 swap


def q_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon validity + orientation (round 5, the ST_IsSimple /
    ST_Area-sign analog, composed from existing primitives like
    q_visibility): per ring, is_simple = NO pair of non-adjacent edges
    intersects (exact closed geometry.segments_intersect over the 20
    non-adjacent pairs of the 8-edge ring; wrap pair (0,7) excluded)
    and orient = sign of the edge-row shoelace sum. Odd query_ids get
    vertices 1 and 4 swapped — planted bowties, so the validity split
    is real, not vacuous. One equi-join on query_id (the i-conditions
    stay in the filter so DuckDB's twin hash-joins — never an IEJoin
    upstream of LEAST/GREATEST, the documented 1.0.0 bug)."""
    stars = D.star_polygons(spark, sf_dir)
    vs = F.col("vertices")
    ring = F.when(
        F.col("query_id") % 2 == 1,
        F.array(*[vs[i] for i in _VALID_SWAP])).otherwise(vs)
    p = stars.select("query_id", ring.alias("r"))
    edges = p.select("query_id", F.explode(F.array(*[
        F.struct(
            F.lit(i).alias("i"),
            F.col("r")[i]["x"].alias("x1"), F.col("r")[i]["y"].alias("y1"),
            F.col("r")[(i + 1) % 8]["x"].alias("x2"),
            F.col("r")[(i + 1) % 8]["y"].alias("y2"))
        for i in range(8)])).alias("e")).select("query_id", "e.*")
    a = edges.select(*[F.col(c).alias(f"a_{c}") if c != "query_id" else c
                       for c in edges.columns])
    b = edges.select(*[F.col(c).alias(f"b_{c}") if c != "query_id" else c
                       for c in edges.columns])
    pred = G.segments_intersect(
        F.col("a_x1"), F.col("a_y1"), F.col("a_x2"), F.col("a_y2"),
        F.col("b_x1"), F.col("b_y1"), F.col("b_x2"), F.col("b_y2"))
    bad = (
        a.join(b, "query_id")
        .filter((F.col("a_i") < F.col("b_i"))
                & (F.col("b_i") - F.col("a_i") > 1)
                & ~((F.col("a_i") == 0) & (F.col("b_i") == 7)))
        .filter(pred)
        .select("query_id").distinct()
        .withColumn("_bad", F.lit(True))
    )
    area = edges.groupBy("query_id").agg(
        F.sum(F.col("x1") * F.col("y2") - F.col("x2") * F.col("y1"))
        .alias("_a2"))
    return area.join(bad, "query_id", "left").select(
        "query_id",
        F.coalesce(~F.col("_bad"), F.lit(True)).alias("is_simple"),
        F.when(F.col("_a2") > 0, 1).when(F.col("_a2") < 0, -1)
        .otherwise(0).cast("long").alias("orient"),
    )


def _valid_sql() -> str:
    """DuckDB twin of q_valid — the same parity-swapped edge rows,
    non-adjacent pair test (hash join on query_id; i-conditions in the
    WHERE) and edge-row shoelace sign."""
    ring = D.STAR_RING_SQL

    def coord(pos: int, axis: int) -> str:
        orig = ring[pos][axis]
        sw = ring[_VALID_SWAP[pos]][axis]
        return (f"CASE WHEN query_id % 2 = 1 THEN {sw} "
                f"ELSE {orig} END")

    edge_rows = " UNION ALL ".join(
        f"SELECT query_id, {i} AS i, {coord(i, 0)} AS x1, "
        f"{coord(i, 1)} AS y1, {coord((i + 1) % 8, 0)} AS x2, "
        f"{coord((i + 1) % 8, 1)} AS y2 FROM star"
        for i in range(8))
    pred = D.seg_pair_sql(("a.x1", "a.y1"), ("a.x2", "a.y2"),
                          ("b.x1", "b.y1"), ("b.x2", "b.y2"))
    return f"""
        WITH star AS ({D.SQL_STAR_POLYGONS}),
        edges AS ({edge_rows}),
        bad AS (
            SELECT DISTINCT a.query_id
            FROM edges a JOIN edges b ON a.query_id = b.query_id
            WHERE a.i < b.i AND b.i - a.i > 1
              AND NOT (a.i = 0 AND b.i = 7)
              AND {pred}
        ),
        area AS (
            SELECT query_id,
                   CAST(sum(x1 * y2 - x2 * y1) AS BIGINT) AS a2
            FROM edges GROUP BY query_id
        )
        SELECT area.query_id,
               bad.query_id IS NULL AS is_simple,
               CASE WHEN a2 > 0 THEN CAST(1 AS BIGINT)
                    WHEN a2 < 0 THEN CAST(-1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS orient
        FROM area LEFT JOIN bad ON bad.query_id = area.query_id
    """


def q_distfield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic distance transform (raster.distance_transform,
    round 5): 4-adjacency hop distance from hash-seeded source cells
    through the occupied depth-6 lattice of the obj_id%7 object
    subset — raster cost-distance, the engine's iterative-frontier
    operator beyond dedup_cc's pointer jumping. Per round: frontier
    explode + equi-join + left-anti + localCheckpoint; stops when the
    frontier drains (eccentricity ~12 here) or at the max_rounds=24
    cap, which is part of the contract so the depth-capped
    recursive-CTE twin computes the identical set."""
    o = D.objects2d(spark, sf_dir).filter(F.col("obj_id") % 7 == 0)
    occ = o.select(
        F.shiftright("ix", 10).alias("px"),
        F.shiftright("iy", 10).alias("py")).distinct()
    seeds = occ.filter((F.col("px") * 31 + F.col("py")) % 29 == 0)
    return R.distance_transform(occ, seeds, max_rounds=24)


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-time CUBE (round 5): per-(cell_x, cell_y, day) event
    counts + integer value sums with ALL grouping-set margins (row/
    column/day totals and the grand total) in ONE pass — the OLAP
    rollup surface of the space-time cube (the q_qt_rollup pyramid's
    grouping-sets sibling). Geocoded events at depth 3 (8x8 grid),
    integer day index (date_diff days — whole-day NTZ arithmetic is
    engine-portable), cent-scaled value sums. Spark df.cube == DuckDB
    GROUP BY CUBE: NULL marks a rolled-up dimension on both engines."""
    ev = D.load(spark, sf_dir, "events")
    k = F.col("event_id").cast("long")
    base = ev.select(
        F.shiftright((k * 48271) % E, 13).alias("cell_x"),
        F.shiftright((k * 69621) % E, 13).alias("cell_y"),
        F.expr("datediff(ts, timestamp_ntz'2024-01-01 00:00:00')")
        .cast("long").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    return base.cube("cell_x", "cell_y", "day").agg(
        F.count("*").alias("n"),
        F.sum("value_c").alias("sum_value_c"))


def q_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster -> vector contour (raster.contour_edges, round 5): the
    exact boundary edges of the dense region of the depth-6 object
    raster (cells with count >= ceil(mean) — a scale-free,
    data-derived threshold: integer ceil division computed identically
    on both engines; the 1-row collect is the knn-style bounded driver
    step). One explode + left-anti equi-join; output = integer edge
    segments in cell coordinates, row count = region perimeter. Twin:
    NOT EXISTS neighbor over the same inside set
    (raster.contour_edges_sql with the threshold as a scalar
    subquery)."""
    r = D.objects2d(spark, sf_dir).groupBy(
        F.shiftright("ix", 10).alias("px"),
        F.shiftright("iy", 10).alias("py"),
    ).agg(F.count("*").alias("n"))
    tot = r.agg(F.sum("n").alias("s"), F.count("*").alias("c")).collect()[0]
    thr = (int(tot["s"]) + int(tot["c"]) - 1) // int(tot["c"])
    return R.contour_edges(r, thr)


def q_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity coverage (temporal.interval_union, round 5):
    the gaps-and-islands merge of the q_interval click intervals —
    one row per maximal merged island (m_t0, m_t1, n_merged), closed
    adjacency ([a,b]+[b+1,c] is one island). ONE user_id shuffle
    drives the sort, running-max island flags and per-island
    aggregates; never an interval self-join. Bit-exact BIGINT twin
    (temporal.interval_union_sql)."""
    from optimizing_spark.operators.temporal import interval_union

    ev = D.load(spark, sf_dir, "events").withColumn(
        "_ep", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"))
    base = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id",
        F.expr("timestampdiff(MICROSECOND, _ep, ts)").alias("t0"),
    ).withColumn(
        "t1",
        F.col("t0") + (F.col("event_id") % 541 + 60) * F.lit(1_000_000))
    return interval_union(base, on="user_id")


def q_st_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatio-temporal co-occurrence (joins.st_pair_join, round 5):
    unordered event pairs within 1200 world units AND 24h — the
    axes-A+B composition: geocoded events (integer coords hashed from
    event_id, the derived-table convention) with the microsecond-exact
    NTZ clock (timestampdiff MICROSECOND, the q_interval recipe).
    ONE (cell_x, cell_y, tb) equi-shuffle at auto depth (spatial ring
    r=1 x time-bucket ring {-1,0,1}, fan-out 27), exact integer d^2 +
    gap residuals; the DuckDB twin is the brute inequality join."""
    ev = D.load(spark, sf_dir, "events").withColumn(
        "_ep", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"))
    k = F.col("event_id").cast("long")
    ste = ev.select(
        k.alias("event_id"),
        ((k * 48271) % E).alias("x"),
        ((k * 69621) % E).alias("y"),
        F.expr("timestampdiff(MICROSECOND, _ep, ts)").alias("tsec"),
    )
    return J.st_pair_join(ste, d=1200, t=86400 * 1_000_000,
                          world=POW2_WORLD_2D)


def q_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-matching snap join (joins.snap_join, round 5): each customer
    point snaps to its nearest lineitem road segment (the %20==2
    family) within max_d=3000 — dilated-bbox covering cells at auto
    depth (cell_edge ~ max_d, so each qualifying pair meets exactly
    once in the point's home cell), ONE equi-shuffle, hash argmin by
    lexicographic (d2, seg_id). The max_d gate is the EXACT integer
    rational comparison; only the ordering value d2 is the IEEE double
    num/den, bit-identical in DuckDB (num, den < 2^53). The twin is
    the brute cross join + row_number over the same algebra — the O29
    linear-scan control."""
    pts = D.points(spark, sf_dir)
    segs = D.segments(spark, sf_dir).filter(F.col("seg_id") % 20 == 2)
    return J.snap_join(pts, segs, max_d=3000, world=POW2_WORLD_2D)


def q_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Klee's measure (operators/measure.union_area, round 5): exact
    area of the UNION of the lineitem object boxes [ix, ix+sx) x
    [iy, iy+sy) at grid depth 6, reported per cell — cells tile the
    world and clips are exact, so per-cell areas sum to the union with
    no cross-cell dedup pass. Cells fully covered by a single clip
    short-circuit to edge^2 and skip the sweep; the rest run the
    event-slab x running-max y-interval merge as pure window + join
    algebra partitioned by (cell, slab). BIGINT-exact; the DuckDB twin
    (measure.union_area_sql) is the identical algebra."""
    boxes = D.objects2d(spark, sf_dir).select(
        F.col("ix").alias("x_min"), F.col("iy").alias("y_min"),
        (F.col("ix") + F.col("sx")).alias("x_max"),
        (F.col("iy") + F.col("sy")).alias("y_max"))
    return MEAS.union_area(boxes, POW2_WORLD_2D, depth=6, per_cell=True)


def q_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve index per object (cells.with_hilbert2d, round 5):
    the locality-optimal space-filling alternative to q_morton's
    Z-order for write clustering — consecutive codes are ALWAYS
    grid-adjacent, so viewport reads decompose into ~3x fewer
    contiguous code runs (Moon et al. 2001; measured in
    tests/test_hilbert.py and bench --hilbert). Branch-free per-bit
    descend-and-rotate: 16 chained pure-BIGINT projections, one
    whole-stage-codegen span, no CASE/UDF/shuffle; the DuckDB twin is
    the same arithmetic as a generated 16-step CTE chain
    (cells.hilbert2d_sql), bit-for-bit."""
    o = D.objects2d(spark, sf_dir).select("obj_id", "ix", "iy")
    return C.with_hilbert2d(o).select("obj_id", "h")


def q_poly_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-polygon overlap join (joins.polygon_polygon_join):
    concave supplier stars vs broadcast customer diamonds, exact
    closed semantics — any edge-pair intersection (mutual non-strict
    straddle + edge bbox, all integer) or either containment (vertex-0
    crossing parity). The oracle unrolls all 32 edge pairs + both
    containment parities in DuckDB."""
    stars = D.star_polygons(spark, sf_dir).select(
        "query_id", F.col("vertices").alias("vertices_a"))
    dias = D.customer_diamonds(spark, sf_dir).select(
        "poly_id", F.col("vertices").alias("vertices_b"))
    out = J.polygon_polygon_join(stars, dias, method="broadcast")
    return out.select("query_id", "poly_id")


def q_seg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-box intersection join (joins.segment_box_join): slanted
    lineitem segments against broadcast supplier query boxes, exact
    integer SAT predicate (bbox overlap + corner-sign straddle —
    closed sets, touching counts). The 1D-geometry member of the
    point/box/polygon/ray join family."""
    segs = D.segments(spark, sf_dir)
    qb = D.query_boxes(spark, sf_dir)
    out = J.segment_box_join(segs, qb, method="broadcast")
    return out.select("query_id", "seg_id")


def q_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics — the vector-side raster↔vector staple: per
    polygon zone (supplier diamonds), aggregate the contained points
    (count, integer coordinate sums, bbox) off the SAME broadcast
    point-in-polygon join as q_pip_poly; zones that contain nothing
    still report zeros via the left join (a zone inventory, not just
    a hit list)."""
    p = D.points(spark, sf_dir).select(
        F.col("point_id"), F.col("px").alias("x"), F.col("py").alias("y"))
    polys = D.polygons(spark, sf_dir)
    hits = J.polygon_join(p, polys, method="broadcast").select(
        "query_id", "x", "y")
    stats = hits.groupBy("query_id").agg(
        F.count("*").alias("n_pts"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
        F.min("x").alias("min_x"),
        F.max("y").alias("max_y"),
    )
    return polys.select("query_id").join(stats, "query_id", "left").select(
        "query_id",
        F.coalesce("n_pts", F.lit(0)).alias("n_pts"),
        F.coalesce("sum_x", F.lit(0)).alias("sum_x"),
        F.coalesce("sum_y", F.lit(0)).alias("sum_y"),
        F.coalesce("min_x", F.lit(-1)).alias("min_x"),
        F.coalesce("max_y", F.lit(-1)).alias("max_y"))


def q_focal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal map algebra (operators/raster.focal_sum): 3x3
    moving-window sum + contributing-cell count over the depth-5
    per-cell count raster — scatter-to-neighbors + ONE hash agg,
    never a 9-way self-join; integer-exact, so no rounding bridge."""
    from optimizing_spark.operators.raster import focal_sum

    p = D.points(spark, sf_dir)
    r = p.select(
        F.shiftright(F.col("px"), 11).alias("cx"),
        F.shiftright(F.col("py"), 11).alias("cy"),
    ).groupBy("cx", "cy").agg(F.count("*").alias("n"))
    return focal_sum(r, value="n", x="cx", y="cy")


def q_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel-density heatmap (operators/raster.kde_grid, round 5):
    unnormalized integer Epanechnikov density over every depth-5 grid
    cell whose center lies within radius 3000 of a customer point —
    the GIS hotspot surface. Constant (2k+1)^2 scatter per point
    (k=2 here), zero-weight candidates filtered BEFORE the shuffle,
    ONE hash agg on uniform cell keys — never points x cells. The
    DuckDB twin is the same scatter as a literal offsets VALUES join,
    identical integer weights and unclamped boundary semantics."""
    from optimizing_spark.operators.raster import kde_grid

    p = D.points(spark, sf_dir)
    return kde_grid(p, depth=5, radius=3000, x="px", y="py")


def q_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial autocorrelation (operators/autocorr, round 5): Moran's I
    and Geary's C of the depth-5 cell-count surface of the customer
    points, binary 8-adjacency weights — the lattice statistics a GIS
    runs right after the q_cell_counts histogram. All-integer
    multiply-through algebra (num_moran = N²P1 − NSP2 + WS²,
    den1 = NΣx² − S²) with ONE IEEE division per statistic, so the
    DuckDB twin is bit-exact. Plan: one hash agg to cells, the
    focal/kring 8-offset equi-join, a keyless pair reduce, and a 1-row
    broadcast of the globals — no inequality join anywhere."""
    from optimizing_spark.operators.autocorr import spatial_autocorr

    p = D.points(spark, sf_dir)
    cells = p.groupBy(
        F.shiftright(F.col("px"), 11).alias("cx"),
        F.shiftright(F.col("py"), 11).alias("cy"),
    ).agg(F.count("*").alias("n"))
    return spatial_autocorr(cells, val="n")


def q_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker trajectory simplification (operators/trajectory,
    round 5): customer keys fold into 50 near-linear integer walks
    (x = 100·seq + wobble, y = 50·seq + wobble, wobble = k·PRIME mod
    41) and each is thinned at eps = 12 — the vector-thinning step a
    tile pipeline runs before rendering. Split decisions are the exact
    integer comparison cross² > eps²·len² (lowest-seq argmax
    tiebreak), so the DuckDB twin — the same divide-and-conquer as a
    level-synchronous recursive CTE in HUGEINT — keeps the identical
    point set. ONE hash shuffle on traj_id into applyInPandas."""
    from optimizing_spark.operators.trajectory import simplify_trajectories

    c = D.load(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("long")
    t = c.select(
        (k % 50).alias("traj_id"),
        F.floor(k / 50).cast("long").alias("seq"),
        (F.lit(100) * F.floor(k / 50).cast("long")
         + (k * 48271) % 41).alias("x"),
        (F.lit(50) * F.floor(k / 50).cast("long")
         + (k * 69621) % 41).alias("y"),
    )
    return simplify_trajectories(t, eps=12).orderBy("traj_id", "seq")


def q_visibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-of-sight visibility join (round 5): which point pairs can
    SEE each other given obstacle walls — composed entirely from
    existing primitives. Customer points fold into a dense 8192-edge
    subworld (x = px % 8192); candidate sight lines are
    joins.distance_join pairs within 400 (auto depth 4, one 9-cell
    equi-shuffle); supplier walls (derived.walls — axis-aligned,
    length 1024..2047) BLOCK a sight if the wall segment intersects
    the closed sight segment (geometry.segments_intersect — grazing
    and endpoint touches block, closed sets); the blocked set comes
    from ONE broadcast segment_segment_join (the wall table is the
    genuinely-small side) and is removed by an equi left-anti join.
    Exact integer end to end; the DuckDB twin is the NOT EXISTS
    crossing test."""
    from optimizing_spark.config import Box2

    w8 = Box2(0.0, 0.0, 8192.0, 8192.0)
    p = D.points(spark, sf_dir).select(
        "point_id",
        (F.col("px") % 8192).alias("x"),
        (F.col("py") % 8192).alias("y"))
    pairs = J.distance_join(p, d=400, world=w8, depth=None)
    pa = p.select(F.col("point_id").alias("id_a"),
                  F.col("x").alias("ax1"), F.col("y").alias("ay1"))
    pb = p.select(F.col("point_id").alias("id_b"),
                  F.col("x").alias("ax2"), F.col("y").alias("ay2"))
    sights = pairs.select("id_a", "id_b").join(pa, "id_a").join(pb, "id_b")
    blocked = J.segment_segment_join(
        sights, D.walls(spark, sf_dir), method="broadcast"
    ).select("id_a", "id_b")
    return sights.select("id_a", "id_b") \
        .join(blocked, ["id_a", "id_b"], "left_anti")


def q_od(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix (trajectory.od_matrix, round 5):
    the q_trips walks with planted teleports, gap-segmented into trips
    (label_trips — the same exact integer break test), each trip
    rolled up as one flow from its first point's depth-5 cell to its
    last point's cell, weighted by trip count and distinct
    trajectories — the classic GPS flow-analytics rollup. All-integer
    (min_by/max_by endpoints, shiftright cells, count/count_distinct),
    so the DuckDB twin is bit-for-bit. Plan: ONE window shuffle +
    per-trip partial agg + one hash agg on the 4-part cell key."""
    from optimizing_spark.operators.trajectory import od_matrix

    c = D.load(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("long")
    seq = F.floor(k / 50).cast("long")
    t = c.select(
        (k % 50).alias("traj_id"),
        seq.alias("seq"),
        (F.lit(100) * seq + (k * 48271) % 41
         + F.lit(40000) * F.floor(seq / 13).cast("long")).alias("x"),
        (F.lit(50) * seq + (k * 69621) % 41).alias("y"),
    )
    return od_matrix(t, gap=1000, cell_shift=11)


def q_seg_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-segment crossing join (joins.segment_segment_join,
    round 5): map-overlay / road-intersection detection over the
    lineitem segments — the +slope even-parity subfamily against the
    -slope odd-parity subfamily (seg_id % 20 == 2 / == 11 — seg_id =
    orderkey*10 + linenumber, so the residue fixes linenumber AND
    orderkey parity, picking ~1/14th of each slope family to keep the
    quadratic result gate-sized), in CELLS mode at depth 6:
    both sides explode to their bbox's covering cells, ONE
    (cell_x, cell_y) equi-shuffle, the exact integer mutual-straddle +
    bbox predicate (geometry.segments_intersect — collinear overlaps
    and endpoint touches count), pairs emitted only in the reporting
    cell. Segments deliberately run out-of-world (negative /
    > edge coords) exercising the clamped cell covers."""
    segs = D.segments(spark, sf_dir)
    a = segs.filter(F.col("seg_id") % 20 == 2).select(
        F.col("seg_id").alias("a_id"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
        F.col("x2").alias("ax2"), F.col("y2").alias("ay2"))
    b = segs.filter(F.col("seg_id") % 20 == 11).select(
        F.col("seg_id").alias("b_id"),
        F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
        F.col("x2").alias("bx2"), F.col("y2").alias("by2"))
    out = J.segment_segment_join(a, b, method="cells",
                                 world=POW2_WORLD_2D, depth=6)
    return out.select("a_id", "b_id")


def q_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trip segmentation (operators/trajectory.segment_trips, round 5):
    the q_simplify walks with a planted teleport every 13 steps
    (+40000 in x — GPS signal loss), split at gap=1000: normal steps
    are < 200 so step² < 10⁶ = gap² never breaks, the teleport always
    does → trips are exact 13-step runs. Pure BIGINT window algebra
    (lag + running break-flag sum + per-trip integer min/max/min_by/
    max_by), ONE hash shuffle on traj_id drives both window passes, so
    the DuckDB twin is bit-for-bit."""
    c = D.load(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("long")
    seq = F.floor(k / 50).cast("long")
    t = c.select(
        (k % 50).alias("traj_id"),
        seq.alias("seq"),
        (F.lit(100) * seq + (k * 48271) % 41
         + F.lit(40000) * F.floor(seq / 13).cast("long")).alias("x"),
        (F.lit(50) * seq + (k * 69621) % 41).alias("y"),
    )
    return TRJ.segment_trips(t, gap=1000)


_RIPLEY_RADII = (250, 750, 1500, 3000)


def q_ripley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-pattern statistics (operators/pointpattern, round 5):
    naive Ripley's K and nearest-neighbour G at four radii over the
    customer points — the raw-point companion to the q_moran /
    q_gistar lattice statistics (clustered vs random vs regular).
    Pair and NN counts are exact integers off ONE distance-band
    self-join at r_max (the q_dist_join 9-cell ring shape, never
    all-pairs); K_hat/G_hat are a fixed-order IEEE epilogue per row,
    so the DuckDB twin is bit-equal."""
    p = D.points(spark, sf_dir).select(
        "point_id", F.col("px").alias("x"), F.col("py").alias("y"))
    return PP.point_pattern(p, radii=_RIPLEY_RADII, world=POW2_WORLD_2D)


def q_gistar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-scores (operators/autocorr
    .getis_ord_gstar, round 5): the LOCAL companion to q_moran — one
    standardized score per occupied depth-5 cell saying WHERE the
    point surface runs hot or cold. Integer multiply-through
    components; the z survives cross-engine because IEEE requires
    conversion, multiply, divide AND sqrt each correctly rounded, and
    both sides compute them in the same order. Plan = the q_focal
    scatter-gather + a 1-row broadcast of globals."""
    from optimizing_spark.operators.autocorr import getis_ord_gstar

    p = D.points(spark, sf_dir)
    cells = p.groupBy(
        F.shiftright(F.col("px"), 11).alias("cx"),
        F.shiftright(F.col("py"), 11).alias("cy"),
    ).agg(F.count("*").alias("n"))
    return getis_ord_gstar(cells, val="n")


_FOCAL_SQL = f"""
    WITH pts AS ({{pts}}),
    r AS (
        SELECT px >> 11 AS cx, py >> 11 AS cy,
               CAST(count(*) AS BIGINT) AS n
        FROM pts GROUP BY px >> 11, py >> 11
    ),
    offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                   (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
    agg AS (
        SELECT r.cx + o.dx AS cx, r.cy + o.dy AS cy,
               CAST(sum(r.n) AS BIGINT) AS focal_sum,
               CAST(count(*) AS BIGINT) AS focal_n
        FROM r CROSS JOIN offs o
        GROUP BY r.cx + o.dx, r.cy + o.dy
    )
    SELECT r.cx, r.cy, r.n, a.focal_sum, a.focal_n
    FROM r JOIN agg a ON a.cx = r.cx AND a.cy = r.cy
"""


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN (operators/clustering.py): density clustering over
    the cell index — dense cells (>= 3 points at depth 5) connect
    under 8-adjacency via the pointer-jumping CC operator; points
    label core/border/noise with deterministic min-component border
    assignment. The DuckDB twin rebuilds the dense-cell graph and
    closes it with a recursive CTE — all integer, bit-exact.

    Driver-session note (CLAUDE.md's shallow-plan rule): like
    q_dedup_cc, the CC rounds localCheckpoint every iteration, so the
    default-config optimizer only ever sees a 2-join/1-agg plan over
    checkpointed tables — never the deep iterative lineage the
    constraintPropagation warning is about; the loop itself runs on
    the dense-CELL graph (<= 4^depth rows), not the point table."""
    from optimizing_spark.operators.clustering import grid_dbscan

    return grid_dbscan(D.points(spark, sf_dir), depth=5, min_pts=3)


_DBSCAN_DEPTH, _DBSCAN_MINPTS = 5, 3
_DBSCAN_SQL = f"""
    WITH RECURSIVE pts AS MATERIALIZED ({{pts}}),
    cells AS MATERIALIZED (
        SELECT point_id, px >> {{shift}} AS cx, py >> {{shift}} AS cy
        FROM pts
    ),
    dense AS MATERIALIZED (
        SELECT cx, cy, cx * {{side}} + cy AS cid
        FROM (SELECT cx, cy, count(*) AS n FROM cells GROUP BY cx, cy)
        WHERE n >= {_DBSCAN_MINPTS}
    ),
    offs8 AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                    (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
    offs9 AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                    (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
    edges AS MATERIALIZED (
        SELECT d.cid AS u, d2.cid AS v
        FROM dense d CROSS JOIN offs8 o
        JOIN dense d2 ON d2.cx = d.cx + o.dx AND d2.cy = d.cy + o.dy
    ),
    reach(node, lbl) AS (
        SELECT cid, cid FROM dense
        UNION
        SELECT e.u, r.lbl FROM reach r JOIN edges e ON e.v = r.node
    ),
    comp AS MATERIALIZED (
        SELECT node AS cid, min(lbl) AS cluster_id FROM reach GROUP BY node
    ),
    dense_lbl AS MATERIALIZED (
        SELECT d.cx, d.cy, comp.cluster_id
        FROM dense d JOIN comp ON comp.cid = d.cid
    ),
    core AS (
        SELECT c.point_id, dl.cluster_id AS core_cid
        FROM cells c JOIN dense_lbl dl ON dl.cx = c.cx AND dl.cy = c.cy
    ),
    ring AS (
        SELECT c.point_id, min(dl.cluster_id) AS ring_cid
        FROM cells c CROSS JOIN offs9 o
        JOIN dense_lbl dl ON dl.cx = c.cx + o.dx AND dl.cy = c.cy + o.dy
        GROUP BY c.point_id
    )
    SELECT p.point_id,
           CASE WHEN co.point_id IS NOT NULL THEN 'core'
                WHEN r.point_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS kind,
           coalesce(co.core_cid, r.ring_cid, -1) AS cluster_id
    FROM pts p
    LEFT JOIN core co ON co.point_id = p.point_id
    LEFT JOIN ring r ON r.point_id = p.point_id
"""


_PIP_POLY_SQL = f"""
    WITH poly AS ({D.SQL_POLYGONS}), pts AS ({D.SQL_POINTS})
    SELECT poly.query_id, pts.point_id
    FROM poly JOIN pts ON
          ex * (py - (cy - ey)) - ey * (px - cx) >= 0
      AND (-ex) * (py - cy) - ey * (px - (cx + ex)) >= 0
      AND (-ex) * (py - (cy + ey)) + ey * (px - cx) >= 0
      AND ex * (py - cy) + ey * (px - (cx - ex)) >= 0
"""

# same edge tests, but carrying the point coordinates for zonal aggs
_ZONAL_HITS_SQL = _PIP_POLY_SQL.replace(
    "SELECT poly.query_id, pts.point_id",
    "SELECT poly.query_id, pts.px AS x, pts.py AS y")


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O10: cell-pruned spatial range join (reporting-cell dedup)."""
    o = _objects_boxes(spark, sf_dir)
    q = _query_boxes_named(spark, sf_dir)
    return J.range_join(o, q, POW2_WORLD_2D, depth=6, convention="rect") \
        .select("query_id", "obj_id")


def q_linear_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O29: un-pruned control — must equal q_range_join."""
    o = _objects_boxes(spark, sf_dir)
    q = _query_boxes_named(spark, sf_dir)
    return J.linear_scan(o, q, convention="rect").select("query_id", "obj_id")


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17+O22: exact k=5 nearest objects per query (ring expansion +
    bound pass); squared integer distances, obj_id tiebreak."""
    o = D.objects2d(spark, sf_dir).select(
        "obj_id", F.col("ix").alias("x"), F.col("iy").alias("y"))
    q = D.knn_queries(spark, sf_dir).select(
        "query_id", F.col("qx").alias("x"), F.col("qy").alias("y"))
    # 25 viewport-style queries vs the full object table: the explicit
    # broadcast opt-in streams the objects with zero big-side shuffle
    return J.knn_join(q, o, POW2_WORLD_2D, depth=6, k=5,
                      broadcast_queries=True)


def q_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O22: argmin join (nearest point per query)."""
    p = D.points(spark, sf_dir).select(
        F.col("point_id").alias("obj_id"), F.col("px").alias("x"), F.col("py").alias("y"))
    q = D.knn_queries(spark, sf_dir).select(
        "query_id", F.col("qx").alias("x"), F.col("qy").alias("y"))
    return J.nearest_hit_xy(q, p)


def q_ring_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17: objects in the 3x3 cell ring around each query (depth-6 grid)."""
    o = D.objects2d(spark, sf_dir).select(
        "obj_id",
        F.shiftright(F.col("ix"), 10).cast("int").alias("cell_x"),
        F.shiftright(F.col("iy"), 10).cast("int").alias("cell_y"),
    )
    q = D.knn_queries(spark, sf_dir).select(
        "query_id", F.col("qx").alias("x"), F.col("qy").alias("y"))
    hits = J.ring_semi_join(o, q, POW2_WORLD_2D, depth=6, k=1)
    return hits.groupBy("query_id").agg(F.count("*").alias("n"))


def q_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12: anti-join removal of every 7th object."""
    o = D.objects2d(spark, sf_dir)
    dead = o.filter(F.col("obj_id") % 7 == 0).select("obj_id")
    from optimizing_spark.operators.tiling import remove_objects

    return remove_objects(o, dead).select("obj_id", "ix", "iy")


def q_relocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O14: every 5th object shifts +3000 in x (mod world); re-encode
    cells only for moved rows; emit final assignment for all rows."""
    t = _qt_tiled(spark, sf_dir)
    keep = t.filter(F.col("obj_id") % 5 != 0)
    moved = t.filter(F.col("obj_id") % 5 == 0) \
        .withColumn("ix", (F.col("ix") + 3000) % E) \
        .drop("qt_depth", "qt_code")
    # re-derive for moved rows only (incremental re-tile)
    moved = C.assign_quadtree_pow2(moved, max_node_depth=_MAX_ND)
    return keep.select("obj_id", "qt_depth", "qt_code").unionByName(
        moved.select("obj_id", "qt_depth", "qt_code"))


def q_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O24: raster-tile aggregation (128x128 tile grid): integer-exact
    sums + a single deterministic division for the mean."""
    o = D.objects2d(spark, sf_dir)
    t = o.groupBy(
        F.shiftright(F.col("ix"), 9).alias("tile_x"),
        F.shiftright(F.col("iy"), 9).alias("tile_y"),
    ).agg(
        F.sum("qty").alias("sum_qty"),
        F.count("*").alias("n"),
        F.sum("weight_c").alias("sum_w"),
    )
    return t.select(
        "tile_x", "tile_y", "sum_qty", "n",
        (F.col("sum_w").cast("double") / F.col("n")).alias("avg_weight_c"),
    )


def q_tonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O25: clamp -> gamma 1/2.2 -> 255-scale -> floor(+0.5), the
    format_color_component chain (Raytracing.hpp:250-265), applied to
    tile mean weight normalized by the global max."""
    t = q_raster(spark, sf_dir)
    mx = t.agg(F.max("avg_weight_c").alias("_mx"))
    t = t.crossJoin(F.broadcast(mx))  # single lazy plan, no driver action
    v = F.col("avg_weight_c") / F.col("_mx")
    tone = F.floor(F.pow(F.least(F.greatest(v, F.lit(0.0)), F.lit(1.0)),
                         F.lit(1.0 / 2.2)) * 255 + 0.5).cast("long")
    return t.select("tile_x", "tile_y", tone.alias("tone"))


def q_topk_per_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k: 3 heaviest objects per coarse cell (depth-4 grid)."""
    o = D.objects2d(spark, sf_dir).select(
        "obj_id", "weight_c",
        F.shiftright(F.col("ix"), 12).alias("cell_x"),
        F.shiftright(F.col("iy"), 12).alias("cell_y"),
    )
    w = Window.partitionBy("cell_x", "cell_y").orderBy(
        F.col("weight_c").desc(), F.col("obj_id"))
    return o.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3) \
        .select("cell_x", "cell_y", "obj_id", "weight_c", "rk")


def q_oct_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3D static octree node per object (closed intervals, 3-bit Morton
    — the S2-level analog of the z axis)."""
    o = D.objects3d(spark, sf_dir)
    return C.assign_octree_pow2(o).select("obj_id", "oct_depth", "oct_code")


_OCT_SEQ = ("obj_id", "ix", "iy", "iz", "sx", "sy", "sz")


def q_oct_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7: the ORDER-DEPENDENT capacity rule itself
    (DynamicOctree.hpp:126-144, CAPACITY=4, MAX_DEPTH=5): first 4
    arrivals per node (seq = obj_id + coords; obj_id alone is not
    unique) stay, later arrivals descend iff a child cell contains
    their box (closed intervals)."""
    o = D.objects3d(spark, sf_dir)
    t = C.assign_octree_capacity_pow2(o, capacity=4, max_depth=5, seq_cols=_OCT_SEQ)
    return t.select("obj_id", "oct_depth", "oct_code")


def _oct_capacity_sql(capacity: int = 4, max_depth: int = 5) -> str:
    """DuckDB twin of assign_octree_capacity_pow2: unrolled window CTEs,
    one row_number per level over the depth-d node prefix."""
    seq = ", ".join(_OCT_SEQ)
    m5 = D.morton3d_sql("ix >> 11", "iy >> 11", "iz >> 11")
    parts = [
        f"WITH objs3 AS ({D.SQL_OBJECTS3D}), a0 AS (",
        f"  SELECT obj_id, ix, iy, iz, sx, sy, sz,",
        f"         {D.oct_fits_depth_sql(max_depth)} AS dmax, {m5} AS m5",
        "  FROM objs3",
        ")",
    ]
    selects = []
    for d in range(max_depth):
        node = f"(m5 >> {3 * (max_depth - d)})"
        parts.append(
            f", l{d} AS (SELECT *, row_number() OVER (PARTITION BY {node} "
            f"ORDER BY {seq}) AS rn FROM a{d})"
        )
        parts.append(
            f", s{d} AS (SELECT obj_id, {d} AS oct_depth, "
            f"CAST({node} AS BIGINT) AS oct_code FROM l{d} "
            f"WHERE rn <= {capacity} OR dmax = {d})"
        )
        parts.append(
            f", a{d + 1} AS (SELECT obj_id, ix, iy, iz, sx, sy, sz, dmax, m5 "
            f"FROM l{d} WHERE NOT (rn <= {capacity} OR dmax = {d}))"
        )
        selects.append(f"SELECT * FROM s{d}")
    selects.append(
        f"SELECT obj_id, {max_depth} AS oct_depth, m5 AS oct_code FROM a{max_depth}"
    )
    return "\n".join(parts) + "\n" + " UNION ALL ".join(selects)


def q_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O19 full extract (WorldPartition.hpp:143-150): the entire object
    table with every derived attribute — the items() dump as a scan."""
    return D.objects2d(spark, sf_dir)


def q_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15 resize/rebuild (DynamicOctree.hpp:76-95): the world shrinks
    to half extent (2^15), coordinates wrap into the new world, and the
    whole table re-tiles — cell assignment is a pure function of (box,
    world), so rebuild IS re-running the projection with new world
    parameters."""
    half = 1 << 15
    o = D.objects2d(spark, sf_dir) \
        .withColumn("ix", F.col("ix") % half).withColumn("iy", F.col("iy") % half)
    t = C.assign_quadtree_pow2(o, world_bits=15, max_node_depth=_MAX_ND)
    return t.select("obj_id", "qt_depth", "qt_code")


_SQL_REBUILD = f"""
    WITH objs0 AS ({{objs}}), objs AS (
        SELECT obj_id, ix % 32768 AS ix, iy % 32768 AS iy, sx, sy FROM objs0
    ), t AS (
        SELECT obj_id, {{fits}} AS qt_depth,
               {{m4}} AS m4
        FROM objs
    )
    SELECT obj_id, qt_depth,
           CASE qt_depth WHEN 4 THEN m4 WHEN 3 THEN m4 >> 2 WHEN 2 THEN m4 >> 4
                WHEN 1 THEN m4 >> 6 ELSE 0 END AS qt_code
    FROM t
"""


def _cols(prefix: str, axes: str = "xy") -> tuple:
    """The axis columns ``prefix + axis`` (ox, oy; cx, cy, cz; ...)."""
    return tuple(F.col(prefix + a) for a in axes)


def _named(cols, names: str) -> list:
    return [c.alias(n) for c, n in zip(cols, names.split())]


def _nation_rays(spark: SparkSession, sf_dir: str, m: int) -> DataFrame:
    """One 2-D ray origin per nation, (query_id, ox, oy) in [0, m)^2:
    D.knn_queries' origins for m = E, as doubles."""
    k = F.col("n_nationkey").cast("long")
    return D.load(spark, sf_dir, "nation").select(
        k.alias("query_id"),
        ((k * 104729 + 12345) % m).cast("double").alias("ox"),
        ((k * 48271 + 54321) % m).cast("double").alias("oy"),
    )


def _sphere_hits(probe: DataFrame, other: DataFrame, axes: str = "xy") -> DataFrame:
    """Nearest hit per query_id of the rays (o<axis>, d<axis>) on one
    side against the spheres (obj_id, c<axis>, radius) on the other,
    which is broadcast (raster.nearest_hit)."""
    t = R.ray_sphere_t(_cols("o", axes), _cols("d", axes), _cols("c", axes),
                       F.col("radius"))
    return R.nearest_hit(probe, other, t, "query_id")


def _u01(stream: str):
    """Uniform in [0, 1) per (stream, query_id) from an md5 prefix: the
    bridge DuckDB's twins reproduce bit for bit."""
    h = F.expr(
        f"cast(conv(substr(md5(concat('{stream}:', "
        f"cast(query_id as string))), 1, 15), 16, 10) as bigint)")
    return (h % 1048576).cast("double") / 1048576.0


def q_ray_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O20+O22: slab-method ray/AABB nearest hit (Raytracing.hpp:267-289,
    640-669), oracle-exact: one 2D diagonal d=(1,1) ray per nation so
    every per-axis t = (edge - origin) / 1 is an integer-valued double;
    tmin/tmax folds and the nearest-(t, obj_id) argmin are then
    bit-exact in DuckDB integer arithmetic. 2D keeps the expected hit
    count per ray ~100 (a 3D diagonal in a 65536^3 world misses every
    small box). The boxes stream against the broadcast rays."""
    boxes = _objects_boxes(spark, sf_dir).select(
        "obj_id", *(F.col(c).cast("double").alias(c)
                    for c in ("min_x", "min_y", "max_x", "max_y")))
    t = R.ray_aabb_t(_cols("o"), (F.lit(1.0), F.lit(1.0)),
                     _cols("min_"), _cols("max_"))
    return R.nearest_hit(boxes, _nation_rays(spark, sf_dir, E), t, "query_id") \
        .select("query_id", "obj_id", F.col("t").cast("long").alias("t"))


_SQL_RAY_BOX = f"""
    WITH objs AS ({{objs}}), rays AS (
        SELECT CAST(n_nationkey AS BIGINT) AS query_id,
               (CAST(n_nationkey AS BIGINT) * 104729 + 12345) % {{E}} AS ox,
               (CAST(n_nationkey AS BIGINT) * 48271 + 54321) % {{E}} AS oy
        FROM nation
    ), hits AS (
        SELECT rays.query_id, objs.obj_id,
               greatest(ix - ox, iy - oy) AS tmin,
               least(ix + sx - ox, iy + sy - oy) AS tmax
        FROM objs CROSS JOIN rays
    ), t AS (
        SELECT query_id, obj_id,
               CASE WHEN tmin >= 0 THEN tmin ELSE tmax END AS t
        FROM hits WHERE tmax >= tmin AND tmax >= 0
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY t, obj_id) AS rk
        FROM t
    )
    SELECT query_id, obj_id, CAST(t AS BIGINT) AS t FROM r WHERE rk <= 1
"""


def q_ray_circle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21+O22: ray/sphere quadratic nearest hit (Raytracing.hpp:291-348)
    in its 2D section (circles), oracle-exact WITHOUT rounding tricks:
    centers/radii are integers, d = (1/sqrt(2), 1/sqrt(2)) — every op
    (mul, sub, fold-add, sqrt) is an IEEE-754 correctly-rounded double
    op evaluated in the same order in both engines, so b, disc, sqrt
    and the root are bit-identical; t is rounded to 6 only for the
    output column. The circles stream against the broadcast rays."""
    circles = D.objects2d(spark, sf_dir).select(
        "obj_id",
        F.col("ix").cast("double").alias("cx"),
        F.col("iy").cast("double").alias("cy"),
        (F.col("sx") + 13).cast("double").alias("radius"),
    )
    d = F.lit(1.0) / F.sqrt(F.lit(2.0))
    rays = _nation_rays(spark, sf_dir, E).withColumns({"dx": d, "dy": d})
    return _sphere_hits(circles, rays).select(
        "query_id", "obj_id", F.round(F.col("t"), 6).alias("t"))


_SQL_RAY_CIRCLE = """
    WITH objs AS ({objs}), rays AS (
        SELECT CAST(n_nationkey AS BIGINT) AS query_id,
               CAST((CAST(n_nationkey AS BIGINT) * 104729 + 12345) % {E} AS DOUBLE) AS ox,
               CAST((CAST(n_nationkey AS BIGINT) * 48271 + 54321) % {E} AS DOUBLE) AS oy
        FROM nation
    ), q AS (
        SELECT rays.query_id, objs.obj_id,
               ((CAST(objs.ix AS DOUBLE) - ox) * (1.0 / sqrt(2.0))
                + (CAST(objs.iy AS DOUBLE) - oy) * (1.0 / sqrt(2.0))) AS negb,
               ((ox - CAST(objs.ix AS DOUBLE)) * (ox - CAST(objs.ix AS DOUBLE))
                + (oy - CAST(objs.iy AS DOUBLE)) * (oy - CAST(objs.iy AS DOUBLE)))
                - CAST(objs.sx + 13 AS DOUBLE) * CAST(objs.sx + 13 AS DOUBLE) AS c
        FROM objs CROSS JOIN rays
    ), roots AS (
        SELECT query_id, obj_id, negb, c, negb * negb - c AS disc
        FROM q
    ), t AS (
        SELECT query_id, obj_id,
               CASE WHEN negb - sqrt(greatest(disc, 0.0)) > 1e-9
                         THEN negb - sqrt(greatest(disc, 0.0))
                    WHEN negb + sqrt(greatest(disc, 0.0)) > 1e-9
                         THEN negb + sqrt(greatest(disc, 0.0)) END AS t
        FROM roots WHERE disc >= 0
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY t, obj_id) AS rk
        FROM t WHERE t IS NOT NULL
    )
    SELECT query_id, obj_id, round(t, 6) AS t FROM r WHERE rk <= 1
"""


def _circles(spark: SparkSession, sf_dir: str, m: int, r0: int) -> DataFrame:
    """Emissive mirror circles derived from supplier: integer centers
    in [0, m)^2, radius r0 + k % 97 and emission k % 11."""
    s = D.load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey").cast("long")
    return s.select(
        k.alias("obj_id"),
        ((k * 48271) % m).cast("double").alias("cx"),
        ((k * 69621) % m).cast("double").alias("cy"),
        ((k % 97) + r0).cast("double").alias("radius"),
        ((k % 11)).cast("double").alias("emit"),
    )


def _mirror_chain(spark: SparkSession, sf_dir: str, m: int, r0: int,
                  depth: int) -> DataFrame:
    """compute_radiance's SPECULAR branch (Raytracing.hpp:581-587)
    recursing to ``depth``: the nation rays at 45 degrees in [0, m)^2
    over _circles(m, r0). Each segment is a nearest hit and a mirror
    bounce; a ray stops when it escapes or after ``depth`` hits.
    Returns (query_id, n_hits, acc, obj1..obj<depth>): obj<i> is the
    i-th hit (NULL past n_hits) and acc = sum of 0.5^(i-1) * emit_i.
    Emissions are INTEGERS and the weights powers of two, so acc is
    exact dyadic arithmetic in any order, and every geometric step is
    correctly-rounded IEEE double in a fixed expression order, so
    DuckDB reproduces all segments bit for bit. A ray missing at
    segment 1 has no row (raycast false)."""
    circles = _circles(spark, sf_dir, m, r0)
    d = F.lit(1.0) / F.sqrt(F.lit(2.0))
    state = _nation_rays(spark, sf_dir, m).withColumns(
        {"dx": d, "dy": d, "acc": F.lit(0.0)})
    o, dr = _cols("o"), _cols("d")
    outs = []
    for i in range(1, depth + 1):
        h = _sphere_hits(state, circles).withColumns({
            "acc": F.col("acc") + F.lit(0.5 ** (i - 1)) * F.col("emit"),
            f"obj{i}": F.col("obj_id")})
        objs = [f"obj{j}" for j in range(1, i + 1)]
        if i > 1:
            outs.append(state.join(h, "query_id", "left_anti").select(
                "query_id", F.lit(i - 1).alias("n_hits"), "acc", *objs[:-1]))
        if i == depth:
            outs.append(h.select("query_id", F.lit(depth).alias("n_hits"), "acc", *objs))
            break
        p = R.hit_point(o, dr, F.col("t"))
        rd = R.reflect(dr, R.sphere_normal(p, _cols("c"), F.col("radius")))
        state = h.select("query_id", *_named(R.nudge(p, rd), "ox oy"),
                         *_named(rd, "dx dy"), "acc", *objs)
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), outs)


_SQL_CIRCLES = f"""
    SELECT CAST(s_suppkey AS BIGINT) AS obj_id,
           CAST((CAST(s_suppkey AS BIGINT) * 48271) % {{E}} AS DOUBLE) AS cx,
           CAST((CAST(s_suppkey AS BIGINT) * 69621) % {{E}} AS DOUBLE) AS cy,
           CAST((CAST(s_suppkey AS BIGINT) % 97) + 20 AS DOUBLE) AS radius,
           CAST(CAST(s_suppkey AS BIGINT) % 11 AS DOUBLE) AS emit
    FROM supplier
"""


def q_mirror_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O23 SPECULAR path segment, oracle-exact: two-bounce radiance
    over emissive mirror circles (compute_radiance's specular branch,
    Raytracing.hpp:581-587, twice): the depth-2 run of _mirror_chain in
    world E. radiance = 0.0 + 1.0*emit1 + 0.5*emit2 is bit-equal to the
    twin's emit1 + 0.5*emit2, because the emissions are integers. The
    DIFFUSE/REFRACTION branches need trig + hash streams that are not
    SQL-portable; those are certified by the NumPy replay test."""
    return _mirror_chain(spark, sf_dir, E, 20, 2).select(
        "query_id", "obj1", "obj2", F.col("acc").alias("radiance"))


def _mirror_bounce_sql() -> str:
    dd = "(1.0 / sqrt(2.0))"
    sq = "sqrt(greatest(disc, 0.0))"
    root = (f"CASE WHEN -b - {sq} > 1e-9 THEN -b - {sq} "
            f"WHEN -b + {sq} > 1e-9 THEN -b + {sq} END")
    return f"""
        WITH circles AS ({_SQL_CIRCLES.format(E=E)}), rays AS (
            SELECT CAST(n_nationkey AS BIGINT) AS query_id,
                   CAST((CAST(n_nationkey AS BIGINT) * 104729 + 12345) % {E} AS DOUBLE) AS ox,
                   CAST((CAST(n_nationkey AS BIGINT) * 48271 + 54321) % {E} AS DOUBLE) AS oy
            FROM nation
        ), q1 AS (
            SELECT r.query_id, r.ox, r.oy, c.obj_id, c.cx, c.cy, c.radius, c.emit,
                   ((r.ox - c.cx) * {dd} + (r.oy - c.cy) * {dd}) AS b,
                   ((r.ox - c.cx) * (r.ox - c.cx) + (r.oy - c.cy) * (r.oy - c.cy))
                     - c.radius * c.radius AS cc
            FROM rays r CROSS JOIN circles c
        ), d1 AS (SELECT *, b * b - cc AS disc FROM q1
        ), t1 AS (
            SELECT query_id, obj_id, cx, cy, radius, emit, ox, oy, {root} AS t
            FROM d1 WHERE disc >= 0
        ), h1 AS (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY t, obj_id) AS rk
            FROM t1 WHERE t IS NOT NULL
        ), s1 AS (
            SELECT query_id, obj_id AS obj1, emit AS emit1,
                   ox + {dd} * t AS px, oy + {dd} * t AS py, cx, cy, radius
            FROM h1 WHERE rk = 1
        ), n1 AS (
            SELECT query_id, obj1, emit1, px, py,
                   (px - cx) / radius AS nx, (py - cy) / radius AS ny
            FROM s1
        ), r2 AS (
            SELECT query_id, obj1, emit1,
                   px + ({dd} - 2.0 * ({dd} * nx + {dd} * ny) * nx) * 1e-6 AS ox,
                   py + ({dd} - 2.0 * ({dd} * nx + {dd} * ny) * ny) * 1e-6 AS oy,
                   {dd} - 2.0 * ({dd} * nx + {dd} * ny) * nx AS dx,
                   {dd} - 2.0 * ({dd} * nx + {dd} * ny) * ny AS dy
            FROM n1
        ), q2 AS (
            SELECT r.query_id, r.obj1, r.emit1, c.obj_id, c.emit,
                   ((r.ox - c.cx) * r.dx + (r.oy - c.cy) * r.dy) AS b,
                   ((r.ox - c.cx) * (r.ox - c.cx) + (r.oy - c.cy) * (r.oy - c.cy))
                     - c.radius * c.radius AS cc
            FROM r2 r CROSS JOIN circles c
        ), d2 AS (SELECT *, b * b - cc AS disc FROM q2
        ), t2 AS (
            SELECT query_id, obj1, emit1, obj_id, emit, {root} AS t
            FROM d2 WHERE disc >= 0
        ), h2 AS (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY t, obj_id) AS rk
            FROM t2 WHERE t IS NOT NULL
        ), hit2 AS (
            SELECT query_id, obj1, obj_id AS obj2, emit1 + 0.5 * emit AS radiance
            FROM h2 WHERE rk = 1
        )
        SELECT query_id, obj1, obj2, radiance FROM hit2
        UNION ALL
        SELECT r2.query_id, r2.obj1, CAST(NULL AS BIGINT) AS obj2, r2.emit1 AS radiance
        FROM r2 LEFT JOIN hit2 ON hit2.query_id = r2.query_id
        WHERE hit2.query_id IS NULL
    """


_MIRROR_DEPTH = 5  # reference recursion cap (Raytracing.hpp:692)
_MIRROR_REGION = 4096  # dense-corridor edge: ~20% circle coverage, so
#                        rays chain multiple specular segments and the
#                        depth cap is actually exercised at sf0.01


_SQL_CIRCLES_DENSE = f"""
    SELECT CAST(s_suppkey AS BIGINT) AS obj_id,
           CAST((CAST(s_suppkey AS BIGINT) * 48271) % {_MIRROR_REGION} AS DOUBLE) AS cx,
           CAST((CAST(s_suppkey AS BIGINT) * 69621) % {_MIRROR_REGION} AS DOUBLE) AS cy,
           CAST((CAST(s_suppkey AS BIGINT) % 97) + 60 AS DOUBLE) AS radius,
           CAST(CAST(s_suppkey AS BIGINT) % 11 AS DOUBLE) AS emit
    FROM supplier
"""


def q_mirror_depth5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O23 SPECULAR chain at the reference's FULL depth cap 5
    (compute_radiance specular branch Raytracing.hpp:581-587 recursing
    to the depth cap :692): _mirror_chain over circles packed into a
    [0, _MIRROR_REGION)^2 corridor with radii 60 + k % 97 — dense
    enough that reflected rays keep hitting (the sparse world of
    q_mirror_bounce dies at segment 1). Output: (query_id, n_hits,
    last_obj, radiance)."""
    out = _mirror_chain(spark, sf_dir, _MIRROR_REGION, 60, _MIRROR_DEPTH)
    last = F.coalesce(*(F.col(f"obj{j}") for j in range(_MIRROR_DEPTH, 0, -1)))
    return out.select("query_id", "n_hits", last.alias("last_obj"),
                      F.col("acc").alias("radiance"))


def _mirror_depth5_sql(depth: int = _MIRROR_DEPTH) -> str:
    """DuckDB twin of q_mirror_depth5: the same five unrolled segments
    as CTE chains, expression-order-identical to the Spark columns."""
    dd = "(1.0 / sqrt(2.0))"
    sq = "sqrt(greatest(disc, 0.0))"
    root = (f"CASE WHEN -b - {sq} > 1e-9 THEN -b - {sq} "
            f"WHEN -b + {sq} > 1e-9 THEN -b + {sq} END")
    ctes = [f"circles AS ({_SQL_CIRCLES_DENSE})", f"""st1 AS (
        SELECT CAST(n_nationkey AS BIGINT) AS query_id,
               CAST((CAST(n_nationkey AS BIGINT) * 104729 + 12345) % {_MIRROR_REGION} AS DOUBLE) AS ox,
               CAST((CAST(n_nationkey AS BIGINT) * 48271 + 54321) % {_MIRROR_REGION} AS DOUBLE) AS oy,
               {dd} AS dx, {dd} AS dy, 0.0 AS acc, CAST(NULL AS BIGINT) AS last_obj
        FROM nation)"""]
    outs = []
    for i in range(1, depth + 1):
        w = repr(0.5 ** (i - 1))
        ctes.append(f"""q{i} AS (
            SELECT s.query_id, s.ox, s.oy, s.dx, s.dy, s.acc, s.last_obj,
                   c.obj_id, c.cx, c.cy, c.radius, c.emit,
                   ((s.ox - c.cx) * s.dx + (s.oy - c.cy) * s.dy) AS b,
                   ((s.ox - c.cx) * (s.ox - c.cx) + (s.oy - c.cy) * (s.oy - c.cy))
                     - c.radius * c.radius AS cc
            FROM st{i} s CROSS JOIN circles c)""")
        ctes.append(f"d{i} AS (SELECT *, b * b - cc AS disc FROM q{i})")
        ctes.append(f"""t{i} AS (
            SELECT query_id, ox, oy, dx, dy, last_obj, obj_id, cx, cy, radius,
                   acc, emit, {root} AS t
            FROM d{i} WHERE disc >= 0)""")
        ctes.append(f"""h{i} AS (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY t, obj_id) AS rk
            FROM t{i} WHERE t IS NOT NULL)""")
        ctes.append(f"""g{i} AS (
            SELECT query_id, ox, oy, dx, dy, obj_id, cx, cy, radius, t,
                   acc + {w} * emit AS acc
            FROM h{i} WHERE rk = 1)""")
        if i > 1:
            outs.append(f"""
            SELECT s.query_id, CAST({i - 1} AS INTEGER) AS n_hits,
                   s.last_obj, s.acc AS radiance
            FROM st{i} s LEFT JOIN g{i} g ON g.query_id = s.query_id
            WHERE g.query_id IS NULL""")
        if i < depth:
            ctes.append(f"""p{i} AS (
                SELECT query_id, dx, dy, obj_id, cx, cy, radius, acc,
                       ox + dx * t AS px, oy + dy * t AS py
                FROM g{i})""")
            ctes.append(f"""n{i} AS (
                SELECT query_id, dx, dy, obj_id, acc, px, py,
                       (px - cx) / radius AS nx, (py - cy) / radius AS ny
                FROM p{i})""")
            ctes.append(f"""rf{i} AS (
                SELECT query_id, dx, dy, obj_id, acc, px, py, nx, ny,
                       dx * nx + dy * ny AS dt
                FROM n{i})""")
            ctes.append(f"""st{i + 1} AS (
                SELECT query_id,
                       px + (dx - 2.0 * dt * nx) * 1e-6 AS ox,
                       py + (dy - 2.0 * dt * ny) * 1e-6 AS oy,
                       dx - 2.0 * dt * nx AS dx,
                       dy - 2.0 * dt * ny AS dy,
                       acc, obj_id AS last_obj
                FROM rf{i})""")
        else:
            outs.append(f"""
            SELECT query_id, CAST({depth} AS INTEGER) AS n_hits,
                   obj_id AS last_obj, acc AS radiance
            FROM g{i}""")
    return "WITH " + ",\n".join(ctes) + "\nSELECT * FROM (" + \
        "\nUNION ALL".join(outs) + ")"


_R0_GLASS = (0.5 * 0.5) / (2.5 * 2.5)  # Schlick r0 for ior 1.5 (Raytracing.hpp:595)
_NNT_IN = 1.0 / 1.5


def _refract_chain_sql() -> str:
    """DuckDB twin of q_refract_chain. No trig anywhere, so every
    double — including the roulette decisions and the final radiance —
    is reproduced bit-for-bit; no rounding in the output at all."""
    r0 = repr(_R0_GLASS)
    r96 = repr(1.0 - _R0_GLASS)
    nnt_in = repr(_NNT_IN)
    h = ("CAST(('0x' || substr(md5('{s}:' || CAST(query_id AS VARCHAR)),"
         " 1, 15)) AS BIGINT)")

    def u01(s: str) -> str:
        return f"(CAST({h.format(s=s)} % 1048576 AS DOUBLE) / 1048576.0)"

    sq_disc = "sqrt(greatest(disc, 0.0))"
    root = (f"CASE WHEN -b - {sq_disc} > 1e-9 THEN -b - {sq_disc} "
            f"WHEN -b + {sq_disc} > 1e-9 THEN -b + {sq_disc} END")
    ctes = [f"""spheres AS (
            SELECT CAST(r_regionkey AS BIGINT) AS obj_id,
                   CASE WHEN r_regionkey = 0 THEN 0.0
                        ELSE CAST((CAST(r_regionkey AS BIGINT) * 97 % 401) - 200 AS DOUBLE) END AS cx,
                   CASE WHEN r_regionkey = 0 THEN 0.0
                        ELSE CAST((CAST(r_regionkey AS BIGINT) * 61 % 401) - 200 AS DOUBLE) END AS cy,
                   CASE WHEN r_regionkey = 0 THEN 250.0 ELSE -250.0 END AS cz,
                   120.0 AS radius,
                   CAST(CAST(r_regionkey AS BIGINT) + 1 AS DOUBLE) AS emit
            FROM region
            UNION ALL SELECT 1000, 0.0, 0.0, 0.0, 30.0, 0.0)""",
        f"""rayu AS (
            SELECT CAST(n_nationkey AS BIGINT) AS query_id FROM nation),
        rayw AS (
            SELECT query_id,
                   {u01('r1')} - 0.5 AS w1, {u01('r2')} - 0.5 AS w2,
                   {u01('r3')} - 0.5 AS w3
            FROM rayu),
        state0 AS (
            SELECT query_id,
                   CASE WHEN query_id % 2 = 0
                        THEN CAST((query_id * 7 % 41) - 20 AS DOUBLE)
                        ELSE CAST(24 + (query_id % 5) AS DOUBLE) END AS ox,
                   CASE WHEN query_id % 2 = 0
                        THEN CAST((query_id * 11 % 41) - 20 AS DOUBLE)
                        ELSE CAST((query_id * 13 % 9) - 4 AS DOUBLE) END AS oy,
                   CASE WHEN query_id % 2 = 0 THEN 100.0 ELSE 0.0 END AS oz,
                   CASE WHEN query_id % 2 = 0 THEN 0.0
                        ELSE w1 / sqrt(w1 * w1 + w2 * w2 + w3 * w3) END AS dx,
                   CASE WHEN query_id % 2 = 0 THEN 0.0
                        ELSE w2 / sqrt(w1 * w1 + w2 * w2 + w3 * w3) END AS dy,
                   CASE WHEN query_id % 2 = 0 THEN -1.0
                        ELSE w3 / sqrt(w1 * w1 + w2 * w2 + w3 * w3) END AS dz,
                   1.0 AS tp, '' AS path
            FROM rayw)"""]
    outs = []
    for i in (1, 2, 3):
        p = i - 1
        ctes.append(f"""cand{i} AS (
            SELECT s.*, sp.obj_id, sp.cx, sp.cy, sp.cz, sp.radius, sp.emit,
                   ((s.ox - sp.cx) * s.dx + (s.oy - sp.cy) * s.dy
                     + (s.oz - sp.cz) * s.dz) AS b,
                   ((s.ox - sp.cx) * (s.ox - sp.cx) + (s.oy - sp.cy) * (s.oy - sp.cy)
                     + (s.oz - sp.cz) * (s.oz - sp.cz)) - sp.radius * sp.radius AS cc
            FROM state{p} s CROSS JOIN spheres sp),
        disc{i} AS (SELECT *, b * b - cc AS disc FROM cand{i}),
        tt{i} AS (SELECT *, {root} AS t FROM disc{i} WHERE disc >= 0),
        rk{i} AS (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY t, obj_id) AS rk
            FROM tt{i} WHERE t IS NOT NULL),
        hit{i} AS (SELECT * FROM rk{i} WHERE rk = 1)""")
        outs.append(f"""
            SELECT s.query_id, s.path || 'M' AS path,
                   CAST(-1 AS BIGINT) AS hit_obj, 0.0 AS radiance
            FROM state{p} s LEFT JOIN hit{i} h USING (query_id)
            WHERE h.query_id IS NULL""")
        outs.append(f"""
            SELECT query_id, path || 'E' AS path, obj_id AS hit_obj,
                   tp * emit AS radiance
            FROM hit{i} WHERE obj_id < 1000""")
        if i == 3:
            outs.append(f"""
            SELECT query_id, path || 'C' AS path,
                   CAST(-1 AS BIGINT) AS hit_obj, 0.0 AS radiance
            FROM hit{i} WHERE obj_id >= 1000""")
            break
        ctes.append(f"""ga{i} AS (
            SELECT *, ox + dx * t AS px, oy + dy * t AS py, oz + dz * t AS pz
            FROM hit{i} WHERE obj_id >= 1000),
        gb{i} AS (
            SELECT *, (px - cx) / radius AS nx, (py - cy) / radius AS ny,
                   (pz - cz) / radius AS nz
            FROM ga{i}),
        gc{i} AS (SELECT *, dx * nx + dy * ny + dz * nz AS dot_ FROM gb{i}),
        gd{i} AS (
            SELECT *, nx * (CASE WHEN dot_ < 0 THEN 1.0 ELSE -1.0 END) AS nlx,
                   ny * (CASE WHEN dot_ < 0 THEN 1.0 ELSE -1.0 END) AS nly,
                   nz * (CASE WHEN dot_ < 0 THEN 1.0 ELSE -1.0 END) AS nlz
            FROM gc{i}),
        ge{i} AS (SELECT *, dx * nlx + dy * nly + dz * nlz AS ddn FROM gd{i}),
        gf{i} AS (
            SELECT *, CASE WHEN dot_ < 0 THEN {nnt_in} ELSE 1.5 END AS nnt
            FROM ge{i}),
        gg{i} AS (
            SELECT *, 1.0 - nnt * nnt * (1.0 - ddn * ddn) AS cos2t FROM gf{i}),
        gh{i} AS (
            SELECT *, dx - 2.0 * dot_ * nx AS rdx, dy - 2.0 * dot_ * ny AS rdy,
                   dz - 2.0 * dot_ * nz AS rdz,
                   (CASE WHEN dot_ < 0 THEN 1.0 ELSE -1.0 END)
                     * (ddn * nnt + sqrt(greatest(0.0, cos2t))) AS tcoef
            FROM gg{i}),
        gi{i} AS (
            SELECT *, dx * nnt - nx * tcoef AS tx_, dy * nnt - ny * tcoef AS ty_,
                   dz * nnt - nz * tcoef AS tz_
            FROM gh{i}),
        gj{i} AS (
            SELECT *, tx_ / sqrt(tx_ * tx_ + ty_ * ty_ + tz_ * tz_) AS tdx,
                   ty_ / sqrt(tx_ * tx_ + ty_ * ty_ + tz_ * tz_) AS tdy,
                   tz_ / sqrt(tx_ * tx_ + ty_ * ty_ + tz_ * tz_) AS tdz
            FROM gi{i}),
        gk{i} AS (
            SELECT *, tdx * nx + tdy * ny + tdz * nz AS cdot FROM gj{i}),
        gl{i} AS (
            SELECT *, 1.0 - (CASE WHEN dot_ < 0 THEN -ddn ELSE cdot END) AS c1
            FROM gk{i}),
        gm{i} AS (
            SELECT *, {r0} + {r96} * c1 * c1 * c1 * c1 * c1 AS re FROM gl{i}),
        gn{i} AS (
            SELECT *, 0.25 + 0.5 * re AS p_, {u01(f'g{i}')} AS u_ FROM gm{i}),
        gp{i} AS (
            SELECT *,
                   CASE WHEN cos2t < 0 OR u_ < p_ THEN rdx ELSE tdx END AS ndx,
                   CASE WHEN cos2t < 0 OR u_ < p_ THEN rdy ELSE tdy END AS ndy,
                   CASE WHEN cos2t < 0 OR u_ < p_ THEN rdz ELSE tdz END AS ndz,
                   CASE WHEN cos2t < 0 THEN 1.0
                        WHEN u_ < p_ THEN re / p_
                        ELSE (1.0 - re) / (1.0 - p_) END AS wgt,
                   CASE WHEN cos2t < 0 THEN 'T'
                        WHEN u_ < p_ THEN 'R' ELSE 'F' END AS lbl
            FROM gn{i}),
        state{i} AS (
            SELECT query_id, px + ndx * 1e-6 AS ox, py + ndy * 1e-6 AS oy,
                   pz + ndz * 1e-6 AS oz, ndx AS dx, ndy AS dy, ndz AS dz,
                   tp * wgt AS tp, path || lbl AS path
            FROM gp{i})""")
    return "WITH " + ",\n".join(ctes) + "\nSELECT * FROM (" + \
        "\nUNION ALL".join(outs) + ")"


def _spheres_refract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refraction-chain scene: one glass sphere (obj_id 1000, r=30 at
    the origin) + five big emitters — one overhead to catch entry-
    reflected rays, four below to catch transmitted rays."""
    r = D.load(spark, sf_dir, "region")
    k = F.col("r_regionkey").cast("long")
    emitters = r.select(
        k.alias("obj_id"),
        F.when(k == 0, F.lit(0.0))
         .otherwise(((k * 97 % 401) - 200).cast("double")).alias("cx"),
        F.when(k == 0, F.lit(0.0))
         .otherwise(((k * 61 % 401) - 200).cast("double")).alias("cy"),
        F.when(k == 0, F.lit(250.0)).otherwise(F.lit(-250.0)).alias("cz"),
        F.lit(120.0).alias("radius"),
        (k + 1).cast("double").alias("emit"))
    glass = spark.range(1).select(
        F.lit(1000).cast("long").alias("obj_id"),
        F.lit(0.0).alias("cx"), F.lit(0.0).alias("cy"), F.lit(0.0).alias("cz"),
        F.lit(30.0).alias("radius"), F.lit(0.0).alias("emit"))
    return emitters.unionByName(glass)


def q_refract_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O23 REFRACTION branch, driver-visible AND fully bit-exact
    (Raytracing.hpp:588-635): raster.glass — ior 1.5, total internal
    reflection, Schlick fresnel re, and the reflect-vs-refract choice by
    the deterministic roulette u < 0.25 + 0.5*re with re/p and
    (1-re)/(1-p) weights — over three segments. Unlike the diffuse
    branch there is NO trig anywhere: every step is +,-,*,/,sqrt on
    md5-bridge uniforms and integer-derived geometry, all correctly
    rounded IEEE double, so DuckDB reproduces the radiance doubles
    bit-for-bit with no rounding at all. Even nation keys fire
    exterior rays through the sphere (entry refraction, exit via the
    -b+sqrt(disc) inside root); odd keys start INSIDE with hash-random
    directions so total internal reflection genuinely fires. path
    letters: F refract, R roulette-reflect, T TIR, E emitter hit,
    M miss, C depth cap."""
    spheres = _spheres_refract(spark, sf_dir)
    k = F.col("n_nationkey").cast("long")
    even = (F.col("query_id") % 2) == 0
    w1, w2, w3 = _u01("r1") - 0.5, _u01("r2") - 0.5, _u01("r3") - 0.5
    wlen = F.sqrt(w1 * w1 + w2 * w2 + w3 * w3)
    state = D.load(spark, sf_dir, "nation").select(k.alias("query_id")).select(
        "query_id",
        F.when(even, ((F.col("query_id") * 7 % 41) - 20).cast("double"))
         .otherwise((24 + (F.col("query_id") % 5)).cast("double")).alias("ox"),
        F.when(even, ((F.col("query_id") * 11 % 41) - 20).cast("double"))
         .otherwise(((F.col("query_id") * 13 % 9) - 4).cast("double")).alias("oy"),
        F.when(even, F.lit(100.0)).otherwise(F.lit(0.0)).alias("oz"),
        F.when(even, F.lit(0.0)).otherwise(w1 / wlen).alias("dx"),
        F.when(even, F.lit(0.0)).otherwise(w2 / wlen).alias("dy"),
        F.when(even, F.lit(-1.0)).otherwise(w3 / wlen).alias("dz"),
        F.lit(1.0).alias("tp"), F.lit("").alias("path"),
    )
    o, d = _cols("o", "xyz"), _cols("d", "xyz")

    def ended(df: DataFrame, letter: str, hit_obj=-1, radiance=0.0) -> DataFrame:
        return df.select("query_id", F.concat("path", F.lit(letter)).alias("path"),
                         F.lit(hit_obj).cast("long").alias("hit_obj"),
                         F.lit(radiance).alias("radiance"))

    outs = []
    for i in (1, 2, 3):
        h = _sphere_hits(state, spheres, "xyz")
        outs.append(ended(state.join(h, "query_id", "left_anti"), "M"))
        outs.append(ended(h.filter(F.col("obj_id") < 1000), "E", F.col("obj_id"),
                          F.col("tp") * F.col("emit")))
        g = h.filter(F.col("obj_id") >= 1000)
        if i == 3:
            outs.append(ended(g, "C"))
            break
        p = R.hit_point(o, d, F.col("t"))
        n = R.sphere_normal(p, _cols("c", "xyz"), F.col("radius"))
        g, nd, wgt, tir, refl = R.glass(g, d, n, _u01(f"g{i}"))
        lbl = F.when(tir, F.lit("T")).when(refl, F.lit("R")).otherwise(F.lit("F"))
        state = g.select(
            "query_id", *_named(R.nudge(p, nd), "ox oy oz"),
            *_named(nd, "dx dy dz"), (F.col("tp") * wgt).alias("tp"),
            F.concat("path", lbl).alias("path"))
    return reduce(DataFrame.unionByName, outs)


def _diffuse_bounce_sql() -> str:
    """DuckDB twin of q_diffuse_bounce. Identical formula order
    everywhere; md5-prefix uniforms are bit-exact, libm cos/sin may
    differ from the JVM by ulps — absorbed by round-6 on the sampled
    direction and by the exact (integer-emission * 0.5) radiance."""
    h = ("CAST(('0x' || substr(md5('{s}:' || CAST(query_id AS VARCHAR)),"
         " 1, 15)) AS BIGINT)")
    u1 = f"(CAST({h.format(s='d1')} % 1048576 AS DOUBLE) / 1048576.0)"
    u2 = f"(CAST({h.format(s='d2')} % 1048576 AS DOUBLE) / 1048576.0)"
    sq_disc = "sqrt(greatest(disc, 0.0))"
    root = (f"CASE WHEN -b - {sq_disc} > 1e-9 THEN -b - {sq_disc} "
            f"WHEN -b + {sq_disc} > 1e-9 THEN -b + {sq_disc} END")
    quad = """
            SELECT r.query_id, r.dfx, r.dfy, r.dfz,
                   s.obj_id, s.emit,
                   ((r.ox - s.cx) * r.dx + (r.oy - s.cy) * r.dy
                     + (r.oz - s.cz) * r.dz) AS b,
                   ((r.ox - s.cx) * (r.ox - s.cx) + (r.oy - s.cy) * (r.oy - s.cy)
                     + (r.oz - s.cz) * (r.oz - s.cz)) - s.radius * s.radius AS cc
    """
    return f"""
        WITH spheres AS (
            SELECT CAST(r_regionkey AS BIGINT) AS obj_id,
                   CAST((CAST(r_regionkey AS BIGINT) * 37 % 101) - 50 AS DOUBLE) AS cx,
                   CAST((CAST(r_regionkey AS BIGINT) * 53 % 101) - 50 AS DOUBLE) AS cy,
                   CAST(25 + CAST(r_regionkey AS BIGINT) * 3 AS DOUBLE) AS cz,
                   12.0 AS radius,
                   CAST(CAST(r_regionkey AS BIGINT) + 1 AS DOUBLE) AS emit
            FROM region
            UNION ALL
            SELECT 1000, 0.0, 0.0, -10001.0, 10000.0, 0.0
        ), rays AS (
            SELECT CAST(n_nationkey AS BIGINT) AS query_id,
                   CAST((CAST(n_nationkey AS BIGINT) * 104729 + 12345) % 101 - 50 AS DOUBLE) AS ox,
                   CAST((CAST(n_nationkey AS BIGINT) * 48271 + 54321) % 101 - 50 AS DOUBLE) AS oy,
                   10.0 AS oz, 0.0 AS dx, 0.0 AS dy, -1.0 AS dz
            FROM nation
        ), q1 AS (
            SELECT r.query_id, r.ox, r.oy, r.oz, r.dx, r.dy, r.dz,
                   s.obj_id, s.cx, s.cy, s.cz, s.radius,
                   ((r.ox - s.cx) * r.dx + (r.oy - s.cy) * r.dy
                     + (r.oz - s.cz) * r.dz) AS b,
                   ((r.ox - s.cx) * (r.ox - s.cx) + (r.oy - s.cy) * (r.oy - s.cy)
                     + (r.oz - s.cz) * (r.oz - s.cz)) - s.radius * s.radius AS cc
            FROM rays r CROSS JOIN spheres s
        ), d1 AS (SELECT *, b * b - cc AS disc FROM q1
        ), t1 AS (SELECT *, {root} AS t FROM d1 WHERE disc >= 0
        ), h1 AS (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY t, obj_id) AS rk
            FROM t1 WHERE t IS NOT NULL
        ), s1 AS (
            SELECT query_id, ox + dx * t AS px, oy + dy * t AS py,
                   oz + dz * t AS pz,
                   (ox + dx * t - cx) / radius AS nlx,
                   (oy + dy * t - cy) / radius AS nly,
                   (oz + dz * t - cz) / radius AS nlz
            FROM h1 WHERE rk = 1
        ), b1 AS (
            SELECT query_id, px, py, pz, nlx, nly, nlz,
                   {u1} * 2.0 * 3.141592653589793 AS th,
                   sqrt({u2}) AS r2s,
                   sqrt(1.0 - {u2}) AS sq,
                   CASE WHEN abs(nlx) > 0.1 THEN 0.0 ELSE 1.0 END AS ax_
            FROM s1
        ), c1 AS (
            SELECT *, 1.0 - ax_ AS ay_ FROM b1
        ), c2 AS (
            SELECT *, ay_ * nlz AS cux, -(ax_ * nlz) AS cuy,
                   ax_ * nly - ay_ * nlx AS cuz
            FROM c1
        ), ub AS (
            SELECT *, cux / sqrt(cux * cux + cuy * cuy + cuz * cuz) AS ux,
                      cuy / sqrt(cux * cux + cuy * cuy + cuz * cuz) AS uy,
                      cuz / sqrt(cux * cux + cuy * cuy + cuz * cuz) AS uz
            FROM c2
        ), vb AS (
            SELECT *, nly * uz - nlz * uy AS vx, nlz * ux - nlx * uz AS vy,
                      nlx * uy - nly * ux AS vz
            FROM ub
        ), dirs AS (
            SELECT *, ux * cos(th) * r2s + vx * sin(th) * r2s + nlx * sq AS rx,
                      uy * cos(th) * r2s + vy * sin(th) * r2s + nly * sq AS ry,
                      uz * cos(th) * r2s + vz * sin(th) * r2s + nlz * sq AS rz
            FROM vb
        ), nrm AS (
            SELECT query_id, px, py, pz,
                   rx / sqrt(rx * rx + ry * ry + rz * rz) AS dfx,
                   ry / sqrt(rx * rx + ry * ry + rz * rz) AS dfy,
                   rz / sqrt(rx * rx + ry * ry + rz * rz) AS dfz
            FROM dirs
        ), r2 AS (
            SELECT query_id, dfx, dfy, dfz,
                   px + dfx * 1e-6 AS ox, py + dfy * 1e-6 AS oy,
                   pz + dfz * 1e-6 AS oz,
                   dfx AS dx, dfy AS dy, dfz AS dz
            FROM nrm
        ), q2 AS ({quad}
            FROM r2 r CROSS JOIN spheres s
        ), d2 AS (SELECT *, b * b - cc AS disc FROM q2
        ), t2 AS (SELECT *, {root} AS t FROM d2 WHERE disc >= 0
        ), h2 AS (
            SELECT query_id, obj_id AS obj2, emit AS emit2,
                   row_number() OVER (PARTITION BY query_id ORDER BY t, obj_id) AS rk
            FROM t2 WHERE t IS NOT NULL
        )
        SELECT r.query_id, coalesce(h.obj2, -1) AS obj2,
               round(r.dfx, 6) AS dfx_r6, round(r.dfy, 6) AS dfy_r6,
               round(r.dfz, 6) AS dfz_r6,
               0.5 * coalesce(h.emit2, 0.0) AS radiance
        FROM r2 r LEFT JOIN (SELECT * FROM h2 WHERE rk = 1) h USING (query_id)
    """


def _spheres_diffuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3D diffuse-bounce scene: five emissive spheres above a huge
    floor sphere (smallpt-style ground; Raytracing.hpp scene layout).
    All constants integer-derived so both engines build bit-identical
    doubles."""
    r = D.load(spark, sf_dir, "region")
    k = F.col("r_regionkey").cast("long")
    emitters = r.select(
        k.alias("obj_id"),
        ((k * 37 % 101) - 50).cast("double").alias("cx"),
        ((k * 53 % 101) - 50).cast("double").alias("cy"),
        (25 + k * 3).cast("double").alias("cz"),
        F.lit(12.0).alias("radius"),
        (k + 1).cast("double").alias("emit"),
    )
    floor = spark.range(1).select(
        F.lit(1000).cast("long").alias("obj_id"),
        F.lit(0.0).alias("cx"), F.lit(0.0).alias("cy"),
        F.lit(-10001.0).alias("cz"),
        F.lit(10000.0).alias("radius"), F.lit(0.0).alias("emit"))
    return emitters.unionByName(floor)


def q_diffuse_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O23 DIFFUSE branch, driver-visible (Raytracing.hpp:566-580):
    cosine-weighted hemisphere sample about the oriented normal — r1 =
    2*pi*u1, r2s = sqrt(u2), basis u = norm(a x w) with a chosen by
    |w.x| > 0.1, d = norm(u cos(r1) r2s + v sin(r1) r2s + w
    sqrt(1-u2)) — then one next-event nearest hit. Uniforms come from
    the md5-prefix bridge (bit-exact in both engines); the only
    non-portable steps are libm cos/sin (ulp-level), absorbed by
    round-6 on the sampled direction, while the OUTPUT radiance is
    EXACT: emitters carry integer emission and the floor albedo is
    0.5, so radiance = 0.5 * emit2 has no rounding at all and the
    discrete second-hit identity is checked through obj2. The sampler
    is not pathtrace's: that one picks its basis by |nl.x| > 0.9 and
    does not normalise."""
    spheres = _spheres_diffuse(spark, sf_dir)
    k = F.col("n_nationkey").cast("long")
    rays = D.load(spark, sf_dir, "nation").select(
        k.alias("query_id"),
        ((k * 104729 + 12345) % 101 - 50).cast("double").alias("ox"),
        ((k * 48271 + 54321) % 101 - 50).cast("double").alias("oy"),
        F.lit(10.0).alias("oz"), F.lit(0.0).alias("dx"), F.lit(0.0).alias("dy"),
        F.lit(-1.0).alias("dz"))

    # downward exterior hit: oriented normal nl == outward normal
    p = R.hit_point(_cols("o", "xyz"), _cols("d", "xyz"), F.col("t"))
    nl = R.sphere_normal(p, _cols("c", "xyz"), F.col("radius"))
    h1 = _sphere_hits(rays, spheres, "xyz").withColumns(
        dict(zip(("px", "py", "pz", "nlx", "nly", "nlz"), p + nl)))
    h1 = h1.withColumns({
        "_th": _u01("d1") * 2.0 * 3.141592653589793,
        "_r2s": F.sqrt(_u01("d2")),
        "_sq": F.sqrt(1.0 - _u01("d2")),
    })
    # a = (0,1,0) if |w.x| > 0.1 else (1,0,0)  (smallpt u-basis pick)
    ax = F.when(F.abs(F.col("nlx")) > 0.1, F.lit(0.0)).otherwise(F.lit(1.0))
    h1 = h1.withColumn("_ax", ax).withColumn("_ay", 1.0 - F.col("_ax"))
    cux = F.col("_ay") * F.col("nlz")
    cuy = -F.col("_ax") * F.col("nlz")
    cuz = F.col("_ax") * F.col("nly") - F.col("_ay") * F.col("nlx")
    ulen = F.sqrt(cux * cux + cuy * cuy + cuz * cuz)
    h1 = h1.withColumn("_ux", cux / ulen).withColumn("_uy", cuy / ulen) \
           .withColumn("_uz", cuz / ulen)
    vx = F.col("nly") * F.col("_uz") - F.col("nlz") * F.col("_uy")
    vy = F.col("nlz") * F.col("_ux") - F.col("nlx") * F.col("_uz")
    vz = F.col("nlx") * F.col("_uy") - F.col("nly") * F.col("_ux")
    rx = F.col("_ux") * F.cos("_th") * F.col("_r2s") \
        + vx * F.sin("_th") * F.col("_r2s") + F.col("nlx") * F.col("_sq")
    ry = F.col("_uy") * F.cos("_th") * F.col("_r2s") \
        + vy * F.sin("_th") * F.col("_r2s") + F.col("nly") * F.col("_sq")
    rz = F.col("_uz") * F.cos("_th") * F.col("_r2s") \
        + vz * F.sin("_th") * F.col("_r2s") + F.col("nlz") * F.col("_sq")
    h1 = h1.withColumn("_rx", rx).withColumn("_ry", ry).withColumn("_rz", rz)
    dlen = F.sqrt(F.col("_rx") * F.col("_rx") + F.col("_ry") * F.col("_ry")
                  + F.col("_rz") * F.col("_rz"))
    h1 = h1.withColumn("dfx", F.col("_rx") / dlen) \
           .withColumn("dfy", F.col("_ry") / dlen) \
           .withColumn("dfz", F.col("_rz") / dlen)

    bounced = _cols("df", "xyz")
    r2 = h1.select("query_id", "dfx", "dfy", "dfz",
                   *_named(R.nudge(_cols("p", "xyz"), bounced), "ox oy oz"),
                   *_named(bounced, "dx dy dz"))
    h2 = _sphere_hits(r2, spheres, "xyz").select(
        "query_id", F.col("obj_id").alias("obj2"), F.col("emit").alias("emit2"))
    out = r2.join(h2, "query_id", "left")
    return out.select(
        "query_id",
        F.coalesce("obj2", F.lit(-1)).alias("obj2"),
        F.round("dfx", 6).alias("dfx_r6"),
        F.round("dfy", 6).alias("dfy_r6"),
        F.round("dfz", 6).alias("dfz_r6"),
        (0.5 * F.coalesce("emit2", F.lit(0.0))).alias("radiance"))


def q_agg_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregation sanity (TPC-H Q1 shape, integer-exact sums)."""
    li = D.load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_price_c"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings / events)
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return D.load(spark, sf_dir, "documents")


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count per document."""
    return _docs(spark, sf_dir).select(
        "doc_id", F.size(TX.tokens_col()).alias("n_tokens"))


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weights: tf x ln(N/df) per (doc, token), rounded to
    6 decimals on both sides (libm ln is not bit-portable; the integer
    tf/df/N inputs are). Two hash aggs + a token equi-join + a
    broadcast 1-row N — the textbook distributed plan."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(TX.tokens_col()).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    nd = d.agg(F.count("*").alias("_nd"))
    return (
        tf.join(dfreq, "tok").crossJoin(F.broadcast(nd))
        .select(
            "doc_id", "tok", "tf", "df",
            F.round(
                F.col("tf") * F.log(F.col("_nd").cast("double") / F.col("df")),
                6).alias("tfidf_r6"))
    )


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: global top-100 tokens by exact count, (count
    desc, token asc) tiebreak. orderBy+limit plans as
    TakeOrderedAndProject — per-partition partial top-k, never a
    global sort of the vocabulary."""
    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.explode(TX.tokens_col()).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("n"))
    )
    return counts.orderBy(F.desc("n"), F.asc("tok")).limit(100)


def q_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch (functions/sketches.py) probed at
    the exact top-30 heavy hitters: (tok, n_exact, cms_est) with the
    overestimate guarantee cms_est >= n_exact gate-visible row by row.
    The sketch is ALL integer md5 arithmetic — the DuckDB twin rebuilds
    the identical d x w counter table, no rounding bridge anywhere."""
    from optimizing_spark.functions import sketches as SK

    # w=16 (not the production default 1024): the driver corpus has a
    # 31-token vocabulary, so a wide sketch never collides and the
    # estimator would be trivially exact — 16 buckets force real
    # collisions so the gate exercises min-over-rows and the bound.
    toks = _docs(spark, sf_dir).select(
        F.explode(TX.tokens_col()).alias("tok"))
    counters = SK.cms_build(toks, "tok", w=16)
    top = (
        toks.groupBy("tok").agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("tok")).limit(30)
    )
    est = SK.cms_estimate(counters, top.select("tok"), "tok", w=16)
    return top.join(est, "tok").select("tok", "n_exact", "cms_est")


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer quality components + deterministic score."""
    out = TX.quality_cols(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_tokens", "n_uniq", "tok_chars", "stop_hits",
        F.col("quality_score").cast("long").alias("quality_score"))


def q_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input-hint per-row invariant made driver-visible: the full
    interleaved span sequence (kind, text, media_ref, offset, ORDER via
    span_idx) per document, plus the per-doc canonical-encoding md5 —
    span-sequence equality per document (BASELINE.json input_hint)
    checked field-by-field AND at the encoding level by the gate's
    value hash."""
    from optimizing_spark.functions.geocode import _canon_expr

    d = D.docs_with_spans(_docs(spark, sf_dir).select("doc_id", "text"))
    d = d.withColumn("canon_md5", F.md5(_canon_expr()))
    return d.select(
        "doc_id", "canon_md5",
        F.posexplode("spans").alias("span_idx", "s"),
    ).select(
        "doc_id", "span_idx",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("span_text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("span_offset"),
        "canon_md5")


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition stats (word-bigram counts,
    top-gram count, duplicate-gram mass + fraction)."""
    return TX.repetition_cols(_docs(spark, sf_dir), k=2).select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("top_gram_n").cast("long").alias("top_gram_n"),
        F.col("dup_gram_n").cast("long").alias("dup_gram_n"),
        "dup_frac_r6")


def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: quality + language gates, exact dedup,
    LSH near-dup removal — one lazy plan (operators/dedup.curate_corpus)."""
    out = DD.curate_corpus(
        _docs(spark, sf_dir).select("doc_id", "text"),
        min_tokens=20, min_quality=60, lang="en",
        jaccard_num=8, jaccard_den=10)
    return out.select(
        "doc_id", "n_tokens",
        F.col("quality_score").cast("long").alias("quality_score"),
        F.col("_lg").alias("lg"))


def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language heuristic."""
    return _docs(spark, sf_dir).select("doc_id", TX.lang_guess_col().alias("lg"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (md5) + min-shingle content fingerprints."""
    return TX.fingerprint_cols(_docs(spark, sf_dir)).select(
        "doc_id", "fp_md5", "fp_shingle")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors of exact-hash dedup (min doc_id per distinct text)."""
    return DD.exact_dedup(_docs(spark, sf_dir)).select("doc_id")


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures, one row per (doc, permutation)."""
    sig = DD.minhash_signatures(_docs(spark, sf_dir).select("doc_id", "text"))
    return sig.select(
        "doc_id", F.posexplode("mh_sig").alias("perm_id", "mh"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit simhash per document."""
    return _docs(spark, sf_dir).select("doc_id", TX.simhash_col().alias("sh"))


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-minhash near-dup candidates with exact jaccard counts
    (inter*10 >= uni*8)."""
    return DD.minhash_lsh_pairs(
        _docs(spark, sf_dir).select("doc_id", "text"),
        jaccard_num=8, jaccard_den=10)


def q_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: q_lsh_pairs' pair graph closed transitively —
    every doc mapped to the min doc_id in its connected component
    (pointer-jumping min-label propagation; isolated docs map to
    themselves). The oracle computes the same fixpoint as a DuckDB
    recursive CTE over the identical pair query."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pairs = DD.minhash_lsh_pairs(docs, jaccard_num=8, jaccard_den=10)
    return DD.connected_components(
        pairs.select("a", "b"), vertices=docs.select("doc_id"), key="doc_id")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set jaccard counts for consecutive doc pairs."""
    d = _docs(spark, sf_dir)
    ids = d.select(F.col("doc_id").alias("a"),
                   (F.col("doc_id") + 1).alias("b"))
    pairs = ids.join(d.select(F.col("doc_id").alias("b")), "b", "left_semi")
    return DD.ngram_jaccard(d, pairs)


def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per probe (first 10 vectors), rounded
    to 6 decimals with vec_id tie-break."""
    e = D.load(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_embedding"))
    return SIM.brute_topk(e, probes, k=5)


def q_embed_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN scale path with a TRAINED index (round 4): centroids
    init at vec_id < 16 then refined by 2 deterministic Lloyd
    iterations (round-6 cosine assignment, round-6 mean update — the
    oracle twin replays the identical iterations), each vector
    assigned to its nearest trained centroid, probes score only their
    4 nearest centroids' inverted lists, brute fallback for starved
    probes — entirely reproducible in SQL."""
    e = D.load(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_embedding"))
    return SIM.ivf_topk(e, probes, k=5, n_centroids=16, n_probe=4,
                        train_iters=2)


def q_embed_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN compression path with TRAINED codebooks (round 4): 4
    subspace codes per vector against a 16-entry codebook refined by 2
    deterministic per-subspace Lloyd iterations (round-6 squared-L2
    assignment, round-6 mean update — replayed by the oracle twin),
    ADC scoring over the codes only, exact re-rank of the ADC top-2k —
    the third ANN family next to LSH (bucketing) and IVF (pruning),
    fully SQL-reproducible."""
    e = D.load(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_embedding"))
    return SIM.pq_topk(e, probes, k=5, dim=64, n_sub=4, n_codes=16, rerank=2,
                       train_iters=2)


def _embed_pq_sql(k: int = 5, dim: int = 64, n_sub: int = 4,
                  n_codes: int = 16, rerank: int = 2,
                  iters: int = 2) -> str:
    """DuckDB twin of q_embed_topk_pq: same slices, TRAINED codebook
    (per-subspace Lloyd replayed iteration-for-iteration: round-6
    squared-L2 argmin with code tie-break, round-6 element-wise mean
    update, empty codes keep their previous entry), round-6 argmin
    codes, fixed-order ADC sums, exact re-rank + fallback."""
    sub = dim // n_sub
    subs = ",".join(f"({s})" for s in range(n_sub))
    rsum = " + ".join(f"r{s}" for s in range(n_sub))
    rconds = ",".join(
        f"sum(CASE WHEN s = {s} THEN cn2 END) AS r{s}" for s in range(n_sub))
    dsum = " + ".join(f"d{s}" for s in range(n_sub))
    dconds = ",".join(
        f"sum(CASE WHEN c.s = {s} THEN l.pd END) AS d{s}"
        for s in range(n_sub))

    def cos(a, b):
        return (f"round(list_dot_product({a}.embedding::DOUBLE[], "
                f"{b}.p_embedding::DOUBLE[]) / "
                f"sqrt(list_dot_product({a}.embedding::DOUBLE[], "
                f"{a}.embedding::DOUBLE[]) * "
                f"list_dot_product({b}.p_embedding::DOUBLE[], "
                f"{b}.p_embedding::DOUBLE[])), 6)")

    train = ""
    prev = "cb0"
    for t in range(1, iters + 1):
        train += f""", tenc{t} AS (
            SELECT v.vec_id, v.s, cb.c, v.sl,
                   round(list_dot_product(v.sl, v.sl)
                         - 2.0 * list_dot_product(v.sl, cb.csl)
                         + cb.cn2, 6) AS d2
            FROM vsl v JOIN {prev} cb ON cb.s = v.s
        ), mem{t} AS (
            SELECT s, c, sl FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                             ORDER BY d2, c) AS rk
                FROM tenc{t}
            ) WHERE rk = 1
        ), pm{t} AS (
            SELECT s, c, pos, round(avg(val), 6) AS m FROM (
                SELECT s, c, unnest(sl) AS val,
                       unnest(range(1, {sub + 1})) AS pos
                FROM mem{t}
            ) GROUP BY s, c, pos
        ), pn{t} AS (
            SELECT s, c, list(m ORDER BY pos) AS csl
            FROM pm{t} GROUP BY s, c
        ), cb{t} AS (
            SELECT p.s, p.c, coalesce(n.csl, p.csl) AS csl,
                   list_dot_product(coalesce(n.csl, p.csl),
                                    coalesce(n.csl, p.csl)) AS cn2
            FROM {prev} p LEFT JOIN pn{t} n ON n.s = p.s AND n.c = p.c
        )"""
        prev = f"cb{t}"
    return f"""
        WITH subsp AS (SELECT * FROM (VALUES {subs}) t(s)),
        vsl AS (
            SELECT e.vec_id, t.s,
                   (e.embedding[t.s*{sub}+1 : t.s*{sub}+{sub}])::DOUBLE[] AS sl
            FROM embeddings e CROSS JOIN subsp t
        ), cb0 AS (
            SELECT vec_id AS c, s, sl AS csl,
                   list_dot_product(sl, sl) AS cn2
            FROM vsl WHERE vec_id < {n_codes}
        ){train}, cb AS (SELECT * FROM {prev}), enc AS (
            SELECT v.vec_id, v.s, cb.c, cb.cn2,
                   round(list_dot_product(v.sl, v.sl)
                         - 2.0 * list_dot_product(v.sl, cb.csl)
                         + cb.cn2, 6) AS d2
            FROM vsl v JOIN cb ON cb.s = v.s
        ), codes AS (
            SELECT vec_id, s, c, cn2 FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                             ORDER BY d2, c) AS rk
                FROM enc
            ) WHERE rk = 1
        ), rn2 AS (
            SELECT vec_id, {rsum} AS rn2 FROM (
                SELECT vec_id, {rconds} FROM codes GROUP BY vec_id)
        ), pr AS (
            SELECT vec_id AS probe_id, embedding AS p_embedding
            FROM embeddings WHERE vec_id < 10
        ), psl AS (
            SELECT p.probe_id, t.s,
                   (p.p_embedding[t.s*{sub}+1 : t.s*{sub}+{sub}])::DOUBLE[] AS sl
            FROM pr p CROSS JOIN subsp t
        ), lut AS (
            SELECT p.probe_id, p.s, cb.c,
                   list_dot_product(p.sl, cb.csl) AS pd
            FROM psl p JOIN cb ON cb.s = p.s
        ), adc AS (
            SELECT n.probe_id, n.vec_id,
                   round(({dsum}) / sqrt(pn.pn2 * rn2.rn2), 6) AS adc
            FROM (
                SELECT l.probe_id, c.vec_id, {dconds}
                FROM codes c JOIN lut l ON l.s = c.s AND l.c = c.c
                GROUP BY l.probe_id, c.vec_id
            ) n
            JOIN (SELECT vec_id AS probe_id,
                         list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]) AS pn2
                  FROM embeddings WHERE vec_id < 10) pn
              ON pn.probe_id = n.probe_id
            JOIN rn2 ON rn2.vec_id = n.vec_id
        ), cand AS (
            SELECT probe_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY probe_id
                    ORDER BY adc DESC, vec_id) AS rk FROM adc
            ) WHERE rk <= {rerank * k}
        ), hits AS (
            SELECT probe_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
                SELECT cd.probe_id, cd.vec_id, {cos('a', 'p')} AS cos,
                       row_number() OVER (PARTITION BY cd.probe_id ORDER BY
                           {cos('a', 'p')} DESC, cd.vec_id) AS rank
                FROM cand cd
                JOIN embeddings a ON a.vec_id = cd.vec_id
                JOIN pr p ON p.probe_id = cd.probe_id
            ) WHERE rank <= {k}
        ), full_p AS (
            SELECT probe_id FROM hits GROUP BY probe_id HAVING count(*) >= {k}
        ), brute AS (
            SELECT probe_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
                SELECT p.probe_id, a.vec_id, {cos('a', 'p')} AS cos,
                       row_number() OVER (PARTITION BY p.probe_id ORDER BY
                           {cos('a', 'p')} DESC, a.vec_id) AS rank
                FROM embeddings a CROSS JOIN
                     (SELECT * FROM pr
                      WHERE probe_id NOT IN (SELECT probe_id FROM full_p)) p
            ) WHERE rank <= {k}
        )
        SELECT h.probe_id, h.vec_id, h.cos, h.rank
        FROM hits h JOIN full_p f ON f.probe_id = h.probe_id
        UNION ALL
        SELECT probe_id, vec_id, cos, rank FROM brute
    """


def _embed_ivf_sql(k: int = 5, n_centroids: int = 16, n_probe: int = 4,
                   iters: int = 2, dim: int = 64) -> str:
    """DuckDB twin of q_embed_topk_ivf: replays the SAME deterministic
    Lloyd training (per-iteration round-6 cosine argmax assignment with
    cent_id tie-break, round-6 element-wise mean update, empty clusters
    keep their previous centroid — the round-6 bridge makes every
    iteration's centroid floats bit-identical across engines), then the
    same assignment, probe lists, rounded-cosine ranking and
    starved-probe fallback."""
    def cos(a, b, an, bn):
        return (f"round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
                f"sqrt(list_dot_product({an}::DOUBLE[], {an}::DOUBLE[]) * "
                f"list_dot_product({bn}::DOUBLE[], {bn}::DOUBLE[])), 6)")
    train = ""
    prev = "cents0"
    for t in range(1, iters + 1):
        train += f""", a{t} AS (
            SELECT vec_id, embedding, cent_id FROM (
                SELECT e.vec_id, e.embedding, c.cent_id,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           round(list_dot_product(e.embedding::DOUBLE[], c.cent)
                                 / sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                         e.embedding::DOUBLE[])
                                        * list_dot_product(c.cent, c.cent)), 6)
                               DESC,
                           c.cent_id) AS crk
                FROM embeddings e CROSS JOIN {prev} c
            ) WHERE crk = 1
        ), m{t} AS (
            SELECT cent_id, pos, round(avg(val), 6) AS m FROM (
                SELECT cent_id, unnest(embedding::DOUBLE[]) AS val,
                       unnest(range(1, {dim + 1})) AS pos
                FROM a{t}
            ) GROUP BY cent_id, pos
        ), n{t} AS (
            SELECT cent_id, list(m ORDER BY pos) AS cent
            FROM m{t} GROUP BY cent_id
        ), cents{t} AS (
            SELECT p.cent_id, coalesce(n{t}.cent, p.cent) AS cent
            FROM {prev} p LEFT JOIN n{t} USING (cent_id)
        )"""
        prev = f"cents{t}"
    return f"""
        WITH cents0 AS (
            SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
            FROM embeddings WHERE vec_id < {n_centroids}
        ){train}, cents AS (SELECT * FROM {prev}), va AS (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   {cos('e.embedding', 'c.cent', 'e.embedding', 'c.cent')} AS ccos
            FROM embeddings e CROSS JOIN cents c
        ), assign AS (
            SELECT vec_id, embedding, cent_id FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY ccos DESC, cent_id) AS crk FROM va
            ) WHERE crk = 1
        ), pv AS (
            SELECT p.vec_id AS probe_id, p.embedding AS p_embedding, c.cent_id,
                   {cos('p.embedding', 'c.cent', 'p.embedding', 'c.cent')} AS pcos
            FROM (SELECT * FROM embeddings WHERE vec_id < 10) p CROSS JOIN cents c
        ), plists AS (
            SELECT probe_id, p_embedding, cent_id FROM (
                SELECT *, row_number() OVER (PARTITION BY probe_id
                    ORDER BY pcos DESC, cent_id) AS prk FROM pv
            ) WHERE prk <= {n_probe}
        ), hits AS (
            SELECT probe_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
                SELECT pl.probe_id, a.vec_id,
                       {cos('a.embedding', 'pl.p_embedding', 'a.embedding', 'pl.p_embedding')} AS cos,
                       row_number() OVER (PARTITION BY pl.probe_id ORDER BY
                           {cos('a.embedding', 'pl.p_embedding', 'a.embedding', 'pl.p_embedding')} DESC,
                           a.vec_id) AS rank
                FROM plists pl JOIN assign a ON a.cent_id = pl.cent_id
            ) WHERE rank <= {k}
        ), full_p AS (
            SELECT probe_id FROM hits GROUP BY probe_id HAVING count(*) >= {k}
        ), brute AS (
            SELECT probe_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
                SELECT p.vec_id AS probe_id, e.vec_id,
                       {cos('e.embedding', 'p.embedding', 'e.embedding', 'p.embedding')} AS cos,
                       row_number() OVER (PARTITION BY p.vec_id ORDER BY
                           {cos('e.embedding', 'p.embedding', 'e.embedding', 'p.embedding')} DESC,
                           e.vec_id) AS rank
                FROM embeddings e CROSS JOIN
                     (SELECT * FROM embeddings WHERE vec_id < 10
                      AND vec_id NOT IN (SELECT probe_id FROM full_p)) p
            ) WHERE rank <= {k}
        )
        SELECT h.probe_id, h.vec_id, h.cos, h.rank
        FROM hits h JOIN full_p f ON f.probe_id = h.probe_id
        UNION ALL
        SELECT probe_id, vec_id, cos, rank FROM brute
    """


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs (rounded cos*1000 >= 350; threshold
    sits at the ~99.9th percentile of this table's pair cosines)."""
    e = D.load(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"),
                 SIM.norm2_col("embedding").alias("na"))
    b = e.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"),
                 SIM.norm2_col("embedding").alias("nb"))
    j = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    # norms projected below the join: identical doubles, 1 fold/pair
    cos = F.round(SIM.dot_col("ea", "eb") / F.sqrt(F.col("na") * F.col("nb")), 6)
    j = j.withColumn("cos", cos)
    return j.filter(F.col("cos") * 1000 >= 350).select("a", "b", "cos")


_EMBED_DIM = 64  # driver embeddings table dim (all SFs); no action needed


def q_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH near-dup scale path: 4 bands x 8 hyperplane bits,
    candidates share >= 1 full band, exact cosine verify on the pair
    set. Deterministic planes -> exactly reproducible in DuckDB."""
    e = D.load(spark, sf_dir, "embeddings")
    return SIM.embedding_neardup_pairs(
        e, dim=_EMBED_DIM, threshold_millis=350, n_planes=8, n_bands=4)


def _embed_lsh_sql(dim: int = 64, n_planes: int = 8, n_bands: int = 4,
                   threshold_millis: int = 350) -> str:
    """DuckDB twin of q_embed_neardup_lsh: same splitmix hyperplanes
    inlined as DOUBLE[] literals (repr round-trips bit-exact), same
    band buckets, same rounded-cosine threshold."""
    structs = []
    for b in range(n_bands):
        planes = SIM.make_planes(dim, n_planes, base_stream=1000 + b * n_planes)
        bits = []
        for p, plane in enumerate(planes):
            arr = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
            bits.append(
                f"CASE WHEN list_dot_product(embedding::DOUBLE[], {arr}) >= 0 "
                f"THEN {1 << p} ELSE 0 END"
            )
        structs.append(f"{{'band': {b}, 'h': (" + " + ".join(bits) + ")}")
    cos_ab = ("round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
              "sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) * "
              "list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6)")
    return f"""
        WITH sigs AS (
            SELECT vec_id, s.band AS band, s.h AS h
            FROM (SELECT vec_id, unnest([{', '.join(structs)}]) AS s FROM embeddings)
        ), cand AS (
            SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
            FROM sigs x JOIN sigs y ON x.band = y.band AND x.h = y.h
            WHERE x.vec_id < y.vec_id
        )
        SELECT c.a, c.b, {cos_ab} AS cos
        FROM cand c JOIN embeddings a ON a.vec_id = c.a
                    JOIN embeddings b ON b.vec_id = c.b
        WHERE {cos_ab} * 1000 >= {threshold_millis}
    """


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per user, sessions = gaps > 30 min; integer
    counts per user."""
    ev = D.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    s = ev.withColumn("_prev", prev).withColumn(
        "new_sess",
        F.when(F.col("_prev").isNull()
               | (F.expr("timestampdiff(MICROSECOND, _prev, ts)")
                  > 1800 * 1_000_000), 1).otherwise(0))
    return s.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"),
        F.count("*").alias("n_events"))


def q_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling hourly counts per event_type (integer-exact sums of
    cent-scaled values)."""
    ev = D.load(spark, sf_dir, "events")
    # driver parquet is naive/NTZ but Spark's date_trunc always yields
    # LTZ; cast back so the Arrow output is timestamp[us] (naive) like
    # the DuckDB oracle (wall-clock identity under a fixed session tz)
    hour = F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour_start")
    return ev.groupBy(hour, "event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_c"))


def q_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed interval-overlap join (operators/temporal.interval_join):
    per user, every (click, purchase) pair whose activity intervals
    [ts, ts + dur] overlap — dur derived integer-deterministically from
    event_id. The plan is the temporal twin of range_join: explode to
    hourly buckets, ONE equi-shuffle on (user, bucket), exact residual,
    reporting-bucket dedup; the DuckDB twin is the plain inequality
    join Spark could only run as a nested loop."""
    from optimizing_spark.operators.temporal import interval_join

    ev = D.load(spark, sf_dir, "events").withColumn(
        "_ep", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"))
    base = ev.select(
        "event_id", "user_id", "event_type",
        F.expr("timestampdiff(MICROSECOND, _ep, ts)").alias("t0"),
    ).withColumn(
        "t1",
        F.col("t0") + (F.col("event_id") % 541 + 60) * F.lit(1_000_000))
    l = base.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("a_id"), "user_id", "t0", "t1")
    r = base.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("b_id"), "user_id", "t0", "t1")
    out = interval_join(l, r, on="user_id", bucket=3_600_000_000)
    return out.select("a_id", "user_id", "t0", "t1", "b_id", "r_t0", "r_t1")


def q_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency (operators/temporal
    .peak_concurrency, round 5): per user, the max number of
    simultaneously open click-activity intervals [t0, t1] (the same
    integer-microsecond intervals as q_interval) and the earliest
    instant it is attained. Boundary deltas collapse per (user, t)
    BEFORE the prefix sum, so the running count is order-unambiguous
    and the DuckDB twin (identical sweep in window SQL) matches
    bit-for-bit. 2 rows per interval, one (user, t) hash agg, one
    user-partitioned window — never an interval self-join."""
    from optimizing_spark.operators.temporal import peak_concurrency

    ev = D.load(spark, sf_dir, "events").withColumn(
        "_ep", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"))
    base = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.expr("timestampdiff(MICROSECOND, _ep, ts)").alias("t0"),
        F.col("event_id").alias("_eid"),
    ).withColumn(
        "t1",
        F.col("t0") + (F.col("_eid") % 541 + 60) * F.lit(1_000_000))
    return peak_concurrency(base, on="user_id")


_INTERVAL_SQL = """
    WITH e AS (
        SELECT event_id, user_id, event_type,
               date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS t0,
               date_diff('microsecond', TIMESTAMP '1970-01-01', ts)
                 + (event_id % 541 + 60) * 1000000 AS t1
        FROM events
    ), l AS (
        SELECT event_id AS a_id, user_id, t0, t1 FROM e
        WHERE event_type = 'click'
    ), r AS (
        SELECT event_id AS b_id, user_id, t0 AS r_t0, t1 AS r_t1 FROM e
        WHERE event_type = 'purchase'
    )
    SELECT l.a_id, l.user_id, l.t0, l.t1, r.b_id, r.r_t0, r.r_t1
    FROM l JOIN r ON l.user_id = r.user_id
                 AND l.t0 <= r.r_t1 AND r.r_t0 <= l.t1
"""


def q_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-count sketch
    (functions/sketches.py) next to the exact count it estimates —
    two metrics so BOTH estimator branches are gate-visible:

    - ``users_day``: distinct user_id per event day (~hundreds of keys
      -> many empty registers -> the linear-counting correction path);
    - ``events_all``: distinct event_id over the whole table (>2.5m
      keys at every sf -> the raw harmonic-mean path).

    The sketch registers are exact integer arithmetic off the portable
    md5 uniform, so DuckDB rebuilds the identical sketch; the single
    libm ln in the correction branch is bridged by round-6 on both
    sides (the TF-IDF recipe)."""
    from optimizing_spark.functions import sketches as SK

    ev = D.load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    users = ev.select(day.alias("day"), F.col("user_id").alias("k"))
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    evs = ev.select(epoch.alias("day"), F.col("event_id").alias("k"))

    def part(src: DataFrame, metric: str) -> DataFrame:
        est = SK.hll_distinct(src, ["day"], "k")
        exact = src.groupBy("day").agg(F.countDistinct("k").alias("n_exact"))
        return exact.join(est, "day").select(
            F.lit(metric).alias("metric"), "day", "n_exact", "hll_distinct")

    return part(users, "users_day").unionByName(part(evs, "events_all"))


def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable bloom-filter semi-join pruning
    (functions/sketches.bloom_build/bloom_might_contain): the build
    side is orders with o_totalprice >= 400000 (~3k keys at sf0.01 —
    the shape where the key set is too big to ship as a join relation
    at 100 TB but its 8 KB bloom always broadcasts), the probe side is
    every lineitem row. Returns ONE row of integer diagnostics:
    (n_big, n_pass, n_true, n_false_pos) — n_pass counts probe rows
    surviving the map-side bloom prefilter, n_true the exact matches,
    and their gap the bloom's actual false positives (a handful at the
    default 5 hashes / 65536 bits — nonzero by design so the gate
    proves the engines build the IDENTICAL bit array, not just any
    correct filter). No false negatives ever: every true row passes."""
    from optimizing_spark.functions import sketches as SK

    small = D.load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 400000).select(F.col("o_orderkey").alias("k"))
    big = D.load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"))
    bl = SK.bloom_assemble(SK.bloom_build(small, "k"))
    flagged = (
        big.join(F.broadcast(bl))
        .withColumn("_pass", SK.bloom_might_contain(F.col("k"), F.col("bloom")))
        .drop("bloom")
        .join(F.broadcast(small.distinct().withColumn("_hit", F.lit(1))),
              "k", "left")
    )
    return flagged.agg(
        F.count("*").alias("n_big"),
        F.count(F.when(F.col("_pass"), 1)).alias("n_pass"),
        F.count(F.when(F.col("_hit") == 1, 1)).alias("n_true"),
        F.count(F.when(F.col("_pass") & F.col("_hit").isNull(), 1))
        .alias("n_false_pos"),
    )


def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal as-of join (operators/temporal.py): every click event
    picks the latest purchase by the same user at-or-before its ts
    (largest event_id wins ties); NULLs when no prior purchase.
    One hash shuffle on user_id — never an inequality join."""
    from optimizing_spark.operators.temporal import asof_join

    ev = D.load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id")
    j = asof_join(clicks, purchases, on="user_id",
                  right_cols=["value"], tiebreak="event_id")
    # no-match rows -> epoch/-1 sentinels (driver hashing of NULL
    # timestamps is not portability-guaranteed; operator itself keeps
    # left-join NULL semantics)
    return j.select(
        "event_id", "user_id", "ts", "value",
        F.coalesce(F.col("asof_ts"),
                   F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"))
         .alias("asof_ts"),
        F.coalesce(F.col("asof_value"), F.lit(-1.0)).alias("asof_value"))


def q_qt_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable pyramid: count + integer sums for every quadtree
    cell at every depth 0..6, shuffling the base table ONCE (at the
    finest depth); each coarser level aggregates the previous level's
    <=4^d rows. Extends O16's per-node count to the full pyramid."""
    from optimizing_spark.operators.rollup import cell_rollup

    o = D.objects2d(spark, sf_dir)
    cell6 = C.morton2d(F.shiftright(F.col("ix"), 10),
                       F.shiftright(F.col("iy"), 10))
    return cell_rollup(o.withColumn("cell6", cell6), "cell6",
                       depth=6, sums=["qty", "weight_c"])


def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample of documents, keyed on a
    content hash: stable under any partitioning/cluster size (native
    df.sample is not), and a pure narrow filter — no shuffle."""
    from optimizing_spark.operators.sampling import bernoulli_sample

    d = D.load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return bernoulli_sample(d, "doc_id", num=10, den=100)


def q_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly 20 events per
    event_type, the smallest (hash, id) pairs — WindowGroupLimit keeps
    map output at <=k rows per stratum before the single exchange."""
    from optimizing_spark.operators.sampling import stratified_sample

    ev = D.load(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id")
    return stratified_sample(ev, stratum="event_type", key="event_id", k=20)


def q_wsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional document sample WITHOUT
    replacement (priority sampling, Duffield-Lund-Thorup JACM 2007):
    the 100 largest priorities w/u with u = (h+1)/2^60, w = n_chars,
    h the salted md5-prefix uniform — importance-weighted corpus
    subsampling, reproducible across partitionings and engines. Unlike
    ln/pow-based A-ES keys, the priority is one exact power-of-two
    multiply + ONE correctly-rounded IEEE division of
    exactly-converted integers, so Spark and DuckDB compute the
    identical double — no rounding bridge. Plan:
    TakeOrderedAndProject (map-side local top-k, one tiny reduce, the
    docs table never shuffles). est_w = max(w, tau) is the
    priority-sampling Horvitz-Thompson weight (tau = the 101st
    priority), unbiased for subset sums — replayed exactly by the
    twin."""
    from optimizing_spark.operators.sampling import weighted_sample

    d = D.load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(
        d, "n_chars", "doc_id", k=100, with_estimator=True
    ).select("doc_id", "n_chars", "priority", "est_w")


def q_multi_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 multi-assign: one row per (object, overlapped depth-6 grid
    cell) — the duplicate-to-all-children mode."""
    from optimizing_spark.operators.tiling import explode_covering_cells

    o = _objects_boxes(spark, sf_dir)
    return explode_covering_cells(o, POW2_WORLD_2D, depth=6) \
        .select("obj_id", "cell_x", "cell_y")


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/JSON functions: extract props.k per event, aggregate."""
    ev = D.load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"))


def q_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions: monthly order rollup with cent-exact sums."""
    o = D.load(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz").alias("month_start"),
        "o_orderstatus",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sum_total_c"))


def q_snapshot_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12/O13 + O32 at table scope, through the REAL snapshot layer
    (plans/snapshots): commit nation as version 1, delete even keys as
    version 2 (anti-join materialized as an overwrite commit), then
    read BOTH versions by time travel — deleted rows must remain
    visible at version 1 and gone at version 2. The oracle is plain
    SQL because the version states are pure functions of the input:
    v1 = nation, v2 = odd keys only."""
    import shutil
    import tempfile

    from optimizing_spark.plans import snapshots as SN

    # deterministic per-process root, cleared on every invocation so
    # repeated harness/driver runs don't accumulate orphan tmp dirs
    root = os.path.join(tempfile.gettempdir(), f"snapq_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    n = D.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("obj_id"), "n_name")
    SN.commit_snapshot(spark, n, root, "nation_t")
    dead = n.filter(F.col("obj_id") % 2 == 0).select("obj_id")
    SN.delete_commit(spark, root, "nation_t", dead)
    v1 = SN.read_snapshot(spark, root, "nation_t", version=1) \
        .withColumn("version", F.lit(1))
    v2 = SN.read_snapshot(spark, root, "nation_t", version=2) \
        .withColumn("version", F.lit(2))
    return v1.unionByName(v2).select("version", "obj_id", "n_name")


_SNAPSHOT_DELETE_SQL = """
    SELECT 1 AS version, CAST(n_nationkey AS BIGINT) AS obj_id, n_name
    FROM nation
    UNION ALL
    SELECT 2 AS version, CAST(n_nationkey AS BIGINT) AS obj_id, n_name
    FROM nation WHERE n_nationkey % 2 = 1
"""


def q_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O32 incremental scan through the REAL snapshot layer
    (plans/snapshots.read_changes): orders committed as three append
    thirds (v1 = keys%3==0, v2 += %3==1, v3 += %3==2), then an
    incremental read of everything added AFTER v1 — which must be
    exactly the %3 in {1,2} rows, scanning only the two delta dirs
    (never v1's files). This is the Iceberg-style incremental append
    scan the 100 TB consumer path depends on; the oracle is plain SQL
    because each delta is a pure function of the input."""
    import shutil
    import tempfile

    from optimizing_spark.plans import snapshots as SN

    root = os.path.join(tempfile.gettempdir(), f"snapc_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    o = D.load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("obj_id"),
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    for r in (0, 1, 2):
        SN.commit_snapshot(spark, o.filter(F.col("obj_id") % 3 == r),
                           root, "orders_t", operation="append")
    delta = SN.read_changes(spark, root, "orders_t", from_version=1)
    return delta.select("obj_id", "o_orderstatus", "cents")


_SNAPSHOT_CHANGES_SQL = """
    SELECT CAST(o_orderkey AS BIGINT) AS obj_id, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 3 <> 0
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join + window: top-3 customers by order value per
    nation (broadcast dims, cent-exact sums, key tie-breaks)."""
    o = D.load(spark, sf_dir, "orders")
    c = D.load(spark, sf_dir, "customer")
    n = D.load(spark, sf_dir, "nation")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"))
    j = rev.join(c, rev.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey)
    w = Window.partitionBy("n_nationkey").orderBy(
        F.col("rev_c").desc(), F.col("c_custkey"))
    return j.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3) \
        .select("n_name", F.col("c_custkey").alias("custkey"), "rev_c", "rk")


def q_docs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule pipeline, oracle-exact end to end: driver documents
    -> interleaved spans (input_hint shape) -> md5-geocode
    (portability twin of the xxhash64 hot path) -> pow-2 quadtree tile
    -> per-cell histogram. The xxhash64/datagen variant of the same
    pipeline stays exercised in tests + bench."""
    from optimizing_spark.functions.geocode import geocode

    docs = D.load(spark, sf_dir, "documents")
    g = geocode(D.docs_with_spans(docs), how="oracle")
    t = C.assign_quadtree_pow2(g, max_node_depth=_MAX_ND)
    return t.groupBy("qt_depth", "qt_code").agg(F.count("*").alias("n_docs"))


def _qt_rollup_sql(depth: int = 6) -> str:
    """DuckDB twin of q_qt_rollup: base agg at the finest depth, then
    one UNION ALL re-aggregation per coarser level (code >> 2*delta)."""
    base_cell = D.morton2d_sql("(ix >> 10)", "(iy >> 10)")
    levels = [f"""
        SELECT CAST({depth} AS INTEGER) AS depth, code, n, sum_qty,
               sum_weight_c
        FROM base"""]
    for d in range(depth - 1, -1, -1):
        sh = 2 * (depth - d)
        levels.append(f"""
        SELECT CAST({d} AS INTEGER) AS depth, code >> {sh} AS code,
               CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(sum_qty) AS BIGINT) AS sum_qty,
               CAST(sum(sum_weight_c) AS BIGINT) AS sum_weight_c
        FROM base GROUP BY code >> {sh}""")
    u = " UNION ALL ".join(levels)
    return f"""
        WITH objs AS ({D.SQL_OBJECTS}), base AS (
            SELECT {base_cell} AS code, count(*) AS n,
                   CAST(sum(qty) AS BIGINT) AS sum_qty,
                   CAST(sum(weight_c) AS BIGINT) AS sum_weight_c
            FROM objs GROUP BY 1
        )
        {u}
    """


_SQL_UNIFORM_HASH = (
    "CAST(('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 15)) AS BIGINT)")


def _docs_pipeline_sql() -> str:
    from optimizing_spark.functions.geocode import geocode_oracle_sql

    g = geocode_oracle_sql("c")
    return f"""
        WITH objs AS (
            SELECT doc_id AS obj_id,
                   {g['ix']} AS ix, {g['iy']} AS iy,
                   {g['sx']} AS sx, {g['sy']} AS sy
            FROM (SELECT doc_id, {D.SQL_DOCS_CANON} AS c FROM documents)
        ), tiled AS ({_SQL_QT_TILED})
        SELECT qt_depth, qt_code, count(*) AS n_docs
        FROM tiled GROUP BY qt_depth, qt_code
    """


def q_hist_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance through the REAL snapshot layer:
    driver documents committed as three append thirds; the per-cell
    histogram is refreshed after the first commit (full build) and
    after the tip (incremental: tiles ONLY the two appended deltas via
    read_changes and merges counts). The final maintained histogram
    must equal tiling the whole table — same oracle SQL as
    q_docs_pipeline."""
    import shutil
    import tempfile

    from optimizing_spark.plans import pipeline as P
    from optimizing_spark.plans import snapshots as SN

    root = os.path.join(tempfile.gettempdir(), f"histr_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    spans = D.docs_with_spans(D.load(spark, sf_dir, "documents")) \
        .select("doc_id", "spans")
    third = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(3))
    SN.commit_snapshot(spark, spans.filter(third == 0), root, "docs_t")
    P.refresh_cell_histogram(spark, root, "docs_t", "hist_t", how="oracle",
                             max_node_depth=_MAX_ND)
    SN.commit_snapshot(spark, spans.filter(third == 1), root, "docs_t")
    SN.commit_snapshot(spark, spans.filter(third == 2), root, "docs_t")
    info = P.refresh_cell_histogram(spark, root, "docs_t", "hist_t",
                                    how="oracle", max_node_depth=_MAX_ND)
    assert info.meta["mode"] == "incremental", info.meta
    return SN.read_snapshot(spark, root, "hist_t") \
        .select("qt_depth", "qt_code", "n_docs")


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tile + range join + per-query hit counts at sf0.001."""
    sf = "/root/testdata/sf0.001"
    o = _objects_boxes(spark, sf)
    q = _query_boxes_named(spark, sf)
    hits = J.range_join(o, q, POW2_WORLD_2D, depth=6, convention="rect")
    return hits.groupBy("query_id").agg(F.count("*").alias("n"))


def _hll_sql(metric: str, day_sql: str, key_sql: str) -> str:
    """DuckDB twin of one q_hll metric: rebuilds the HLL registers
    from the portable md5 uniform with exact integer arithmetic
    (term = 1 << length(bin(min_w)) — see functions/sketches.py) and
    mirrors the estimator's branch + expression order; round-6
    absorbs the one libm ln in the linear-counting branch."""
    from optimizing_spark.functions import sketches as SK

    m, p = SK.HLL_M, SK.HLL_P
    return f"""
      SELECT '{metric}' AS metric, c.day AS day, c.n_exact AS n_exact,
             round(x.est, 6) AS hll_distinct
      FROM (
        SELECT {day_sql} AS day,
               CAST(count(DISTINCT {key_sql}) AS BIGINT) AS n_exact
        FROM events GROUP BY 1
      ) c
      JOIN (
        SELECT day,
               CASE WHEN e_raw <= {SK._LC_BOUND!r} AND v > 0
                    THEN {float(m)!r} * ln({float(m)!r} / CAST(v AS DOUBLE))
                    ELSE e_raw END AS est
        FROM (
          SELECT day,
                 {SK.HLL_EST_NUM!r}
                   / CAST(sp + (({m} - np) * {1 << SK.RHO_MAX}) AS DOUBLE)
                   AS e_raw,
                 {m} - np AS v
          FROM (
            SELECT day, CAST(count(*) AS BIGINT) AS np,
                   CAST(sum(CASE WHEN mw = 0 THEN 1
                            ELSE (CAST(1 AS BIGINT) << length(bin(mw)))
                            END) AS BIGINT) AS sp
            FROM (
              SELECT day, h % {m} AS j, min(h >> {p}) AS mw
              FROM (
                -- NULL keys excluded like the engine's hll_registers
                -- (COUNT DISTINCT semantics; no phantom register row)
                SELECT {day_sql} AS day,
                       CAST(('0x'||substr(md5(CAST({key_sql} AS VARCHAR)),1,15))
                            AS BIGINT) AS h
                FROM events WHERE {key_sql} IS NOT NULL
              ) GROUP BY day, h % {m}
            ) GROUP BY day
          )
        )
      ) x ON c.day = x.day
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-gated query registry.

    ORDERING MATTERS: the driver's correctness checker caps at the
    FIRST 50 keys (dict order).

    STANDING ROTATION SCHEDULE (per the round-4 verdict): every
    query is driver-gated at least once every 2 rounds.  Each round,
    queries added (or changed) that round enter the first-50 window;
    an equal number of long-stable basics — driver-green in at least
    two prior rounds — rotate to the tail.  Tail queries remain
    harness-verified every round via
    `python tests/compare_harness.py /root/testdata/sf0.01`.

    Round-5 rotation: the 7 round-4 additions (q_bloom_prune,
    q_pip_concave, q_hex_counts, q_hex_ring, q_seg_join, q_poly_poly,
    q_dist_join) enter the gate window; 7 long-stable basics
    (q_agg_wide, q_spans, q_sessionize, q_hourly_events,
    q_json_extract, q_monthly_orders, q_sample — each driver-green in
    rounds 1-4) rotate to the tail.  The round-5 addition q_idw (IDW
    interpolation) also enters the window on arrival, rotating
    q_top_customers (driver-green rounds 1-4) to the tail.  The
    round-5 additions q_hull and q_diameter (convex hull family)
    likewise enter on arrival, rotating q_cell_quantiles and
    q_repetition (both driver-green rounds 3-4) to the tail; so does
    q_skyline (Pareto frontier), rotating q_focal (driver-green
    rounds 3-4; the raster family keeps q_raster in the window), and
    q_closest (closest pair), rotating q_dbscan (driver-green rounds
    3-4; its grid-density + CC machinery stays pytest- and
    harness-gated), and q_poly_stats (shoelace), rotating q_hll
    (driver-green rounds 3-4; the sketch family keeps q_cms_tokens
    and q_bloom_prune in the window), q_hilbert (Hilbert curve),
    rotating q_embed_neardup (the O(N^2) all-pairs exact control,
    driver-green rounds 1-4; the ANN family keeps q_embed_neardup_lsh
    and the three q_embed_topk variants in the window), and q_kde
    (Epanechnikov heatmap), rotating q_stratified (driver-green
    rounds 3-4; q_sample keeps the sampling family harness-covered),
    and q_wsample (priority-sampling weighted sample), rotating
    q_cell_counts (driver-green rounds 1-4; the cell-count family
    keeps q_hex_counts and q_qt_rollup in the window), and q_moran
    (Moran/Geary spatial autocorrelation), rotating q_zonal
    (driver-green rounds 3-4; the polygon-join+agg composition stays
    pytest- and harness-gated), and q_peak (sweep-line peak
    concurrency), rotating q_ring_count (driver-green rounds 1-4; the
    ring family keeps q_hex_ring in the window), and q_gistar
    (Getis-Ord Gi* hot spots), rotating q_topk_per_cell (driver-green
    rounds 1-4; the window/top-k family keeps q_knn and q_wsample in
    the window), and q_simplify (Douglas-Peucker trajectory
    thinning), rotating q_oct_assign (driver-green rounds 1-4; the
    octree family keeps q_oct_capacity in the window), and q_ripley
    (Ripley K / nearest-neighbour G point-pattern statistics),
    rotating q_pip_poly (convex PIP, driver-green rounds 1-4; the PIP
    family keeps q_pip_join and q_pip_concave in the window), and
    q_trips (gap-based trip segmentation), rotating q_nearest
    (driver-green rounds 1-4; the O22 nearest-hit argmin stays
    driver-exercised inside all three path-tracer chain queries), and
    q_seg_seg (segment-segment crossing join), rotating q_embed_topk
    (plain LSH top-k, driver-green rounds 1-4; the ANN family keeps
    q_embed_topk_ivf, q_embed_topk_pq and q_embed_neardup_lsh in the
    window), and q_od (origin-destination flow matrix), rotating
    q_minhash (driver-green rounds 1-4; the minhash-LSH family keeps
    q_lsh_pairs, q_dedup_cc and q_curate in the window), and
    q_visibility (line-of-sight join), rotating q_lsh_pairs
    (driver-green rounds 1-4; LSH pair generation stays
    driver-exercised inside q_dedup_cc and q_curate, which run the
    same pipeline).  The final round-5 additions q_st_pairs
    (spatio-temporal pair join), q_snap (map-matching snap join) and
    q_union_area (Klee's measure) enter the window on arrival,
    rotating q_multi_assign (driver-green r4; O9 candidate generation
    stays driver-exercised inside q_range_join and q_union_area's
    covering-cell explode), q_snapshot_delete (driver-green r4; the
    O32 snapshot family keeps q_snapshot_changes and q_hist_refresh
    in the window) and q_top_tokens (driver-green r4; the heavy-hitter
    family keeps q_tfidf and q_cms_tokens in the window) to the tail;
    likewise q_coverage (interval union) enters for q_asof
    (driver-green r4; the temporal family keeps q_interval, q_peak
    and q_coverage itself in the window), q_contour (raster ->
    vector boundary) enters for q_tfidf (driver-green r4; the token
    family keeps q_cms_tokens and q_curate in the window), and q_cube
    (space-time grouping-sets cube) enters for q_cms_tokens
    (driver-green r4; the sketch family keeps q_bloom_prune in the
    window, and q_curate keeps the token pipeline driver-exercised),
    and q_distfield (geodesic distance transform) enters for
    q_qt_rollup (driver-green r4; the rollup surface keeps q_cube's
    grouping sets in the window, the pyramid stays pytest- and
    harness-gated), and q_valid (polygon validity + orientation)
    enters for q_interval (driver-green r4; the temporal family keeps
    q_coverage and q_peak in the window, the interval join stays
    pytest- and harness-gated).
    Round-6 rotation: q_quadkey (Bing quadkey strings, never yet
    driver-gated) enters the window, rotating q_mirror_depth5
    (driver-green rounds 3-5; the path-tracer family keeps
    q_diffuse_bounce and q_refract_chain in the window).
    Round-4 history: the 17
    previously-ungated queries (q_interval ... q_hist_refresh)
    entered the window and went driver-green; 17 round-1-3 basics
    (q_extract ... q_ngram_jaccard) rotated to the tail.
    """
    return {
        # --- gate window (first 50) ---
        "q_qt_assign": q_qt_assign,
        "q_pip_join": q_pip_join,
        "q_range_join": q_range_join,
        "q_knn": q_knn,
        "q_raster": q_raster,
        "q_oct_capacity": q_oct_capacity,
        "q_quadkey": q_quadkey,
        "q_diffuse_bounce": q_diffuse_bounce,
        "q_refract_chain": q_refract_chain,
        "q_curate": q_curate,
        "q_dedup_cc": q_dedup_cc,
        "q_embed_topk_ivf": q_embed_topk_ivf,
        "q_embed_topk_pq": q_embed_topk_pq,
        "q_embed_neardup_lsh": q_embed_neardup_lsh,
        "q_snapshot_changes": q_snapshot_changes,
        "q_docs_pipeline": q_docs_pipeline,
        "q_hist_refresh": q_hist_refresh,
        # --- round-4 additions (round-5 rotation: now driver-gated) ---
        "q_bloom_prune": q_bloom_prune,
        "q_pip_concave": q_pip_concave,
        "q_hex_counts": q_hex_counts,
        "q_hex_ring": q_hex_ring,
        "q_seg_join": q_seg_join,
        "q_poly_poly": q_poly_poly,
        "q_dist_join": q_dist_join,
        # --- round-5 additions (enter the window on arrival; one more
        #     long-stable basic each rotates to the tail) ---
        "q_idw": q_idw,
        "q_hull": q_hull,
        "q_diameter": q_diameter,
        "q_skyline": q_skyline,
        "q_closest": q_closest,
        "q_poly_stats": q_poly_stats,
        "q_valid": q_valid,
        "q_distfield": q_distfield,
        "q_cube": q_cube,
        "q_contour": q_contour,
        "q_coverage": q_coverage,
        "q_st_pairs": q_st_pairs,
        "q_snap": q_snap,
        "q_union_area": q_union_area,
        "q_hilbert": q_hilbert,
        "q_kde": q_kde,
        "q_wsample": q_wsample,
        "q_moran": q_moran,
        "q_peak": q_peak,
        "q_gistar": q_gistar,
        "q_simplify": q_simplify,
        "q_ripley": q_ripley,
        "q_trips": q_trips,
        "q_seg_seg": q_seg_seg,
        "q_od": q_od,
        "q_visibility": q_visibility,
        # --- tail (past the driver's 50-row window; harness-verified,
        #     driver-green in >= 2 prior rounds) ---
        "q_nearest": q_nearest,
        "q_mirror_depth5": q_mirror_depth5,
        "q_minhash": q_minhash,
        "q_lsh_pairs": q_lsh_pairs,
        "q_embed_topk": q_embed_topk,
        "q_oct_assign": q_oct_assign,
        "q_pip_poly": q_pip_poly,
        "q_topk_per_cell": q_topk_per_cell,
        "q_ring_count": q_ring_count,
        "q_zonal": q_zonal,
        "q_cell_counts": q_cell_counts,
        "q_stratified": q_stratified,
        "q_embed_neardup": q_embed_neardup,
        "q_hll": q_hll,
        "q_dbscan": q_dbscan,
        "q_focal": q_focal,
        "q_cell_quantiles": q_cell_quantiles,
        "q_repetition": q_repetition,
        "q_top_customers": q_top_customers,
        "q_agg_wide": q_agg_wide,
        "q_spans": q_spans,
        "q_sessionize": q_sessionize,
        "q_hourly_events": q_hourly_events,
        "q_json_extract": q_json_extract,
        "q_monthly_orders": q_monthly_orders,
        "q_sample": q_sample,
        "q_multi_assign": q_multi_assign,
        "q_snapshot_delete": q_snapshot_delete,
        "q_top_tokens": q_top_tokens,
        "q_asof": q_asof,
        "q_tfidf": q_tfidf,
        "q_cms_tokens": q_cms_tokens,
        "q_qt_rollup": q_qt_rollup,
        "q_interval": q_interval,
        "q_morton": q_morton,
        "q_linear_control": q_linear_control,
        "q_remove": q_remove,
        "q_relocate": q_relocate,
        "q_extract": q_extract,
        "q_rebuild": q_rebuild,
        "q_tonemap": q_tonemap,
        "q_ray_box": q_ray_box,
        "q_ray_circle": q_ray_circle,
        "q_mirror_bounce": q_mirror_bounce,
        "q_token_count": q_token_count,
        "q_quality": q_quality,
        "q_lang_guess": q_lang_guess,
        "q_fingerprint": q_fingerprint,
        "q_exact_dedup": q_exact_dedup,
        "q_simhash": q_simhash,
        "q_ngram_jaccard": q_ngram_jaccard,
    }


def _hilbert_oracle_sql(objs: str) -> str:
    """q_hilbert's DuckDB twin: the generated 16-step branch-free CTE
    chain (cells.hilbert2d_sql) — same BIGINT arithmetic as the Spark
    projection chain, so codes match bit-for-bit."""
    chain, fin, col = C.hilbert2d_sql("ix", "iy", "objs")
    return f"""
        WITH objs AS ({objs}),
        {chain}
        SELECT obj_id, {col} AS h FROM {fin}
    """


def oracle_sql() -> dict[str, str]:
    objs = D.SQL_OBJECTS
    qb = D.SQL_QUERY_BOXES
    pts = D.SQL_POINTS
    knnq = D.SQL_KNN_QUERIES
    tiled = f"WITH objs AS ({objs}), tiled AS ({_SQL_QT_TILED})"

    return {
        "q_cell_counts": f"""
            {tiled}
            SELECT qt_depth, qt_code, count(*) AS n FROM tiled
            GROUP BY qt_depth, qt_code
        """,
        "q_cell_quantiles": f"""
            {tiled}
            SELECT qt_depth, qt_code, count(*) AS n,
                   min(ix) AS min_ix, max(ix) AS max_ix,
                   quantile_cont(ix, 0.25) AS p25_ix,
                   quantile_cont(ix, 0.5) AS p50_ix,
                   quantile_cont(ix, 0.75) AS p75_ix
            FROM tiled GROUP BY qt_depth, qt_code
        """,
        "q_morton": f"""
            WITH objs AS ({objs})
            SELECT obj_id, {D.morton2d_sql('ix', 'iy')} AS m FROM objs
        """,
        "q_hilbert": _hilbert_oracle_sql(objs),
        "q_qt_assign": f"""
            {tiled}
            SELECT obj_id, qt_depth, qt_code FROM tiled
        """,
        "q_pip_join": f"""
            WITH pts AS ({pts}), qb AS ({qb})
            SELECT qb.query_id, pts.point_id
            FROM qb JOIN pts
              ON pts.px >= qb.q_min_x AND pts.px <= qb.q_max_x
             AND pts.py >= qb.q_min_y AND pts.py <= qb.q_max_y
        """,
        "q_pip_poly": _PIP_POLY_SQL,
        "q_zonal": f"""
            WITH hits AS ({_ZONAL_HITS_SQL}),
            stats AS (
                SELECT query_id, CAST(count(*) AS BIGINT) AS n_pts,
                       CAST(sum(x) AS BIGINT) AS sum_x,
                       CAST(sum(y) AS BIGINT) AS sum_y,
                       min(x) AS min_x, max(y) AS max_y
                FROM hits GROUP BY query_id
            )
            SELECT CAST(s.s_suppkey AS BIGINT) AS query_id,
                   coalesce(st.n_pts, 0) AS n_pts,
                   coalesce(st.sum_x, 0) AS sum_x,
                   coalesce(st.sum_y, 0) AS sum_y,
                   coalesce(st.min_x, -1) AS min_x,
                   coalesce(st.max_y, -1) AS max_y
            FROM supplier s
            LEFT JOIN stats st ON st.query_id = CAST(s.s_suppkey AS BIGINT)
        """,
        "q_focal": _FOCAL_SQL.format(pts=D.SQL_POINTS),
        "q_kde": R.kde_grid_sql(D.SQL_POINTS, depth=5, radius=3000,
                                x="px", y="py"),
        "q_simplify": TRJ.simplify_sql(
            """SELECT CAST(c_custkey AS BIGINT) % 50 AS traj_id,
                      CAST(c_custkey AS BIGINT) // 50 AS seq,
                      100 * (CAST(c_custkey AS BIGINT) // 50)
                        + (CAST(c_custkey AS BIGINT) * 48271) % 41 AS x,
                      50 * (CAST(c_custkey AS BIGINT) // 50)
                        + (CAST(c_custkey AS BIGINT) * 69621) % 41 AS y
               FROM customer""",
            eps=12),
        # DuckDB 1.0.0 IEJoin ON-clause limitation (see q_seg_join):
        # bbox bounds materialize as plain columns; x2 >= x1 by
        # construction (x2 = x1 + 37*sx, sx >= 1), y needs the CASE
        "q_seg_seg": f"""
            WITH segs AS ({D.SQL_SEGMENTS}),
            a AS (
                SELECT seg_id AS a_id, x1 AS ax1, y1 AS ay1,
                       x2 AS ax2, y2 AS ay2,
                       x1 AS aminx, x2 AS amaxx,
                       CASE WHEN y1 <= y2 THEN y1 ELSE y2 END AS aminy,
                       CASE WHEN y1 <= y2 THEN y2 ELSE y1 END AS amaxy
                FROM segs WHERE seg_id % 20 = 2
            ),
            b AS (
                SELECT seg_id AS b_id, x1 AS bx1, y1 AS by1,
                       x2 AS bx2, y2 AS by2,
                       x1 AS bminx, x2 AS bmaxx,
                       CASE WHEN y1 <= y2 THEN y1 ELSE y2 END AS bminy,
                       CASE WHEN y1 <= y2 THEN y2 ELSE y1 END AS bmaxy
                FROM segs WHERE seg_id % 20 = 11
            )
            -- straddles written inline WITHOUT the seg_pair_sql
            -- LEAST/GREATEST bbox term: DuckDB 1.0.0 also hits the
            -- flat-vector internal error on LEAST/GREATEST fed by
            -- IEJoin output, and the bbox is already enforced by the
            -- materialized min/max columns above
            SELECT a_id, b_id FROM a JOIN b
              ON aminx <= bmaxx AND amaxx >= bminx
            WHERE aminy <= bmaxy AND amaxy >= bminy
              AND {D.seg_straddle_sql(("ax1", "ay1"), ("ax2", "ay2"),
                                      ("bx1", "by1"), ("bx2", "by2"))}
        """,
        "q_trips": TRJ.segment_trips_sql(
            """SELECT CAST(c_custkey AS BIGINT) % 50 AS traj_id,
                      CAST(c_custkey AS BIGINT) // 50 AS seq,
                      100 * (CAST(c_custkey AS BIGINT) // 50)
                        + (CAST(c_custkey AS BIGINT) * 48271) % 41
                        + 40000 * ((CAST(c_custkey AS BIGINT) // 50) // 13)
                        AS x,
                      50 * (CAST(c_custkey AS BIGINT) // 50)
                        + (CAST(c_custkey AS BIGINT) * 69621) % 41 AS y
               FROM customer""",
            gap=1000),
        "q_visibility": f"""
            WITH pts AS (
                SELECT point_id, px % 8192 AS x, py % 8192 AS y
                FROM ({D.SQL_POINTS}) p0
            ),
            sights AS (
                SELECT a.point_id AS id_a, b.point_id AS id_b,
                       a.x AS ax1, a.y AS ay1, b.x AS ax2, b.y AS ay2
                FROM pts a JOIN pts b
                  ON a.point_id < b.point_id
                 AND abs(a.x - b.x) <= 400 AND abs(a.y - b.y) <= 400
                 AND (a.x - b.x) * (a.x - b.x)
                     + (a.y - b.y) * (a.y - b.y) <= 160000
            ),
            w AS ({D.SQL_WALLS})
            SELECT id_a, id_b FROM sights s
            WHERE NOT EXISTS (
                SELECT 1 FROM w
                WHERE {D.seg_pair_sql(("s.ax1", "s.ay1"),
                                      ("s.ax2", "s.ay2"),
                                      ("w.bx1", "w.by1"),
                                      ("w.bx2", "w.by2"))}
            )
        """,
        "q_od": TRJ.od_sql(
            """SELECT CAST(c_custkey AS BIGINT) % 50 AS traj_id,
                      CAST(c_custkey AS BIGINT) // 50 AS seq,
                      100 * (CAST(c_custkey AS BIGINT) // 50)
                        + (CAST(c_custkey AS BIGINT) * 48271) % 41
                        + 40000 * ((CAST(c_custkey AS BIGINT) // 50) // 13)
                        AS x,
                      50 * (CAST(c_custkey AS BIGINT) // 50)
                        + (CAST(c_custkey AS BIGINT) * 69621) % 41 AS y
               FROM customer""",
            gap=1000, cell_shift=11),
        "q_gistar": AC.getis_ord_gstar_sql(
            f"SELECT px >> 11 AS cx, py >> 11 AS cy, "
            f"CAST(count(*) AS BIGINT) AS n FROM ({D.SQL_POINTS}) pts "
            f"GROUP BY px >> 11, py >> 11"),
        "q_peak": T.peak_concurrency_sql(
            """SELECT user_id,
                      date_diff('microsecond', TIMESTAMP '1970-01-01',
                                ts) AS t0,
                      date_diff('microsecond', TIMESTAMP '1970-01-01',
                                ts)
                        + (event_id % 541 + 60) * 1000000 AS t1
               FROM events WHERE event_type = 'click'""",
            on="user_id"),
        "q_moran": AC.spatial_autocorr_sql(
            f"SELECT px >> 11 AS cx, py >> 11 AS cy, "
            f"CAST(count(*) AS BIGINT) AS n FROM ({D.SQL_POINTS}) pts "
            f"GROUP BY px >> 11, py >> 11"),
        "q_ripley": PP.point_pattern_sql(
            f"SELECT point_id, px AS x, py AS y FROM ({D.SQL_POINTS}) p",
            radii=_RIPLEY_RADII, world=POW2_WORLD_2D),
        # priority sampling: the integer hash + ONE IEEE division makes
        # the priority bit-identical in both engines (no libm bridge);
        # tau = the 101st priority, est_w = max(w, tau)
        "q_wsample": """
            WITH pri AS (
                SELECT doc_id, n_chars,
                       (CAST(n_chars AS DOUBLE)
                        * CAST(1152921504606846976 AS DOUBLE)) /
                       CAST(CAST(('0x' || substr(md5('ws:' ||
                            CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                            + 1 AS DOUBLE) AS priority
                FROM documents
            ), top AS (
                SELECT * FROM pri ORDER BY priority DESC, doc_id LIMIT 101
            ), tau AS (
                SELECT CASE WHEN count(*) > 100 THEN min(priority)
                            ELSE 0.0 END AS tau FROM top
            )
            SELECT doc_id, n_chars, priority,
                   GREATEST(CAST(n_chars AS DOUBLE), tau.tau) AS est_w
            FROM (SELECT * FROM top
                  ORDER BY priority DESC, doc_id LIMIT 100) s, tau
        """,
        "q_dbscan": _DBSCAN_SQL.format(
            pts=D.SQL_POINTS,
            shift=16 - _DBSCAN_DEPTH,
            side=1 << _DBSCAN_DEPTH,
        ),
        "q_range_join": _SQL_RANGE_PAIRS,
        "q_linear_control": _SQL_RANGE_PAIRS,
        "q_knn": f"""
            WITH objs AS ({objs}), kq AS ({knnq}), d AS (
                SELECT kq.query_id, objs.obj_id,
                       (objs.ix - kq.qx) * (objs.ix - kq.qx)
                       + (objs.iy - kq.qy) * (objs.iy - kq.qy) AS d2
                FROM kq CROSS JOIN objs
            ), r AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY d2, obj_id) AS rank
                FROM d
            )
            SELECT query_id, obj_id, d2, CAST(rank AS INTEGER) AS rank
            FROM r WHERE rank <= 5
        """,
        "q_nearest": f"""
            WITH pts AS ({pts}), kq AS ({knnq}), d AS (
                SELECT kq.query_id, pts.point_id AS obj_id,
                       (pts.px - kq.qx) * (pts.px - kq.qx)
                       + (pts.py - kq.qy) * (pts.py - kq.qy) AS d2
                FROM kq CROSS JOIN pts
            ), r AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY d2, obj_id) AS rk
                FROM d
            )
            SELECT query_id, obj_id, d2 FROM r WHERE rk = 1
        """,
        "q_ring_count": f"""
            WITH objs AS ({objs}), kq AS ({knnq})
            SELECT kq.query_id, count(*) AS n
            FROM kq JOIN objs
              ON abs((objs.ix >> 10) - (kq.qx >> 10)) <= 1
             AND abs((objs.iy >> 10) - (kq.qy >> 10)) <= 1
            GROUP BY kq.query_id
        """,
        "q_remove": f"""
            WITH objs AS ({objs})
            SELECT obj_id, ix, iy FROM objs WHERE obj_id % 7 <> 0
        """,
        "q_relocate": f"""
            WITH objs0 AS ({objs}), objs AS (
                SELECT obj_id,
                       CASE WHEN obj_id % 5 = 0 THEN (ix + 3000) % {E} ELSE ix END AS ix,
                       iy, sx, sy, weight_c, qty
                FROM objs0
            ), tiled AS ({_SQL_QT_TILED})
            SELECT obj_id, qt_depth, qt_code FROM tiled
        """,
        "q_raster": f"""
            WITH objs AS ({objs})
            SELECT ix >> 9 AS tile_x, iy >> 9 AS tile_y,
                   CAST(sum(qty) AS BIGINT) AS sum_qty, count(*) AS n,
                   CAST(sum(weight_c) AS DOUBLE) / count(*) AS avg_weight_c
            FROM objs GROUP BY tile_x, tile_y
        """,
        "q_tonemap": f"""
            WITH objs AS ({objs}), t AS (
                SELECT ix >> 9 AS tile_x, iy >> 9 AS tile_y,
                       CAST(sum(weight_c) AS DOUBLE) / count(*) AS avg_weight_c
                FROM objs GROUP BY tile_x, tile_y
            ), mx AS (SELECT max(avg_weight_c) AS m FROM t)
            SELECT tile_x, tile_y,
                   CAST(floor(pow(least(greatest(avg_weight_c / mx.m, 0.0), 1.0),
                                  1.0 / 2.2) * 255 + 0.5) AS BIGINT) AS tone
            FROM t, mx
        """,
        "q_topk_per_cell": f"""
            WITH objs AS ({objs}), r AS (
                SELECT ix >> 12 AS cell_x, iy >> 12 AS cell_y, obj_id, weight_c,
                       row_number() OVER (PARTITION BY ix >> 12, iy >> 12
                                          ORDER BY weight_c DESC, obj_id) AS rk
                FROM objs
            )
            SELECT cell_x, cell_y, obj_id, weight_c, CAST(rk AS INTEGER) AS rk
            FROM r WHERE rk <= 3
        """,
        "q_oct_assign": f"""
            WITH objs3 AS ({D.SQL_OBJECTS3D}), t AS (
                SELECT obj_id, {D.oct_fits_depth_sql(5)} AS oct_depth,
                       {D.morton3d_sql('ix >> 11', 'iy >> 11', 'iz >> 11')} AS m5
                FROM objs3
            )
            SELECT obj_id, oct_depth,
                   CASE oct_depth WHEN 5 THEN m5 WHEN 4 THEN m5 >> 3
                        WHEN 3 THEN m5 >> 6 WHEN 2 THEN m5 >> 9
                        WHEN 1 THEN m5 >> 12 ELSE 0 END AS oct_code
            FROM t
        """,
        "q_oct_capacity": _oct_capacity_sql(),
        "q_extract": f"WITH objs AS ({objs}) SELECT * FROM objs",
        "q_rebuild": _SQL_REBUILD.format(
            objs=D.SQL_OBJECTS,
            fits=D.qt_fits_depth_sql(_MAX_ND, world_bits=15),
            m4=D.morton2d_sql("ix >> 11", "iy >> 11")),
        "q_ray_box": _SQL_RAY_BOX.format(objs=D.SQL_OBJECTS, E=E),
        "q_ray_circle": _SQL_RAY_CIRCLE.format(objs=D.SQL_OBJECTS, E=E),
        "q_mirror_bounce": _mirror_bounce_sql(),
        "q_mirror_depth5": _mirror_depth5_sql(),
        "q_diffuse_bounce": _diffuse_bounce_sql(),
        "q_refract_chain": _refract_chain_sql(),
        "q_agg_wide": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q_multi_assign": f"""
            WITH objs AS ({D.SQL_OBJECTS})
            SELECT obj_id, CAST(cx.g AS INTEGER) AS cell_x, CAST(cy.g AS INTEGER) AS cell_y
            FROM (
                SELECT obj_id,
                       greatest(0, least(63, CAST(floor(ix / 1024.0) AS BIGINT))) AS gx0,
                       greatest(0, least(63, CAST(floor((ix + sx) / 1024.0) AS BIGINT))) AS gx1,
                       greatest(0, least(63, CAST(floor(iy / 1024.0) AS BIGINT))) AS gy0,
                       greatest(0, least(63, CAST(floor((iy + sy) / 1024.0) AS BIGINT))) AS gy1
                FROM objs
            ), unnest(generate_series(gx0, gx1)) AS cx(g),
               unnest(generate_series(gy0, gy1)) AS cy(g)
        """,
        "q_json_extract": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type
        """,
        "q_monthly_orders": """
            SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
                   o_orderstatus, count(*) AS n,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_total_c
            FROM orders GROUP BY month_start, o_orderstatus
        """,
        "q_snapshot_delete": _SNAPSHOT_DELETE_SQL,
        "q_snapshot_changes": _SNAPSHOT_CHANGES_SQL,
        "q_top_customers": """
            WITH rev AS (
                SELECT o_custkey,
                       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
                FROM orders GROUP BY o_custkey
            ), r AS (
                SELECT n.n_name, c.c_custkey AS custkey, rev.rev_c,
                       row_number() OVER (PARTITION BY n.n_nationkey
                                          ORDER BY rev.rev_c DESC, c.c_custkey) AS rk
                FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
                         JOIN nation n ON c.c_nationkey = n.n_nationkey
            )
            SELECT n_name, custkey, rev_c, CAST(rk AS INTEGER) AS rk
            FROM r WHERE rk <= 3
        """,
        **_text_oracles(),
    }


def _text_oracles() -> dict[str, str]:
    toks = OT.TOKS
    h60 = OT.H60
    sh3 = OT.shingles_inline(3)

    # banded LSH pairs: 4 bands of 4 signature slots
    sig_entries = OT.minhash_exprs(16)
    band_exprs = []
    for b in range(4):
        band_exprs.append(
            f"{{'band': {b}, 'h': {OT.band_hash_expr([f'sig[{4 * b + j + 1}]' for j in range(4)])}}}"
        )
    lsh_pairs_sql = f"""
        WITH sigs AS (
            SELECT doc_id, [{', '.join(sig_entries)}] AS sig FROM documents
        ), bands AS (
            -- zero-shingle docs (all-sentinel signature) are excluded
            -- from banding, mirroring the engine (dedup.minhash_lsh_pairs)
            SELECT doc_id, s.band AS band, s.h AS h
            FROM (SELECT doc_id, unnest([{', '.join(band_exprs)}]) AS s FROM sigs
                  WHERE sig[1] < 2147483647)
        ), cand AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y ON x.band = y.band AND x.h = y.h
            WHERE x.doc_id < y.doc_id
        ), sh AS (
            SELECT doc_id, unnest(list_distinct({sh3})) AS s FROM documents
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT c.a, c.b, count(*) AS inter
            FROM cand c JOIN sh sa ON sa.doc_id = c.a
                        JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s
            GROUP BY c.a, c.b
        ), full_p AS (
            SELECT c.a, c.b, coalesce(i.inter, 0) AS inter,
                   coalesce(za.n, 0) + coalesce(zb.n, 0) - coalesce(i.inter, 0) AS uni
            FROM cand c
            LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
            LEFT JOIN sizes za ON za.doc_id = c.a
            LEFT JOIN sizes zb ON zb.doc_id = c.b
        )
        SELECT a, b, inter, uni FROM full_p WHERE inter * 10 >= uni * 8
    """

    # transitive closure of the SAME pair query: label every doc with the
    # min doc_id reachable through the pair graph (recursive CTE; UNION
    # dedups rows so the recursion terminates at the closure fixpoint)
    dedup_cc_sql = f"""
        WITH RECURSIVE pairs AS MATERIALIZED ({lsh_pairs_sql}),
        edges AS MATERIALIZED (
            -- MATERIALIZED: DuckDB otherwise inlines these CTEs, which
            -- re-evaluates the whole LSH pipeline at EVERY recursion
            -- step (minutes at sf0.1 instead of seconds)
            SELECT a AS u, b AS v FROM pairs
            UNION ALL SELECT b AS u, a AS v FROM pairs
        ),
        reach(node, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.u, r.lbl FROM reach r JOIN edges e ON e.v = r.node
        )
        SELECT node AS doc_id, min(lbl) AS cluster_id
        FROM reach GROUP BY node
    """

    ngram_sql = f"""
        WITH pairs AS (
            SELECT d1.doc_id AS a, d1.doc_id + 1 AS b FROM documents d1
            JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        ), sh AS (
            SELECT doc_id, unnest(list_distinct({sh3})) AS s FROM documents
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT p.a, p.b, count(*) AS inter
            FROM pairs p JOIN sh sa ON sa.doc_id = p.a
                         JOIN sh sb ON sb.doc_id = p.b AND sb.s = sa.s
            GROUP BY p.a, p.b
        )
        SELECT p.a, p.b, coalesce(i.inter, 0) AS inter,
               coalesce(za.n, 0) + coalesce(zb.n, 0) - coalesce(i.inter, 0) AS uni
        FROM pairs p
        LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
        LEFT JOIN sizes za ON za.doc_id = p.a
        LEFT JOIN sizes zb ON zb.doc_id = p.b
    """

    sh2 = OT.shingles_inline(2)
    repetition_sql = f"""
        WITH grams AS (
            SELECT doc_id, unnest({sh2}) AS g FROM documents
        ), per AS (
            SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
        ), stats AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                   CAST(max(c) AS BIGINT) AS top_gram_n,
                   CAST(coalesce(sum(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT) AS dup_gram_n
            FROM per GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(s.n_grams, 0) AS n_grams,
               coalesce(s.top_gram_n, 0) AS top_gram_n,
               coalesce(s.dup_gram_n, 0) AS dup_gram_n,
               CASE WHEN coalesce(s.n_grams, 0) = 0 THEN 0.0
                    ELSE round(CAST(s.dup_gram_n AS DOUBLE) / s.n_grams, 6)
               END AS dup_frac_r6
        FROM documents d LEFT JOIN stats s USING (doc_id)
    """

    curate_sql = f"""
        WITH lang AS ({OT.lang_guess_sql()}),
        qual AS (
            SELECT doc_id, text, len({toks}) AS n_tokens,
                   CAST(len({toks}) + 2 * len(list_distinct({toks}))
                        + len(list_filter({toks}, t -> list_contains(['the','a','of','and','in','to'], t)))
                        - floor(coalesce(list_aggregate(list_transform({toks}, t -> length(t)), 'sum'), 0) / 10)
                        AS BIGINT) AS quality_score
            FROM documents
        ),
        keep AS (
            SELECT q.doc_id, q.text, q.n_tokens, q.quality_score, l.lg
            FROM qual q JOIN lang l USING (doc_id)
            WHERE q.n_tokens >= 20 AND q.quality_score >= 60 AND l.lg = 'en'
        ),
        ded AS (
            SELECT k.doc_id, k.n_tokens, k.quality_score, k.lg
            FROM keep k
            JOIN (SELECT md5(text) AS fp, min(doc_id) AS mdoc
                  FROM keep GROUP BY md5(text)) s
              ON md5(k.text) = s.fp AND k.doc_id = s.mdoc
        ),
        pairs AS MATERIALIZED ({lsh_pairs_sql})
        SELECT doc_id, n_tokens, quality_score, lg FROM ded
        WHERE doc_id NOT IN (SELECT b FROM pairs)
    """

    cos = ("round(list_dot_product(e.embedding::DOUBLE[], p.embedding::DOUBLE[]) / "
           "sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) * "
           "list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[])), 6)")
    embed_topk_sql = f"""
        WITH j AS (
            SELECT p.vec_id AS probe_id, e.vec_id AS vec_id, {cos} AS cos
            FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) p
        ), r AS (
            SELECT *, row_number() OVER (PARTITION BY probe_id
                                         ORDER BY cos DESC, vec_id) AS rank
            FROM j
        )
        SELECT probe_id, vec_id, cos, CAST(rank AS INTEGER) AS rank
        FROM r WHERE rank <= 5
    """

    cos_ab = ("round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
              "sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) * "
              "list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6)")
    neardup_sql = f"""
        SELECT a.vec_id AS a, b.vec_id AS b, {cos_ab} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {cos_ab} * 1000 >= 350
    """

    quality_sql = f"""
        SELECT doc_id,
               len({toks}) AS n_tokens,
               len(list_distinct({toks})) AS n_uniq,
               CAST(coalesce(list_aggregate(list_transform({toks}, t -> length(t)), 'sum'), 0) AS BIGINT) AS tok_chars,
               len(list_filter({toks}, t -> list_contains(['the','a','of','and','in','to'], t))) AS stop_hits,
               CAST(len({toks}) + 2 * len(list_distinct({toks}))
                    + len(list_filter({toks}, t -> list_contains(['the','a','of','and','in','to'], t)))
                    - floor(coalesce(list_aggregate(list_transform({toks}, t -> length(t)), 'sum'), 0) / 10)
                    AS BIGINT) AS quality_score
        FROM documents
    """

    fingerprint_sql = f"""
        SELECT doc_id, md5(text) AS fp_md5,
               coalesce(list_min(list_transform({sh3}, s -> {h60.format(v='s')})), -1) AS fp_shingle
        FROM documents
    """

    return {
        "q_token_count": f"SELECT doc_id, len({toks}) AS n_tokens FROM documents",
        "q_quality": quality_sql,
        "q_spans": f"""
            WITH c AS (
                SELECT doc_id, text, md5({D.SQL_DOCS_CANON}) AS canon_md5
                FROM documents
            )
            SELECT doc_id, 0 AS span_idx, 'text' AS kind,
                   text AS span_text, '' AS media_ref,
                   0 AS span_offset, canon_md5
            FROM c
            UNION ALL
            SELECT doc_id, 1, 'image', '', 'img://' || md5(text),
                   CAST(length(text) AS INTEGER), canon_md5
            FROM c
        """,
        "q_repetition": repetition_sql,
        "q_curate": curate_sql,
        "q_lang_guess": OT.lang_guess_sql(),
        "q_fingerprint": fingerprint_sql,
        "q_exact_dedup": """
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        """,
        "q_minhash": OT.minhash_rows_sql(),
        "q_simhash": OT.simhash_sql(),
        "q_bloom_prune": """
            -- rebuilds the engine's EXACT bloom bit set: position i of
            -- key k = hash60('B'||i||':'||k) % 65536 (5 hashes); a
            -- probe key passes iff all 5 of its positions are set
            WITH sk AS (
                SELECT DISTINCT o_orderkey AS kk FROM orders
                WHERE o_totalprice >= 400000
            ), hi AS (SELECT i FROM range(5) t(i)),
            spos AS (
                SELECT DISTINCT
                       CAST(('0x'||substr(md5('B'||i||':'||CAST(kk AS VARCHAR)),1,15))
                            AS BIGINT) % 65536 AS p
                FROM sk, hi
            ), bk AS (SELECT DISTINCT l_orderkey AS kk FROM lineitem),
            bpos AS (
                SELECT kk, i,
                       CAST(('0x'||substr(md5('B'||i||':'||CAST(kk AS VARCHAR)),1,15))
                            AS BIGINT) % 65536 AS p
                FROM bk, hi
            ), pass AS (
                SELECT kk FROM bpos JOIN spos USING (p)
                GROUP BY kk HAVING count(*) = 5
            )
            SELECT (SELECT count(*) FROM lineitem) AS n_big,
                   (SELECT count(*) FROM lineitem
                    WHERE l_orderkey IN (SELECT kk FROM pass)) AS n_pass,
                   (SELECT count(*) FROM lineitem
                    WHERE l_orderkey IN (SELECT kk FROM sk)) AS n_true,
                   (SELECT count(*) FROM lineitem
                    WHERE l_orderkey IN (SELECT kk FROM pass)
                      AND l_orderkey NOT IN (SELECT kk FROM sk)) AS n_false_pos
        """,
        "q_dist_join": f"""
            WITH pts AS ({D.SQL_POINTS})
            SELECT a.point_id AS id_a, b.point_id AS id_b,
                   (a.px - b.px) * (a.px - b.px)
                   + (a.py - b.py) * (a.py - b.py) AS dist2
            FROM pts a JOIN pts b
              ON b.px BETWEEN a.px - 1500 AND a.px + 1500
             AND b.py BETWEEN a.py - 1500 AND a.py + 1500
             AND a.point_id < b.point_id
            WHERE (a.px - b.px) * (a.px - b.px)
                  + (a.py - b.py) * (a.py - b.py) <= 2250000
        """,
        "q_idw": f"""
            -- quantized Shepard weights: 2^30 // (1 + d2), all BIGINT
            -- (DuckDB // truncates toward zero == floor here: every
            -- operand is non-negative)
            WITH sites AS ({D.SQL_SAMPLE_SITES}),
            qs AS ({D.SQL_SUPPLIER_QUERIES}),
            pairs AS (
                SELECT qs.query_id,
                       (1073741824 // (1 + (qs.qx - s.x) * (qs.qx - s.x)
                                         + (qs.qy - s.y) * (qs.qy - s.y))) AS w,
                       s.val
                FROM qs JOIN sites s
                  ON s.x BETWEEN qs.qx - 3000 AND qs.qx + 3000
                 AND s.y BETWEEN qs.qy - 3000 AND qs.qy + 3000
                WHERE (qs.qx - s.x) * (qs.qx - s.x)
                      + (qs.qy - s.y) * (qs.qy - s.y) <= 9000000
            )
            SELECT qs.query_id, qs.qx, qs.qy,
                   COUNT(pr.w) AS n_pts,
                   CAST(COALESCE(SUM(pr.w * pr.val), 0) AS BIGINT) AS wsum,
                   CAST(COALESCE(SUM(pr.w), 0) AS BIGINT) AS wtot,
                   CAST(CASE WHEN COALESCE(SUM(pr.w), 0) > 0
                             THEN SUM(pr.w * pr.val) // SUM(pr.w) END
                        AS BIGINT) AS idw_val
            FROM qs LEFT JOIN pairs pr ON pr.query_id = qs.query_id
            GROUP BY qs.query_id, qs.qx, qs.qy
        """,
        # Strict-hull twin: (a, b) is a CCW hull edge iff no third
        # point of the group is strictly right of the directed line
        # a->b, and no collinear third point falls outside the closed
        # segment [a, b]; the strict vertex set = DISTINCT edge
        # sources, plus groups with a single distinct point.  All
        # cross products are < 2^34 (coords < 2^17) — exact BIGINT.
        "q_hull": f"""
            WITH pts0 AS ({D.SQL_POINTS}),
            p AS (
                SELECT DISTINCT point_id % 64 AS grp, px AS x, py AS y
                FROM pts0
            ),
            verts AS (
                SELECT DISTINCT a.grp, a.x, a.y
                FROM p a JOIN p b
                  ON a.grp = b.grp AND (a.x <> b.x OR a.y <> b.y)
                WHERE NOT EXISTS (
                    SELECT 1 FROM p q
                    WHERE q.grp = a.grp
                      AND (q.x <> a.x OR q.y <> a.y)
                      AND (q.x <> b.x OR q.y <> b.y)
                      AND ((b.x - a.x) * (q.y - a.y)
                           - (b.y - a.y) * (q.x - a.x) < 0
                        OR ((b.x - a.x) * (q.y - a.y)
                            - (b.y - a.y) * (q.x - a.x) = 0
                            AND NOT (q.x BETWEEN LEAST(a.x, b.x)
                                           AND GREATEST(a.x, b.x)
                                 AND q.y BETWEEN LEAST(a.y, b.y)
                                           AND GREATEST(a.y, b.y))))
                )
            )
            SELECT grp, x, y FROM verts
            UNION ALL
            SELECT grp, MIN(x) AS x, MIN(y) AS y
            FROM p GROUP BY grp HAVING COUNT(*) = 1
        """,
        "q_diameter": f"""
            WITH pts0 AS ({D.SQL_POINTS}),
            g AS (SELECT point_id % 64 AS grp, px AS x, py AS y FROM pts0),
            p AS (SELECT DISTINCT grp, x, y FROM g),
            verts AS (
                SELECT DISTINCT a.grp, a.x, a.y
                FROM p a JOIN p b
                  ON a.grp = b.grp AND (a.x <> b.x OR a.y <> b.y)
                WHERE NOT EXISTS (
                    SELECT 1 FROM p q
                    WHERE q.grp = a.grp
                      AND (q.x <> a.x OR q.y <> a.y)
                      AND (q.x <> b.x OR q.y <> b.y)
                      AND ((b.x - a.x) * (q.y - a.y)
                           - (b.y - a.y) * (q.x - a.x) < 0
                        OR ((b.x - a.x) * (q.y - a.y)
                            - (b.y - a.y) * (q.x - a.x) = 0
                            AND NOT (q.x BETWEEN LEAST(a.x, b.x)
                                           AND GREATEST(a.x, b.x)
                                 AND q.y BETWEEN LEAST(a.y, b.y)
                                           AND GREATEST(a.y, b.y))))
                )
            ),
            hull_pts AS (
                SELECT grp, x, y FROM verts
                UNION ALL
                SELECT grp, MIN(x) AS x, MIN(y) AS y
                FROM p GROUP BY grp HAVING COUNT(*) = 1
            ),
            hs AS (SELECT grp, COUNT(*) AS hull_size FROM hull_pts GROUP BY grp),
            dm AS (
                -- brute-force pair max over ALL points (a = b rows
                -- contribute 0), independent of the hull shortcut
                SELECT a.grp,
                       MAX((a.x - b.x) * (a.x - b.x)
                           + (a.y - b.y) * (a.y - b.y)) AS max_d2
                FROM p a JOIN p b ON a.grp = b.grp
                GROUP BY a.grp
            ),
            n AS (SELECT grp, COUNT(*) AS n_pts FROM g GROUP BY grp)
            SELECT n.grp, n.n_pts,
                   CAST(hs.hull_size AS INTEGER) AS hull_size, dm.max_d2
            FROM n JOIN hs ON hs.grp = n.grp JOIN dm ON dm.grp = n.grp
        """,
        # integer shoelace unrolled over the 8-vertex star ring; the
        # same sums geometry.shoelace_cols folds JVM-side
        "q_poly_stats": (lambda _sl=D.shoelace_sql(D.STAR_RING_SQL): f"""
            WITH star AS ({D.SQL_STAR_POLYGONS})
            SELECT query_id,
                   CAST({_sl[0]} AS BIGINT) AS area2,
                   CAST({_sl[1]} AS BIGINT) AS cx6,
                   CAST({_sl[2]} AS BIGINT) AS cy6
            FROM star
        """)(),
        # quadkey twin — identical per-level digit concatenation
        "q_quadkey": """
            SELECT {qk} AS qk, count(*) AS n
            FROM ({objs}) GROUP BY qk
        """.format(qk=C.quadkey_sql("ix >> 10", "iy >> 10", 6),
                   objs=D.SQL_OBJECTS),
        # validity twin — same swapped edge rows + hash-join pair test
        "q_valid": _valid_sql(),
        # distfield twin — depth-capped recursive-CTE BFS, min dist
        "q_distfield": R.distance_transform_sql(
            f"""SELECT DISTINCT ix >> 10 AS px, iy >> 10 AS py
                FROM ({D.SQL_OBJECTS}) WHERE obj_id % 7 = 0""",
            """SELECT px, py FROM (
                   SELECT DISTINCT ix >> 10 AS px, iy >> 10 AS py
                   FROM ({objs}) WHERE obj_id % 7 = 0)
               WHERE (px * 31 + py) % 29 = 0""".format(objs=D.SQL_OBJECTS),
            max_rounds=24),
        # cube twin — GROUP BY CUBE, identical NULL-margin semantics
        "q_cube": f"""
            SELECT (CAST(event_id AS BIGINT) * 48271) % {E} >> 13
                     AS cell_x,
                   (CAST(event_id AS BIGINT) * 69621) % {E} >> 13
                     AS cell_y,
                   CAST(date_diff('day', TIMESTAMP '2024-01-01', ts)
                        AS BIGINT) AS day,
                   count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS sum_value_c
            FROM events
            GROUP BY CUBE (cell_x, cell_y, day)
        """,
        # contour twin — NOT EXISTS neighbor over the identical inside
        # set; threshold = the same integer ceil-of-mean subquery
        "q_contour": R.contour_edges_sql(
            f"""SELECT ix >> 10 AS px, iy >> 10 AS py, count(*) AS n
                FROM ({D.SQL_OBJECTS}) GROUP BY px, py""",
            threshold="SELECT CAST((sum(n) + count(*) - 1) // count(*) "
                      "AS BIGINT) FROM r"),
        # coverage twin — the identical island-merge window algebra
        "q_coverage": T.interval_union_sql(
            """SELECT user_id,
                      date_diff('microsecond', TIMESTAMP '1970-01-01',
                                ts) AS t0,
                      date_diff('microsecond', TIMESTAMP '1970-01-01',
                                ts) + (event_id % 541 + 60) * 1000000
                        AS t1
               FROM events WHERE event_type = 'click'""",
            on="user_id"),
        # st_pair twin — brute inequality self-join, integer-exact
        "q_st_pairs": f"""
            WITH e AS (
                SELECT CAST(event_id AS BIGINT) AS event_id,
                       (CAST(event_id AS BIGINT) * 48271) % {E} AS x,
                       (CAST(event_id AS BIGINT) * 69621) % {E} AS y,
                       date_diff('microsecond', TIMESTAMP '1970-01-01',
                                 ts) AS tsec
                FROM events
            )
            SELECT a.event_id AS id_a, b.event_id AS id_b,
                   (a.x - b.x) * (a.x - b.x)
                     + (a.y - b.y) * (a.y - b.y) AS dist2,
                   abs(a.tsec - b.tsec) AS gap
            FROM e a JOIN e b ON a.event_id < b.event_id
            WHERE (a.x - b.x) * (a.x - b.x)
                    + (a.y - b.y) * (a.y - b.y) <= 1200 * 1200
              AND abs(a.tsec - b.tsec) <= 86400 * CAST(1000000 AS BIGINT)
        """,
        # snap twin — brute cross join over the identical rational /
        # IEEE algebra (the O29 linear-scan control of snap_join)
        "q_snap": (lambda: (lambda dot, len2, w2, u2, md2: f"""
            WITH p AS ({D.SQL_POINTS}),
            s AS (SELECT * FROM ({D.SQL_SEGMENTS}) WHERE seg_id % 20 = 2),
            cand AS (
                SELECT p.point_id, s.seg_id,
                       CASE WHEN {dot} <= 0 THEN CAST({w2} AS DOUBLE)
                            WHEN {dot} >= {len2} THEN CAST({u2} AS DOUBLE)
                            ELSE CAST({w2} * {len2} - {dot} * {dot} AS DOUBLE)
                                 / CAST({len2} AS DOUBLE)
                       END AS d2
                FROM p, s
                WHERE CASE WHEN {dot} <= 0 THEN {w2} <= {md2}
                           WHEN {dot} >= {len2} THEN {u2} <= {md2}
                           ELSE {w2} * {len2} - {dot} * {dot}
                                <= {md2} * {len2}
                      END
            )
            SELECT point_id, seg_id, d2 FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY point_id ORDER BY d2, seg_id) AS rn
                FROM cand)
            WHERE rn = 1
        """)(
            "((px - x1) * (x2 - x1) + (py - y1) * (y2 - y1))",
            "((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))",
            "((px - x1) * (px - x1) + (py - y1) * (py - y1))",
            "((px - x2) * (px - x2) + (py - y2) * (py - y2))",
            3000 * 3000))(),
        # Klee's measure twin — the identical clip / full-cover /
        # slab-sweep / running-max-merge algebra (measure.union_area_sql)
        "q_union_area": MEAS.union_area_sql(
            f"SELECT ix AS x_min, iy AS y_min, ix + sx AS x_max, "
            f"iy + sy AS y_max FROM ({D.SQL_OBJECTS})",
            POW2_WORLD_2D, depth=6, per_cell=True),
        "q_closest": f"""
            WITH pts0 AS ({D.SQL_POINTS}),
            g AS (
                SELECT point_id, point_id % 64 AS grp, px AS x, py AS y
                FROM pts0
            ),
            mins AS (
                SELECT a.grp,
                       MIN((a.x - b.x) * (a.x - b.x)
                           + (a.y - b.y) * (a.y - b.y)) AS min_d2
                FROM g a JOIN g b
                  ON a.grp = b.grp AND a.point_id <> b.point_id
                GROUP BY a.grp
            ),
            n AS (SELECT grp, COUNT(*) AS n_pts FROM g GROUP BY grp)
            SELECT n.grp, n.n_pts, mins.min_d2
            FROM n LEFT JOIN mins ON mins.grp = n.grp
        """,
        # textbook NOT-EXISTS-dominator skyline (minimize both axes)
        "q_skyline": f"""
            WITH pts0 AS ({D.SQL_POINTS}),
            p AS (
                SELECT DISTINCT point_id % 64 AS grp, px AS x, py AS y
                FROM pts0
            )
            SELECT grp, x, y FROM p a
            WHERE NOT EXISTS (
                SELECT 1 FROM p b
                WHERE b.grp = a.grp AND b.x <= a.x AND b.y <= a.y
                  AND (b.x < a.x OR b.y < a.y)
            )
        """,
        "q_poly_poly": f"""
            WITH star AS ({D.SQL_STAR_POLYGONS}), dia AS ({D.SQL_CUST_DIAMONDS}),
            cand AS (
                SELECT star.query_id, dia.poly_id,
                       cx, cy, ex, ey, ix, iy, dcx, dcy, dex, dey
                FROM star JOIN dia
                  ON cx - ex <= dcx + dex AND cx + ex >= dcx - dex
                 AND cy - ey <= dcy + dey AND cy + ey >= dcy - dey
            )
            SELECT query_id, poly_id FROM cand
            WHERE {D.poly_overlap_sql(D.STAR_RING_SQL, D.DIAMOND_RING_SQL)}
        """,
        "q_seg_join": f"""
            -- DuckDB 1.0.0 IEJoin planner hits an internal error on
            -- LEAST/GREATEST inside inequality-join conditions, so the
            -- segment bbox is materialized as plain columns first
            -- (x1 < x2 always holds by construction: x2 = x1 + 37*sx,
            -- sx >= 1) and the straddle filter runs post-join.
            WITH segs0 AS ({D.SQL_SEGMENTS}), qb AS ({D.SQL_QUERY_BOXES}),
            segs AS (
                SELECT seg_id, x1, y1, x2, y2,
                       x1 AS sminx, x2 AS smaxx,
                       CASE WHEN y1 <= y2 THEN y1 ELSE y2 END AS sminy,
                       CASE WHEN y1 <= y2 THEN y2 ELSE y1 END AS smaxy
                FROM segs0
            ),
            cand AS (
                SELECT query_id, seg_id,
                       {D.seg_cross_sql("q_min_x", "q_min_y")} AS c1,
                       {D.seg_cross_sql("q_min_x", "q_max_y")} AS c2,
                       {D.seg_cross_sql("q_max_x", "q_min_y")} AS c3,
                       {D.seg_cross_sql("q_max_x", "q_max_y")} AS c4
                FROM segs JOIN qb
                  ON sminx <= q_max_x AND smaxx >= q_min_x
                 AND sminy <= q_max_y AND smaxy >= q_min_y
            )
            SELECT query_id, seg_id FROM cand
            WHERE LEAST(c1, c2, c3, c4) <= 0 AND GREATEST(c1, c2, c3, c4) >= 0
        """,
        "q_pip_concave": f"""
            WITH star AS ({D.SQL_STAR_POLYGONS}), pts AS ({D.SQL_POINTS})
            SELECT star.query_id, pts.point_id
            FROM star JOIN pts ON {D.star_crossing_sql("px", "py")}
        """,
        "q_hex_counts": f"""
            WITH pts AS ({D.SQL_POINTS}), hx AS (
                SELECT {C.hex_cell_sql("px", "py")[0]} AS hq,
                       {C.hex_cell_sql("px", "py")[1]} AS hr
                FROM pts
            )
            SELECT hq, hr, count(*) AS n_pts FROM hx GROUP BY hq, hr
        """,
        "q_hex_ring": f"""
            WITH pts AS ({D.SQL_POINTS}), hx AS (
                SELECT {C.hex_cell_sql("px", "py")[0]} AS hq,
                       {C.hex_cell_sql("px", "py")[1]} AS hr
                FROM pts
            ), knnq AS ({D.SQL_KNN_QUERIES}), qh AS (
                SELECT query_id,
                       {C.hex_cell_sql("qx", "qy")[0]} AS q0,
                       {C.hex_cell_sql("qx", "qy")[1]} AS r0
                FROM knnq
            ), offs(dq, dr) AS (
                VALUES (0,0),(2,0),(-2,0),(1,1),(1,-1),(-1,1),(-1,-1)
            ), ring AS (
                SELECT query_id, q0 + dq AS hq, r0 + dr AS hr
                FROM qh CROSS JOIN offs
            )
            SELECT qh.query_id, COALESCE(hx2.n, 0) AS n_ring
            FROM qh
            LEFT JOIN (
                SELECT ring.query_id AS qid, count(*) AS n
                FROM ring JOIN hx ON ring.hq = hx.hq AND ring.hr = hx.hr
                GROUP BY ring.query_id
            ) hx2 ON qh.query_id = hx2.qid
        """,
        "q_lsh_pairs": lsh_pairs_sql,
        "q_dedup_cc": dedup_cc_sql,
        "q_ngram_jaccard": ngram_sql,
        "q_embed_topk": embed_topk_sql,
        "q_embed_topk_ivf": _embed_ivf_sql(),
        "q_embed_topk_pq": _embed_pq_sql(),
        "q_embed_neardup": neardup_sql,
        "q_embed_neardup_lsh": _embed_lsh_sql(),
        "q_qt_rollup": _qt_rollup_sql(),
        "q_tfidf": f"""
            WITH toks AS (
                SELECT doc_id, unnest({OT.TOKS}) AS tok FROM documents
            ), tf AS (
                SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, tok
            ), dfreq AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY tok
            ), nd AS (SELECT count(*) AS n_docs FROM documents)
            SELECT doc_id, tok, tf, df,
                   round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf_r6
            FROM tf JOIN dfreq USING (tok) CROSS JOIN nd
        """,
        "q_top_tokens": f"""
            SELECT tok, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest({OT.TOKS}) AS tok FROM documents)
            GROUP BY tok ORDER BY n DESC, tok LIMIT 100
        """,
        "q_cms_tokens": f"""
            WITH toks AS (
                SELECT unnest({OT.TOKS}) AS tok FROM documents
            ), rows_d AS (
                SELECT * FROM (VALUES (0),(1),(2),(3)) AS d(i)
            ), counters AS (
                SELECT i,
                       CAST(('0x'||substr(md5(CAST(i AS VARCHAR)||':'||tok),1,15))
                            AS BIGINT) % 16 AS bucket,
                       CAST(count(*) AS BIGINT) AS n
                FROM toks CROSS JOIN rows_d
                GROUP BY i, bucket
            ), top AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
                FROM toks GROUP BY tok
                ORDER BY n_exact DESC, tok LIMIT 30
            )
            SELECT t.tok AS tok, t.n_exact AS n_exact,
                   min(c.n) AS cms_est
            FROM top t
            CROSS JOIN rows_d d
            JOIN counters c
              ON c.i = d.i
             AND c.bucket =
                 CAST(('0x'||substr(md5(CAST(d.i AS VARCHAR)||':'||t.tok),1,15))
                      AS BIGINT) % 16
            GROUP BY t.tok, t.n_exact
        """,
        "q_sample": f"""
            SELECT doc_id, n_chars FROM documents
            WHERE {_SQL_UNIFORM_HASH.format(k='doc_id')} % 100 < 10
        """,
        "q_stratified": f"""
            SELECT event_type, event_id, user_id FROM events
            QUALIFY row_number() OVER (
                PARTITION BY event_type
                ORDER BY {_SQL_UNIFORM_HASH.format(k='event_id')},
                         event_id) <= 20
        """,
        "q_interval": _INTERVAL_SQL,
        "q_asof": """
            WITH l AS (
                SELECT event_id, user_id, ts, value
                FROM events WHERE event_type = 'click'
            ), r AS (
                SELECT user_id, ts AS r_ts, value AS r_value,
                       event_id AS r_eid
                FROM events WHERE event_type = 'purchase'
            )
            SELECT event_id, user_id, ts, value,
                   COALESCE(asof_ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
                   COALESCE(asof_value, -1.0) AS asof_value
            FROM (
                SELECT l.*, r.r_ts AS asof_ts, r.r_value AS asof_value,
                       row_number() OVER (
                           PARTITION BY l.event_id
                           ORDER BY r.r_ts DESC, r.r_eid DESC) AS rn
                FROM l LEFT JOIN r
                  ON l.user_id = r.user_id AND r.r_ts <= l.ts
            )
            WHERE rn = 1
        """,
        "q_sessionize": """
            WITH g AS (
                SELECT user_id,
                       date_diff('microsecond',
                                 lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id), ts) AS gap
                FROM events
            )
            SELECT user_id,
                   CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id
        """,
        "q_hourly_events": """
            SELECT date_trunc('hour', ts) AS hour_start,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
            FROM events GROUP BY hour_start, event_type
        """,
        "q_docs_pipeline": _docs_pipeline_sql(),
        "q_hist_refresh": _docs_pipeline_sql(),
        "q_hll": f"""
            {_hll_sql("users_day",
                      "CAST(date_trunc('day', ts) AS TIMESTAMP)", "user_id")}
            UNION ALL
            {_hll_sql("events_all",
                      "TIMESTAMP '1970-01-01 00:00:00'", "event_id")}
        """,
    }
