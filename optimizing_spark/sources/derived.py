"""Deterministic spatial tables derived from the driver's TPC-H-ish
parquet — the bridge between the engine's spatial operators and the
driver's DuckDB oracle.

Every derived value is integer arithmetic (small multipliers, modulo a
power-of-two world edge) so the Spark DataFrame derivation and the
DuckDB SQL derivation agree bit-for-bit: coordinates are exact integers
carried as BIGINT, box edges are ints, distances are squared (never
sqrt'd), and aggregated measures are integer-valued doubles (exact sums
at any accumulation order). The world is [0, 65536)^2 so cell math is
closed-form shifts (cells.morton2d / the >> forms below).

ANSI-safe: all products stay far below 2^63 (coords < 2^16, keys < ~2^32
at bench scales, multipliers < 2^20).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import POW2_WORLD_BITS, POW2_WORLD_EDGE

E = POW2_WORLD_EDGE  # 65536
B = POW2_WORLD_BITS  # 16

# Derivation constants (shared by the Spark and SQL forms below)
_OX = (7919, 104729, 999331)   # l_orderkey, l_partkey, l_linenumber
_OY = (7907, 9973, 777767)     # l_suppkey, l_partkey, l_linenumber
_QC = (48271, 69621)           # s_suppkey -> center x, y
_PC = (7919, 104729)           # c_custkey -> point x, y


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# objects2d: one AABB per lineitem row
# ---------------------------------------------------------------------------

def objects2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    ok, pk, sk, ln = (F.col(c).cast("long") for c in
                      ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"))
    ix = (ok * _OX[0] + pk * _OX[1] + ln * _OX[2]) % E
    iy = (sk * _OY[0] + pk * _OY[1] + ln * _OY[2]) % E
    return li.select(
        (ok * 10 + ln).alias("obj_id"),
        ix.alias("ix"),
        iy.alias("iy"),
        ((ok % 97) + 1).alias("sx"),
        ((sk % 97) + 1).alias("sy"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("weight_c"),
        F.col("l_quantity").cast("long").alias("qty"),
    )


SQL_OBJECTS = f"""
SELECT (CAST(l_orderkey AS BIGINT) * 10 + l_linenumber) AS obj_id,
       (CAST(l_orderkey AS BIGINT) * {_OX[0]} + CAST(l_partkey AS BIGINT) * {_OX[1]}
        + CAST(l_linenumber AS BIGINT) * {_OX[2]}) % {E} AS ix,
       (CAST(l_suppkey AS BIGINT) * {_OY[0]} + CAST(l_partkey AS BIGINT) * {_OY[1]}
        + CAST(l_linenumber AS BIGINT) * {_OY[2]}) % {E} AS iy,
       (CAST(l_orderkey AS BIGINT) % 97) + 1 AS sx,
       (CAST(l_suppkey AS BIGINT) % 97) + 1 AS sy,
       CAST(round(l_extendedprice * 100) AS BIGINT) AS weight_c,
       CAST(l_quantity AS BIGINT) AS qty
FROM lineitem
"""


# ---------------------------------------------------------------------------
# query_boxes: one box per supplier (broadcast side)
# ---------------------------------------------------------------------------

def query_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey").cast("long")
    cx = (k * _QC[0]) % E
    cy = (k * _QC[1]) % E
    ex = 1024 + (k % 1024)
    ey = 768 + (k % 768)
    return s.select(
        k.alias("query_id"),
        (cx - ex).alias("q_min_x"), (cy - ey).alias("q_min_y"),
        (cx + ex).alias("q_max_x"), (cy + ey).alias("q_max_y"),
    )


SQL_QUERY_BOXES = f"""
SELECT CAST(s_suppkey AS BIGINT) AS query_id,
       (CAST(s_suppkey AS BIGINT) * {_QC[0]}) % {E} - (1024 + CAST(s_suppkey AS BIGINT) % 1024) AS q_min_x,
       (CAST(s_suppkey AS BIGINT) * {_QC[1]}) % {E} - (768 + CAST(s_suppkey AS BIGINT) % 768) AS q_min_y,
       (CAST(s_suppkey AS BIGINT) * {_QC[0]}) % {E} + (1024 + CAST(s_suppkey AS BIGINT) % 1024) AS q_max_x,
       (CAST(s_suppkey AS BIGINT) * {_QC[1]}) % {E} + (768 + CAST(s_suppkey AS BIGINT) % 768) AS q_max_y
FROM supplier
"""


def polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One convex quadrilateral per supplier: the diamond inscribed in
    that supplier's query box (vertices at the box edge midpoints),
    CCW order — integer coords, so polygon predicates are exact."""
    s = load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey").cast("long")
    cx = (k * _QC[0]) % E
    cy = (k * _QC[1]) % E
    ex = 1024 + (k % 1024)
    ey = 768 + (k % 768)

    def v(x, y):
        return F.struct(x.alias("x"), y.alias("y"))

    return s.select(
        k.alias("query_id"),
        F.array(
            v(cx, cy - ey), v(cx + ex, cy), v(cx, cy + ey), v(cx - ex, cy)
        ).alias("vertices"),
    )


# DuckDB twin of polygons(): the diamond parameters as columns; the
# oracle unrolls the 4 CCW edge cross-product tests over these.
SQL_POLYGONS = f"""
SELECT CAST(s_suppkey AS BIGINT) AS query_id,
       (CAST(s_suppkey AS BIGINT) * {_QC[0]}) % {E} AS cx,
       (CAST(s_suppkey AS BIGINT) * {_QC[1]}) % {E} AS cy,
       1024 + CAST(s_suppkey AS BIGINT) % 1024 AS ex,
       768 + CAST(s_suppkey AS BIGINT) % 768 AS ey
FROM supplier
"""


def segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One slanted line segment per lineitem: anchored at the object's
    (ix, iy), direction (37*sx, +-23*sy) with the sign alternating on
    obj_id parity so both orientations occur. Integer endpoints (x2/y2
    may exceed the world edge or go negative — segment joins must not
    assume in-world coords); max length ~ 4.3k."""
    o = objects2d(spark, sf_dir)
    return o.select(
        F.col("obj_id").alias("seg_id"),
        F.col("ix").alias("x1"),
        F.col("iy").alias("y1"),
        (F.col("ix") + 37 * F.col("sx")).alias("x2"),
        (F.col("iy") + F.when(F.col("obj_id") % 2 == 0, 23 * F.col("sy"))
         .otherwise(-23 * F.col("sy"))).alias("y2"),
    )


SQL_SEGMENTS = f"""
SELECT obj_id AS seg_id,
       ix AS x1, iy AS y1,
       ix + 37 * sx AS x2,
       iy + CASE WHEN obj_id % 2 = 0 THEN 23 * sy ELSE -23 * sy END AS y2
FROM ({SQL_OBJECTS})
"""


def seg_cross_sql(cx: str, cy: str) -> str:
    """Cross product of box corner (cx, cy) against the segment
    direction — the SQL twin of geometry.segment_intersects_box's
    per-corner term."""
    return f"((x2 - x1) * (({cy}) - y1) - (y2 - y1) * (({cx}) - x1))"


def star_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One CONCAVE 8-vertex star per supplier: the q_pip_poly diamond's
    axis spikes (radius ex/ey) alternating with pulled-in diagonal
    vertices (radius ix=1+(ex>>2), iy=1+(ey>>2)), CCW order — every
    polygon is simple but non-convex (4 reflex vertices), so only the
    crossing-number test classifies it correctly. Integer coords, so
    polygon predicates are exact."""
    s = load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey").cast("long")
    cx = (k * _QC[0]) % E
    cy = (k * _QC[1]) % E
    ex = 1024 + (k % 1024)
    ey = 768 + (k % 768)
    ix = F.shiftright(ex, 2) + 1
    iy = F.shiftright(ey, 2) + 1

    def v(x, y):
        return F.struct(x.alias("x"), y.alias("y"))

    return s.select(
        k.alias("query_id"),
        F.array(
            v(cx + ex, cy), v(cx + ix, cy + iy),
            v(cx, cy + ey), v(cx - ix, cy + iy),
            v(cx - ex, cy), v(cx - ix, cy - iy),
            v(cx, cy - ey), v(cx + ix, cy - iy),
        ).alias("vertices"),
    )


# DuckDB twin of star_polygons(): the star parameters as columns; the
# oracle unrolls the 8 crossing-number edge tests over these.
SQL_STAR_POLYGONS = f"""
SELECT CAST(s_suppkey AS BIGINT) AS query_id,
       (CAST(s_suppkey AS BIGINT) * {_QC[0]}) % {E} AS cx,
       (CAST(s_suppkey AS BIGINT) * {_QC[1]}) % {E} AS cy,
       1024 + CAST(s_suppkey AS BIGINT) % 1024 AS ex,
       768 + CAST(s_suppkey AS BIGINT) % 768 AS ey,
       1 + ((1024 + CAST(s_suppkey AS BIGINT) % 1024) >> 2) AS ix,
       1 + ((768 + CAST(s_suppkey AS BIGINT) % 768) >> 2) AS iy
FROM supplier
"""

# Star vertex ring as (x-expr, y-expr) pairs over the SQL_STAR_POLYGONS
# columns — shared by the oracle generator so the unrolled edge tests
# provably walk the SAME ring as star_polygons().
STAR_RING_SQL = [
    ("cx + ex", "cy"), ("cx + ix", "cy + iy"),
    ("cx", "cy + ey"), ("cx - ix", "cy + iy"),
    ("cx - ex", "cy"), ("cx - ix", "cy - iy"),
    ("cx", "cy - ey"), ("cx + ix", "cy - iy"),
]


def ring_crossing_sql(ring: list[tuple[str, str]], px: str, py: str) -> str:
    """SUM-of-CASE crossing-number parity over an arbitrary vertex
    ring of (x-expr, y-expr) pairs — the exact integer
    multiply-through form of geometry.point_in_polygon_crossing,
    unrolled for DuckDB."""
    terms = []
    for i in range(len(ring)):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % len(ring)]
        lhs = f"(({px}) - ({ax})) * (({by}) - ({ay}))"
        rhs = f"(({bx}) - ({ax})) * (({py}) - ({ay}))"
        up = f"(({ay}) <= ({py}) AND ({by}) > ({py}) AND {lhs} < {rhs})"
        dn = f"(({by}) <= ({py}) AND ({ay}) > ({py}) AND {lhs} > {rhs})"
        terms.append(f"CASE WHEN {up} OR {dn} THEN 1 ELSE 0 END")
    return "(" + " + ".join(terms) + ") % 2 = 1"


def star_crossing_sql(px: str = "px", py: str = "py") -> str:
    """Crossing parity against the supplier star ring."""
    return ring_crossing_sql(STAR_RING_SQL, px, py)


def seg_straddle_sql(a0, a1, b0, b1) -> str:
    """The mutual non-strict straddle HALF of the exact closed
    segment-segment intersection test (geometry.segments_intersect)
    over four (x-expr, y-expr) endpoint pairs — WITHOUT the bbox term.
    Split out for callers that already enforce bbox overlap via
    materialized min/max columns (DuckDB 1.0.0 hits an internal
    flat-vector error on LEAST/GREATEST downstream of an IEJoin, so
    the q_seg_seg twin cannot re-derive the bbox inline)."""
    (ax0, ay0), (ax1, ay1) = a0, a1
    (bx0, by0), (bx1, by1) = b0, b1

    def orient(px, py, qx, qy, rx, ry):
        return (f"((({qx}) - ({px})) * (({ry}) - ({py}))"
                f" - (({qy}) - ({py})) * (({rx}) - ({px})))")

    o1 = orient(ax0, ay0, ax1, ay1, bx0, by0)
    o2 = orient(ax0, ay0, ax1, ay1, bx1, by1)
    o3 = orient(bx0, by0, bx1, by1, ax0, ay0)
    o4 = orient(bx0, by0, bx1, by1, ax1, ay1)
    sb = f"(({o1} <= 0 AND {o2} >= 0) OR ({o1} >= 0 AND {o2} <= 0))"
    sa = f"(({o3} <= 0 AND {o4} >= 0) OR ({o3} >= 0 AND {o4} <= 0))"
    return f"({sa} AND {sb})"


def seg_pair_sql(a0, a1, b0, b1) -> str:
    """Exact closed segment-segment intersection over four (x-expr,
    y-expr) endpoint pairs — the SQL twin of
    geometry.segments_intersect (mutual non-strict straddle + edge
    bbox overlap)."""
    (ax0, ay0), (ax1, ay1) = a0, a1
    (bx0, by0), (bx1, by1) = b0, b1
    bb = (f"LEAST({ax0}, {ax1}) <= GREATEST({bx0}, {bx1})"
          f" AND GREATEST({ax0}, {ax1}) >= LEAST({bx0}, {bx1})"
          f" AND LEAST({ay0}, {ay1}) <= GREATEST({by0}, {by1})"
          f" AND GREATEST({ay0}, {ay1}) >= LEAST({by0}, {by1})")
    return f"({seg_straddle_sql(a0, a1, b0, b1)} AND {bb})"


def poly_overlap_sql(ring_a: list[tuple[str, str]],
                     ring_b: list[tuple[str, str]]) -> str:
    """Closed polygon-polygon overlap: OR over all edge-pair
    intersections + both vertex-0 containment parities — the SQL twin
    of geometry.polygons_overlap, fully unrolled."""
    na, nb = len(ring_a), len(ring_b)
    pairs = [
        seg_pair_sql(ring_a[i], ring_a[(i + 1) % na],
                     ring_b[j], ring_b[(j + 1) % nb])
        for i in range(na) for j in range(nb)
    ]
    a_in_b = ring_crossing_sql(ring_b, ring_a[0][0], ring_a[0][1])
    b_in_a = ring_crossing_sql(ring_a, ring_b[0][0], ring_b[0][1])
    return "(" + " OR ".join(pairs + [f"({a_in_b})", f"({b_in_a})"]) + ")"


def customer_diamonds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One small convex diamond per customer, centered on that
    customer's point (so polygon-polygon joins compose with the point
    tables), CCW order, integer coords."""
    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("long")
    dcx = (k * _PC[0]) % E
    dcy = (k * _PC[1]) % E
    dex = 256 + (k % 256)
    dey = 192 + (k % 192)

    def v(x, y):
        return F.struct(x.alias("x"), y.alias("y"))

    return c.select(
        k.alias("poly_id"),
        F.array(
            v(dcx, dcy - dey), v(dcx + dex, dcy),
            v(dcx, dcy + dey), v(dcx - dex, dcy),
        ).alias("vertices"),
    )


SQL_CUST_DIAMONDS = f"""
SELECT CAST(c_custkey AS BIGINT) AS poly_id,
       (CAST(c_custkey AS BIGINT) * {_PC[0]}) % {E} AS dcx,
       (CAST(c_custkey AS BIGINT) * {_PC[1]}) % {E} AS dcy,
       256 + CAST(c_custkey AS BIGINT) % 256 AS dex,
       192 + CAST(c_custkey AS BIGINT) % 192 AS dey
FROM customer
"""

DIAMOND_RING_SQL = [
    ("dcx", "dcy - dey"), ("dcx + dex", "dcy"),
    ("dcx", "dcy + dey"), ("dcx - dex", "dcy"),
]


# ---------------------------------------------------------------------------
# points: one 2D point per customer
# ---------------------------------------------------------------------------

def points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("long")
    return c.select(
        k.alias("point_id"),
        ((k * _PC[0]) % E).alias("px"),
        ((k * _PC[1]) % E).alias("py"),
    )


SQL_POINTS = f"""
SELECT CAST(c_custkey AS BIGINT) AS point_id,
       (CAST(c_custkey AS BIGINT) * {_PC[0]}) % {E} AS px,
       (CAST(c_custkey AS BIGINT) * {_PC[1]}) % {E} AS py
FROM customer
"""


# ---------------------------------------------------------------------------
# sample_sites: customer points carrying an integer measurement value
# (IDW interpolation inputs) / supplier_queries: estimation sites
# ---------------------------------------------------------------------------

def sample_sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("long")
    return c.select(
        k.alias("point_id"),
        ((k * _PC[0]) % E).alias("x"),
        ((k * _PC[1]) % E).alias("y"),
        ((k * 6151 + 13) % 1000).alias("val"),
    )


SQL_SAMPLE_SITES = f"""
SELECT CAST(c_custkey AS BIGINT) AS point_id,
       (CAST(c_custkey AS BIGINT) * {_PC[0]}) % {E} AS x,
       (CAST(c_custkey AS BIGINT) * {_PC[1]}) % {E} AS y,
       (CAST(c_custkey AS BIGINT) * 6151 + 13) % 1000 AS val
FROM customer
"""


def supplier_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey").cast("long")
    return s.select(
        k.alias("query_id"),
        ((k * _QC[0] + 999) % E).alias("qx"),
        ((k * _QC[1] + 111) % E).alias("qy"),
    )


SQL_SUPPLIER_QUERIES = f"""
SELECT CAST(s_suppkey AS BIGINT) AS query_id,
       (CAST(s_suppkey AS BIGINT) * {_QC[0]} + 999) % {E} AS qx,
       (CAST(s_suppkey AS BIGINT) * {_QC[1]} + 111) % {E} AS qy
FROM supplier
"""


# ---------------------------------------------------------------------------
# knn_queries: one query point per nation (25 rows)
# ---------------------------------------------------------------------------

def knn_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("long")
    return n.select(
        k.alias("query_id"),
        ((k * 104729 + 12345) % E).alias("qx"),
        ((k * 48271 + 54321) % E).alias("qy"),
    )


SQL_KNN_QUERIES = f"""
SELECT CAST(n_nationkey AS BIGINT) AS query_id,
       (CAST(n_nationkey AS BIGINT) * 104729 + 12345) % {E} AS qx,
       (CAST(n_nationkey AS BIGINT) * 48271 + 54321) % {E} AS qy
FROM nation
"""


# ---------------------------------------------------------------------------
# interleaved spans over the driver documents table (input_hint shape)
# ---------------------------------------------------------------------------

def docs_with_spans(docs: DataFrame) -> DataFrame:
    """Derive the input_hint span column deterministically from the
    driver's documents table: each doc gets an interleaved text span +
    a media span (opaque ref, offset = text length). Matches
    SQL_DOCS_CANON below on the canonical-string level."""
    span0 = F.struct(
        F.lit("text").alias("kind"), F.col("text").alias("text"),
        F.lit("").alias("media_ref"), F.lit(0).alias("offset"),
    )
    span1 = F.struct(
        F.lit("image").alias("kind"), F.lit("").alias("text"),
        F.concat(F.lit("img://"), F.md5(F.col("text"))).alias("media_ref"),
        F.length("text").alias("offset"),
    )
    return docs.withColumn("spans", F.array(span0, span1))


# DuckDB twin of the canonical span string _canon_expr() produces for
# docs_with_spans rows: fields joined by \x01, spans by \x02.
SQL_DOCS_CANON = (
    "'text' || chr(1) || text || chr(1) || chr(1) || '0' || chr(2) || "
    "'image' || chr(1) || chr(1) || 'img://' || md5(text) || chr(1) || "
    "CAST(length(text) AS VARCHAR)"
)


# ---------------------------------------------------------------------------
# Closed-form static-quadtree assignment on the pow-2 world (integer exact)
# ---------------------------------------------------------------------------

def qt_fits_depth_sql(max_node_depth: int = 4, world_bits: int = B) -> str:
    """DuckDB CASE returning the deepest node depth (0..max_node_depth)
    whose cell contains [ix, ix+sx) x [iy, iy+sy) under the min-closed /
    max-strict rule — box fits at depth d iff ix>>(wb-d) == (ix+sx)>>(wb-d)
    (strict upper edge; see .Test/QuadTree.cpp:44-56) and the box stays
    inside the world. Equivalent to the reference's greedy descent because
    cells nest. ``world_bits`` parameterizes the world edge (O15 rebuild)."""
    e = 1 << world_bits
    whens = []
    for d in range(max_node_depth, 0, -1):
        sh = world_bits - d
        whens.append(
            f"WHEN (ix >> {sh}) = ((ix + sx) >> {sh}) AND (ix + sx) < {e} "
            f"AND (iy >> {sh}) = ((iy + sy) >> {sh}) AND (iy + sy) < {e} THEN {d}"
        )
    return "CASE " + " ".join(whens) + " ELSE 0 END"


def objects3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """objects2d + a z axis from the same row (octree / S2-level
    analog). NB: derived in ONE select — (l_orderkey, l_linenumber) is
    not unique in the driver's synthetic lineitem, so a self-join on
    obj_id would fan out."""
    li = load(spark, sf_dir, "lineitem")
    ok, pk, sk, ln = (F.col(c).cast("long") for c in
                      ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"))
    ix = (ok * _OX[0] + pk * _OX[1] + ln * _OX[2]) % E
    iy = (sk * _OY[0] + pk * _OY[1] + ln * _OY[2]) % E
    iz = (pk * 104729 + ok * 7907 + ln * 271) % E
    return li.select(
        (ok * 10 + ln).alias("obj_id"),
        ix.alias("ix"), iy.alias("iy"), iz.alias("iz"),
        ((ok % 97) + 1).alias("sx"),
        ((sk % 97) + 1).alias("sy"),
        ((pk % 97) + 1).alias("sz"),
    )


SQL_OBJECTS3D = f"""
SELECT (CAST(l_orderkey AS BIGINT) * 10 + l_linenumber) AS obj_id,
       (CAST(l_orderkey AS BIGINT) * {_OX[0]} + CAST(l_partkey AS BIGINT) * {_OX[1]}
        + CAST(l_linenumber AS BIGINT) * {_OX[2]}) % {E} AS ix,
       (CAST(l_suppkey AS BIGINT) * {_OY[0]} + CAST(l_partkey AS BIGINT) * {_OY[1]}
        + CAST(l_linenumber AS BIGINT) * {_OY[2]}) % {E} AS iy,
       (CAST(l_partkey AS BIGINT) * 104729 + CAST(l_orderkey AS BIGINT) * 7907
        + CAST(l_linenumber AS BIGINT) * 271) % {E} AS iz,
       (CAST(l_orderkey AS BIGINT) % 97) + 1 AS sx,
       (CAST(l_suppkey AS BIGINT) % 97) + 1 AS sy,
       (CAST(l_partkey AS BIGINT) % 97) + 1 AS sz
FROM lineitem
"""


def oct_fits_depth_sql(max_depth: int = 5) -> str:
    """DuckDB CASE: deepest 3D octree depth whose cell contains the box
    under CLOSED intervals: (i >> sh) == ((i + s - 1) >> sh) per axis."""
    whens = []
    for d in range(max_depth, 0, -1):
        sh = B - d
        conds = [
            f"({a} >> {sh}) = (({a} + {s} - 1) >> {sh})"
            for a, s in (("ix", "sx"), ("iy", "sy"), ("iz", "sz"))
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN {d}")
    return "CASE " + " ".join(whens) + " ELSE 0 END"


_SPREAD3_SQL = [
    (32, 0x1F00000000FFFF),
    (16, 0x1F0000FF0000FF),
    (8, 0x100F00F00F00F00F),
    (4, 0x10C30C30C30C30C3),
    (2, 0x1249249249249249),
]


def morton3_spread_sql(v: str, shift_extra: int = 0) -> str:
    e = f"(({v}) & 2097151)"
    for sh, mask in _SPREAD3_SQL:
        e = f"((({e}) | (({e}) << {sh})) & {mask})"
    if shift_extra:
        e = f"(({e}) << {shift_extra})"
    return e


def morton3d_sql(x: str, y: str, z: str) -> str:
    return (f"({morton3_spread_sql(x)} | {morton3_spread_sql(y, 1)} | "
            f"{morton3_spread_sql(z, 2)})")


def morton_spread_sql(v: str, shift_extra: int = 0) -> str:
    """DuckDB expression spreading a 16-bit int to even bit positions
    (same magic-mask chain as cells._spread2)."""
    e = f"(({v}) & 65535)"
    for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        e = f"((({e}) | (({e}) << {sh})) & {mask})"
    if shift_extra:
        e = f"(({e}) << {shift_extra})"
    return e


def morton2d_sql(x: str, y: str) -> str:
    return f"({morton_spread_sql(x)} | {morton_spread_sql(y, 1)})"


def shoelace_sql(ring: list[tuple[str, str]]) -> tuple[str, str, str]:
    """DuckDB twin of geometry.shoelace_cols over an unrolled vertex
    ring of (x-expr, y-expr) pairs: (area2, cx6, cy6) SQL strings."""
    n = len(ring)
    a2, cx6, cy6 = [], [], []
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        cr = f"(({x1}) * ({y2}) - ({x2}) * ({y1}))"
        a2.append(cr)
        cx6.append(f"(({x1}) + ({x2})) * {cr}")
        cy6.append(f"(({y1}) + ({y2})) * {cr}")
    return (" + ".join(a2), " + ".join(cx6), " + ".join(cy6))


# ---------------------------------------------------------------------------
# walls: long axis-aligned obstacle segments that START inside a dense
# 8192-edge subworld (line-of-sight / visibility inputs) — one per
# supplier, horizontal/vertical alternating on key parity, length
# 1024..2047. The far endpoint is not wrapped, so it may overhang the
# subworld by up to 2047 (bx2/by2 <= 10238); both twins agree, and
# q_visibility consumes walls only as a broadcast predicate.
# ---------------------------------------------------------------------------

W8 = 8192


def walls(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey").cast("long")
    wx = (k * _QC[0]) % W8
    wy = (k * _QC[1]) % W8
    ln = 1024 + (k % 1024)
    return s.select(
        k.alias("wall_id"),
        wx.alias("bx1"),
        wy.alias("by1"),
        F.when(k % 2 == 0, wx + ln).otherwise(wx).alias("bx2"),
        F.when(k % 2 == 0, wy).otherwise(wy + ln).alias("by2"),
    )


SQL_WALLS = f"""
SELECT CAST(s_suppkey AS BIGINT) AS wall_id,
       (CAST(s_suppkey AS BIGINT) * {_QC[0]}) % {W8} AS bx1,
       (CAST(s_suppkey AS BIGINT) * {_QC[1]}) % {W8} AS by1,
       CASE WHEN s_suppkey % 2 = 0
            THEN (CAST(s_suppkey AS BIGINT) * {_QC[0]}) % {W8}
                 + 1024 + (CAST(s_suppkey AS BIGINT) % 1024)
            ELSE (CAST(s_suppkey AS BIGINT) * {_QC[0]}) % {W8}
       END AS bx2,
       CASE WHEN s_suppkey % 2 = 0
            THEN (CAST(s_suppkey AS BIGINT) * {_QC[1]}) % {W8}
            ELSE (CAST(s_suppkey AS BIGINT) * {_QC[1]}) % {W8}
                 + 1024 + (CAST(s_suppkey AS BIGINT) % 1024)
       END AS by2
FROM supplier
"""
