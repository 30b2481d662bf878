"""AABB predicate column expressions.

Two interval conventions exist in the reference and both are preserved
exactly (sign-for-sign):

- 3D BoundaryBox: ALL predicates closed on both ends
  (contains(point) BoundaryBox.hpp:42-46, overlaps :47-51,
  contains(box) :52-56).
- 2D rect (.Test/QuadTree.cpp:36-69): contains(point) is min-closed /
  max-strict; contains(rect) is min-closed / max-STRICT; overlaps is
  ASYMMETRIC: this.min < other.max (strict) AND this.max >= other.min
  (closed), evaluated with `this` = the query rect in search().

All builders return pyspark Column boolean expressions over six (or
four) coordinate columns, so they stay inside whole-stage codegen and
push down to parquet scans where possible.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else (F.lit(x) if isinstance(x, (int, float)) else F.col(x))


@dataclass(frozen=True)
class BoxCols:
    """Six columns (or names / literals) describing an AABB."""

    min_x: object
    min_y: object
    max_x: object
    max_y: object
    min_z: object = None
    max_z: object = None

    @staticmethod
    def prefixed(prefix: str, dims: int = 3) -> "BoxCols":
        if dims == 2:
            return BoxCols(f"{prefix}min_x", f"{prefix}min_y", f"{prefix}max_x", f"{prefix}max_y")
        return BoxCols(
            f"{prefix}min_x", f"{prefix}min_y", f"{prefix}max_x", f"{prefix}max_y",
            f"{prefix}min_z", f"{prefix}max_z",
        )

    def cols(self):
        out = [_c(self.min_x), _c(self.min_y), _c(self.max_x), _c(self.max_y)]
        if self.min_z is not None:
            out += [_c(self.min_z), _c(self.max_z)]
        return out

    @property
    def is3d(self) -> bool:
        return self.min_z is not None


def contains_point(box: BoxCols, x, y, z=None) -> Column:
    """Closed-interval 3D/2D point-in-box (BoundaryBox.hpp:42-46)."""
    bx0, by0, bx1, by1, *bz = box.cols()
    p = (_c(x) >= bx0) & (_c(x) <= bx1) & (_c(y) >= by0) & (_c(y) <= by1)
    if z is not None and box.is3d:
        bz0, bz1 = bz
        p = p & (_c(z) >= bz0) & (_c(z) <= bz1)
    return p


def overlaps(a: BoxCols, b: BoxCols) -> Column:
    """Closed pairwise AABB overlap (BoundaryBox.hpp:47-51)."""
    a0x, a0y, a1x, a1y, *az = a.cols()
    b0x, b0y, b1x, b1y, *bz = b.cols()
    p = (a0x <= b1x) & (a1x >= b0x) & (a0y <= b1y) & (a1y >= b0y)
    if a.is3d and b.is3d:
        p = p & (az[0] <= bz[1]) & (az[1] >= bz[0])
    return p


# ---- 2D rect conventions (.Test/QuadTree.cpp) ----

def rect_overlaps(query: BoxCols, item: BoxCols) -> Column:
    """Asymmetric: q.min < i.max (strict) AND q.max >= i.min (closed)
    (.Test/QuadTree.cpp:58-69; search() passes the query as `this`,
    .Test/QuadTree.cpp:160)."""
    q0x, q0y, q1x, q1y = query.cols()[:4]
    i0x, i0y, i1x, i1y = item.cols()[:4]
    return (q0x < i1x) & (q1x >= i0x) & (q0y < i1y) & (q1y >= i0y)


def normalized_box(x, y, w, h, z=None, d=None) -> list[Column]:
    """(pos, size) ctor with min/max swap-fix (BoundaryBox.hpp:18-38):
    returns [min_x, min_y, (min_z,) max_x, max_y, (max_z)]."""
    ex, ey = _c(x) + _c(w), _c(y) + _c(h)
    out_min = [F.least(_c(x), ex), F.least(_c(y), ey)]
    out_max = [F.greatest(_c(x), ex), F.greatest(_c(y), ey)]
    if z is not None:
        ez = _c(z) + _c(d)
        out_min.append(F.least(_c(z), ez))
        out_max.append(F.greatest(_c(z), ez))
    return out_min + out_max


def point_in_convex_polygon(x, y, vertices) -> Column:
    """Point-in-convex-polygon, boundary-inclusive: the point lies on
    the non-negative side of every directed edge of a CCW-ordered
    vertex ring (cross((b-a), (p-a)) >= 0 for each edge a->b, wrapping
    b around to vertices[0] on the last edge).

    `vertices` is an array<struct<x,y>> column. With integer coords
    the cross products are exact (no epsilon), so results are
    engine-independent — the polygon generalization of the closed
    point-in-box rule (BoundaryBox.hpp:42-46; the reference is
    AABB-only, this extends the same closed-boundary convention to the
    north star's point-in-polygon joins). One aggregate fold over the
    ring keeps it a single codegen'd JVM expression per row.
    """
    vs = _c(vertices)
    px, py = _c(x), _c(y)
    n = F.size(vs)

    def edge_ok(i):
        a = F.element_at(vs, i + 1)
        b = F.element_at(vs, F.pmod(i + 1, n) + 1)
        cross = (b["x"] - a["x"]) * (py - a["y"]) \
            - (b["y"] - a["y"]) * (px - a["x"])
        return cross >= 0

    return F.aggregate(
        F.sequence(F.lit(0), n - 1),
        F.lit(True),
        lambda acc, i: acc & edge_ok(i),
    )


def segment_intersects_box(x1, y1, x2, y2, box: "BoxCols") -> Column:
    """Closed segment vs closed AABB intersection, exact separating-axis
    form: (1) the segment's bbox overlaps the box (the x and y axes),
    and (2) the box's four corners do NOT all lie strictly on one side
    of the segment's supporting line (the segment-normal axis) —
    cross products of each corner against the segment direction, keep
    iff least <= 0 <= greatest. Those three axes are the complete 2D
    SAT set for a segment against an axis-aligned box, so the test is
    exact; with integer coords every cross product is exact integer
    (|cross| <= 2 * world_edge^2 < 2^34 — ANSI-safe). Touching counts
    (closed sets), matching the closed 3D AABB convention
    (BoundaryBox.hpp:47-51); degenerate zero-length segments reduce to
    point-in-box."""
    ax1, ay1, ax2, ay2 = _c(x1), _c(y1), _c(x2), _c(y2)
    qx0, qy0 = _c(box.min_x), _c(box.min_y)
    qx1, qy1 = _c(box.max_x), _c(box.max_y)
    overlap = (
        (F.least(ax1, ax2) <= qx1) & (F.greatest(ax1, ax2) >= qx0)
        & (F.least(ay1, ay2) <= qy1) & (F.greatest(ay1, ay2) >= qy0)
    )
    dx = ax2 - ax1
    dy = ay2 - ay1

    def cross(cx, cy):
        return dx * (cy - ay1) - dy * (cx - ax1)

    cs = [cross(qx0, qy0), cross(qx0, qy1), cross(qx1, qy0), cross(qx1, qy1)]
    straddle = (F.least(*cs) <= 0) & (F.greatest(*cs) >= 0)
    return overlap & straddle


def point_in_polygon_crossing(x, y, vertices) -> Column:
    """Point-in-SIMPLE-polygon (convex or not) by the even-odd
    crossing-number rule: count edges whose half-open y-span
    [min(ay,by), max(ay,by)) straddles the horizontal ray from the
    point and whose x-intersection lies strictly to the right of it;
    odd count = inside.

    The x-intersection test is multiplied through by (by - ay) so the
    whole predicate is INTEGER arithmetic on integer coords — no
    division, no epsilon, bit-identical across engines (the standard
    exact form of the crossing test; with the half-open y rule a ray
    through a vertex counts once, never twice). Generalizes
    point_in_convex_polygon beyond convex rings — the reference is
    AABB-only (BoundaryBox.hpp:42-46), this is the north star's
    point-in-polygon join for arbitrary simple rings. One aggregate
    fold over the edges keeps it a single codegen'd JVM expression.

    ANSI-safe bound: |(px-ax)*(by-ay)| <= world_edge^2 (< 2^34 at the
    2^16 world) — far below long overflow.
    """
    vs = _c(vertices)
    px, py = _c(x), _c(y)
    n = F.size(vs)

    def crossed(i):
        a = F.element_at(vs, i + 1)
        b = F.element_at(vs, F.pmod(i + 1, n) + 1)
        lhs = (px - a["x"]) * (b["y"] - a["y"])
        rhs = (b["x"] - a["x"]) * (py - a["y"])
        up = (a["y"] <= py) & (b["y"] > py) & (lhs < rhs)
        down = (b["y"] <= py) & (a["y"] > py) & (lhs > rhs)
        return F.when(up | down, F.lit(1)).otherwise(F.lit(0))

    cnt = F.aggregate(
        F.sequence(F.lit(0), n - 1),
        F.lit(0),
        lambda acc, i: acc + crossed(i),
    )
    return F.pmod(cnt, F.lit(2)) == 1


def segments_intersect(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2) -> Column:
    """Closed segment-segment intersection, exact integer form: each
    segment must straddle the other's supporting line NON-strictly
    (orientation cross products bracket zero) AND the segment bboxes
    must overlap. The bbox term is what makes the zero-orientation
    (collinear / endpoint-on-line) cases exact: for collinear
    segments the straddles degenerate to true and bbox overlap is
    exactly 1D interval overlap on the shared line; for a single zero
    the line-crossing point coincides with the on-line endpoint, which
    the strict straddle of the other side then certifies. Touching
    counts (closed sets). |orientation| <= (2*world_edge)^2 < 2^36 —
    ANSI-safe."""
    ax1, ay1, ax2, ay2 = _c(ax1), _c(ay1), _c(ax2), _c(ay2)
    bx1, by1, bx2, by2 = _c(bx1), _c(by1), _c(bx2), _c(by2)

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    o1 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    o2 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    o3 = orient(bx1, by1, bx2, by2, ax1, ay1)
    o4 = orient(bx1, by1, bx2, by2, ax2, ay2)
    straddle_b = ((o1 <= 0) & (o2 >= 0)) | ((o1 >= 0) & (o2 <= 0))
    straddle_a = ((o3 <= 0) & (o4 >= 0)) | ((o3 >= 0) & (o4 <= 0))
    bbox = (
        (F.least(ax1, ax2) <= F.greatest(bx1, bx2))
        & (F.greatest(ax1, ax2) >= F.least(bx1, bx2))
        & (F.least(ay1, ay2) <= F.greatest(by1, by2))
        & (F.greatest(ay1, ay2) >= F.least(by1, by2))
    )
    return straddle_a & straddle_b & bbox


def polygons_overlap(verts_a, verts_b) -> Column:
    """Closed overlap of two SIMPLE polygons (convex or not): true iff
    any edge of A intersects any edge of B (segments_intersect — this
    alone covers every boundary-touching configuration), or one
    polygon strictly contains the other (vertex 0 inside by the
    crossing rule; when boundaries are disjoint, containment is
    equivalent to any single vertex being inside). Exact integer
    arithmetic throughout; one nested exists fold, no explode."""
    va, vb = _c(verts_a), _c(verts_b)
    na, nb = F.size(va), F.size(vb)

    def edge(vs, n, i):
        return F.element_at(vs, i + 1), F.element_at(vs, F.pmod(i + 1, n) + 1)

    def pair(i, j):
        a0, a1 = edge(va, na, i)
        b0, b1 = edge(vb, nb, j)
        return segments_intersect(
            a0["x"], a0["y"], a1["x"], a1["y"],
            b0["x"], b0["y"], b1["x"], b1["y"])

    edges_hit = F.exists(
        F.sequence(F.lit(0), na - 1),
        lambda i: F.exists(F.sequence(F.lit(0), nb - 1), lambda j: pair(i, j)),
    )
    av0 = F.element_at(va, 1)
    bv0 = F.element_at(vb, 1)
    return (
        edges_hit
        | point_in_polygon_crossing(av0["x"], av0["y"], vb)
        | point_in_polygon_crossing(bv0["x"], bv0["y"], va)
    )


def polygon_bbox(vertices) -> list[Column]:
    """[min_x, min_y, max_x, max_y] of a vertex ring — the coarse
    prefilter for polygon joins (cheap AABB reject before the
    per-edge fold)."""
    vs = _c(vertices)
    xs = F.transform(vs, lambda v: v["x"])
    ys = F.transform(vs, lambda v: v["y"])
    return [F.array_min(xs), F.array_min(ys),
            F.array_max(xs), F.array_max(ys)]


def box_center(box: BoxCols) -> list[Column]:
    """(min + max) * 0.5 (BoundaryBox.hpp:63)."""
    c = box.cols()
    out = [(c[0] + c[2]) * 0.5, (c[1] + c[3]) * 0.5]
    if box.is3d:
        out.append((c[4] + c[5]) * 0.5)
    return out


def box_size(box: BoxCols) -> list[Column]:
    c = box.cols()
    out = [c[2] - c[0], c[3] - c[1]]
    if box.is3d:
        out.append(c[5] - c[4])
    return out


def shoelace_cols(vertices) -> list[Column]:
    """Exact integer shoelace over a simple-polygon vertex ring
    (array<struct<x,y>>, CCW positive): returns [area2, cx6, cy6]
    where area2 = 2*signed_area, cx6 = 6*area*Cx and cy6 = 6*area*Cy
    (the centroid numerators) — all BIGINT, no division, so Spark and
    any SQL twin agree bit-for-bit; callers divide only at the edge
    of the system. Pure JVM (transform + aggregate inside codegen),
    no Python. Coords < 2^17 keep every term < 2^53."""
    vs = _c(vertices)
    n = F.size(vs)
    edges = F.transform(
        vs,
        lambda v, i: F.struct(
            v["x"].alias("x1"), v["y"].alias("y1"),
            F.element_at(vs, (i + 1) % n + 1)["x"].alias("x2"),
            F.element_at(vs, (i + 1) % n + 1)["y"].alias("y2"),
        ),
    )
    zero = F.lit(0).cast("long")

    def fold(expr):
        return F.aggregate(edges, zero, expr)

    cross = lambda e: e["x1"] * e["y2"] - e["x2"] * e["y1"]  # noqa: E731
    return [
        fold(lambda acc, e: acc + cross(e)),
        fold(lambda acc, e: acc + (e["x1"] + e["x2"]) * cross(e)),
        fold(lambda acc, e: acc + (e["y1"] + e["y2"]) * cross(e)),
    ]
