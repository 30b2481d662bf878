"""Hierarchical cell index: Morton/Z-order codes + quadtree/octree cell
assignment as pure column expressions (JVM-side, whole-stage-codegen).

The reference's trees become columns here:

- ``morton2d``/``morton3d``: bit-interleaved Z-order codes — the encode
  the reference wrote but left commented out at its insert site
  (.Test/QuadTree.cpp:310-318, endorsed by REPORT.md:35-38). The
  depth-d prefix of the code IS the quadtree path at depth d (H3
  resolution analog); the 3D variant adds z bits (S2 level analog).
- ``assign_static_quadtree``: exact static-quadtree node assignment
  (.Test/QuadTree.cpp:131-148): descend into the first child that
  *contains* the item rect (min-closed/max-strict) while
  depth+1 < max_depth. Pure function of the item box, so it is a
  single projection — no loop, no shuffle.
- ``octree_child_digit``: the child digit of one level of the 3D
  capacity-gated octree descent (DynamicOctree.hpp:126-144), used by
  operators.tiling's refinement loop. Child order
  SWD,SED,NWD,NED,SWU,SEU,NWU,NEU (x fastest, then y, then z —
  DynamicOctree.hpp:56-65,87-94), closed containment.
- ``grid_cell_sql``: the clamped fixed-depth grid cell index, as Spark
  SQL text — the equi-join key of every cell-mode join and of
  operators.tiling.explode_covering_cells.
- ``neighbor_cells``: the one neighbour shift — each row's home cell
  plus every (dx, dy) of an offset list (``square_offsets(r)``,
  ``QUEEN8``, ``ROOK4``, ``HEX_RING``), one Generate of SQL text. It
  is the load ring of WorldPartition::update (WorldPartition.hpp:
  194-213) behind the ring joins, and the scatter of the raster,
  autocorrelation and clustering stencils.

Everything is float64; midpoints are computed by recursive halving
(min + (max-min)*0.5, matching BoundaryBox.hpp:63 / resize()) so the
NumPy oracle in tests/oracles reproduces bit-identical assignments.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import Box2, Box3

# ---------------------------------------------------------------------------
# Morton / Z-order encoding (bitwise, JVM-side)
# ---------------------------------------------------------------------------

_SPREAD2 = [  # 16-bit -> even bit positions of a 32-bit word
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]

_SPREAD3 = [  # up to 21-bit -> every 3rd bit of a 63-bit word
    (32, 0x1F00000000FFFF),
    (16, 0x1F0000FF0000FF),
    (8, 0x100F00F00F00F00F),
    (4, 0x10C30C30C30C30C3),
    (2, 0x1249249249249249),
]


def _spread2(c: Column) -> Column:
    c = c.cast("long").bitwiseAND(F.lit(0xFFFF))
    for sh, mask in _SPREAD2:
        c = c.bitwiseOR(F.shiftleft(c, sh)).bitwiseAND(F.lit(mask))
    return c


def _spread3(c: Column) -> Column:
    c = c.cast("long").bitwiseAND(F.lit(0x1FFFFF))
    for sh, mask in _SPREAD3:
        c = c.bitwiseOR(F.shiftleft(c, sh)).bitwiseAND(F.lit(mask))
    return c


def morton2d(ix: Column, iy: Column) -> Column:
    """Interleave two 16-bit integer columns; x takes the even bits
    (bit 0), matching mortonEncode2D (.Test/QuadTree.cpp:310-318)."""
    return _spread2(ix).bitwiseOR(F.shiftleft(_spread2(iy), 1))


def quadkey(cell_x: Column, cell_y: Column, depth: int) -> Column:
    """Bing-maps-style quadkey STRING for a depth-level tile: one
    base-4 digit per level, most-significant first, digit = x_bit +
    2*y_bit (the public Bing tile-system convention; Schwartz, MSDN
    "Bing Maps Tile System") — the interop encoding web tile servers
    key caches by. Same bit order as the quadtree codes (O8/O27), so
    a tile's parent is exactly its quadkey PREFIX: dropping the last
    digit aggregates to the parent tile, and a prefix range scan is a
    subtree read. Pure JVM string concat of per-level lookups — no
    UDF."""
    digits = []
    for level in range(depth - 1, -1, -1):
        d = (F.shiftright(cell_x, level).bitwiseAND(F.lit(1))
             + F.shiftleft(F.shiftright(cell_y, level)
                           .bitwiseAND(F.lit(1)), 1))
        digits.append(F.element_at(
            F.array(F.lit("0"), F.lit("1"), F.lit("2"), F.lit("3")),
            (d + 1).cast("int")))
    return F.concat(*digits)


def quadkey_sql(cell_x: str, cell_y: str, depth: int) -> str:
    """DuckDB twin of quadkey — the identical per-level digit
    concatenation over integer cell-coordinate expressions."""
    parts = []
    for level in range(depth - 1, -1, -1):
        d = (f"(((({cell_x}) >> {level}) & 1)"
             f" + ((((({cell_y}) >> {level}) & 1)) * 2))")
        parts.append(f"CAST({d} AS VARCHAR)")
    return " || ".join(parts)


def morton3d(ix: Column, iy: Column, iz: Column) -> Column:
    """Interleave three (<=21-bit) integer columns; x bit 0, y bit 1,
    z bit 2 — same digit order as the octree child enum
    (DynamicOctree.hpp:56-65: index = bx + 2*by + 4*bz)."""
    return _spread3(ix).bitwiseOR(F.shiftleft(_spread3(iy), 1)).bitwiseOR(
        F.shiftleft(_spread3(iz), 2))


def grid_cell_sql(v: str, wmin: float, s: float, n: int) -> str:
    """Spark SQL text of the clamped cell index of the SQL expression
    ``v`` on an n-cell axis starting at ``wmin`` with cell edge ``s``:
    greatest(0, least(n - 1, floor((v - wmin) / s))) cast to INT, so
    out-of-world coordinates land in the edge cells.

    Why text rather than a Column tree: every F.col / F.lit / F.floor /
    F.greatest / arithmetic / cast node is at least one Py4J round trip
    (plus a captured call site), about a dozen per cell index, while a
    selectExpr / F.expr / filter string is parsed JVM-side in ONE round
    trip. Plan construction of the cell joins was dominated by those
    round trips. The parsed expression is the same tree, so the
    physical plan does not change. wmin and s are written as DOUBLE
    literals (``1024.0D``): a bare ``1024.0`` parses as DECIMAL."""
    return (f"CAST(greatest(0, least({n - 1}, "
            f"floor(({v} - {float(wmin)!r}D) / {float(s)!r}D))) AS INT)")


# ---------------------------------------------------------------------------
# Neighbour shift: the load ring of WorldPartition::update
# (WorldPartition.hpp:194-213) and every stencil built on it
# ---------------------------------------------------------------------------

def square_offsets(r: int) -> list[tuple[int, int]]:
    """The (2r+1)^2 Chebyshev ring, self included."""
    return [(dx, dy) for dx in range(-r, r + 1) for dy in range(-r, r + 1)]


QUEEN8 = [o for o in square_offsets(1) if o != (0, 0)]
ROOK4 = [(1, 0), (-1, 0), (0, 1), (0, -1)]
# a hex_cell (hq, hr) cell plus its 6 neighbours: the two same-lattice
# side neighbours (+-2, 0) and the four other-lattice diagonal ones
# (+-1, +-1); at h/w ~ sqrt(3) all six centres sit at (near-)equal
# distance 2w
HEX_RING = [(0, 0), (2, 0), (-2, 0), (1, 1), (1, -1), (-1, 1), (-1, -1)]


def neighbor_cells(df, cx: str, cy: str, offsets, out=("cell_x", "cell_y")):
    """One row per (row of df, offset): df's columns minus ``out``, plus
    ``out`` = home cell (SQL text ``cx``, ``cy``, evaluated over df) +
    offset. The probe side of every ring join and the scatter side of
    every stencil.

    Two selectExpr calls around ONE ``inline(array(named_struct(...)))``
    Generate, all SQL text: the build is a fixed handful of Py4J round
    trips whatever the number of offsets (a Column-tree offset array
    costs several round trips per offset), and the plan is one
    Generate under one Project."""
    ox, oy = out
    keep = [f"`{c}`" for c in df.columns if c not in out]
    arr = ", ".join(f"named_struct('_nb_dx', {dx}, '_nb_dy', {dy})"
                    for dx, dy in offsets)
    return (
        df.selectExpr(*keep, f"{cx} AS _nb_cx", f"{cy} AS _nb_cy",
                      f"inline(array({arr}))")
        .selectExpr(*keep, f"_nb_cx + _nb_dx AS `{ox}`",
                    f"_nb_cy + _nb_dy AS `{oy}`")
    )


def coarse_cell(x: Column, z: Column, cell: float) -> tuple[Column, Column]:
    """Coarse world-partition grid cell (WorldPartition.hpp:174-179):
    (int(x / cell), int(z / cell)) — C++ int cast truncates toward 0."""
    def trunc_div(v: Column) -> Column:
        q = v / F.lit(cell)
        return F.when(q < 0, -F.floor(-q)).otherwise(F.floor(q)).cast("long")

    return trunc_div(x), trunc_div(z)


# ---------------------------------------------------------------------------
# Static quadtree assignment (.Test/QuadTree.cpp:131-148) — pure projection
# ---------------------------------------------------------------------------

def assign_static_quadtree(
    df,
    world: Box2,
    max_depth: int,
    min_x: str = "min_x",
    min_y: str = "min_y",
    max_x: str = "max_x",
    max_y: str = "max_y",
    out_depth: str = "qt_depth",
    out_code: str = "qt_code",
):
    """Add (qt_depth, qt_code) columns: the node the reference's
    StaticQuadTree::insert would place each box at.

    Rule (.Test/QuadTree.cpp:131-148): starting at the root (depth 0),
    descend into the first child whose rect *contains* the item
    (min-closed / max-strict, :44-56) while child depth < max_depth.
    qt_code accumulates the 2-bit child digit per level
    (code = code*4 + (bx + 2*by)), i.e. the Morton path prefix.

    Implementation: per-level state is materialized as real columns
    (one withColumns projection per level) so the logical plan stays
    linear in max_depth; a pure expression recursion would grow the
    tree ~7x per level. Still a single narrow projection pipeline —
    no shuffle, fully codegen'd.
    """
    bmin_x, bmin_y, bmax_x, bmax_y = (F.col(c) for c in (min_x, min_y, max_x, max_y))
    cur = df.withColumns(
        {
            "_c0x": F.lit(float(world.min_x)),
            "_c0y": F.lit(float(world.min_y)),
            "_c1x": F.lit(float(world.max_x)),
            "_c1y": F.lit(float(world.max_y)),
            out_depth: F.lit(0),
            out_code: F.lit(0).cast("long"),
            "_done": F.lit(False),
        }
    )
    for _ in range(max_depth - 1):  # deepest node = max_depth - 1
        mid_x = F.col("_c0x") + (F.col("_c1x") - F.col("_c0x")) * F.lit(0.5)
        mid_y = F.col("_c0y") + (F.col("_c1y") - F.col("_c0y")) * F.lit(0.5)
        cur = cur.withColumns({"_mx": mid_x, "_my": mid_y})
        # child containment, min-closed / max-strict; lower child checked
        # first (child order 0..3, .Test/QuadTree.cpp:95-100)
        bx = (
            F.when((bmin_x >= F.col("_c0x")) & (bmax_x < F.col("_mx")), F.lit(0))
            .when((bmin_x >= F.col("_mx")) & (bmax_x < F.col("_c1x")), F.lit(1))
        )
        by = (
            F.when((bmin_y >= F.col("_c0y")) & (bmax_y < F.col("_my")), F.lit(0))
            .when((bmin_y >= F.col("_my")) & (bmax_y < F.col("_c1y")), F.lit(1))
        )
        cur = cur.withColumns({"_bx": bx, "_by": by})
        can = (~F.col("_done")) & F.col("_bx").isNotNull() & F.col("_by").isNotNull()
        cur = cur.withColumn("_can", can)
        digit = (F.col("_bx") + F.shiftleft(F.col("_by"), 1)).cast("long")
        cur = cur.withColumns(
            {
                out_code: F.when(
                    F.col("_can"), F.shiftleft(F.col(out_code), 2).bitwiseOR(digit)
                ).otherwise(F.col(out_code)),
                out_depth: F.when(F.col("_can"), F.col(out_depth) + 1).otherwise(
                    F.col(out_depth)
                ),
                "_c0x": F.when(F.col("_can") & (F.col("_bx") == 1), F.col("_mx")).otherwise(F.col("_c0x")),
                "_c1x": F.when(F.col("_can") & (F.col("_bx") == 0), F.col("_mx")).otherwise(F.col("_c1x")),
                "_c0y": F.when(F.col("_can") & (F.col("_by") == 1), F.col("_my")).otherwise(F.col("_c0y")),
                "_c1y": F.when(F.col("_can") & (F.col("_by") == 0), F.col("_my")).otherwise(F.col("_c1y")),
                "_done": F.col("_done") | ~F.col("_can"),
            }
        )
    return cur.drop("_c0x", "_c0y", "_c1x", "_c1y", "_mx", "_my", "_bx", "_by", "_can", "_done")


# ---------------------------------------------------------------------------
# Octree descent step (DynamicOctree.hpp:126-144) — used by the
# capacity-refinement loop in operators.tiling
# ---------------------------------------------------------------------------

def octree_child_digit(
    box_min: tuple[Column, Column, Column],
    box_max: tuple[Column, Column, Column],
    cell_min: tuple[Column, Column, Column],
    cell_max: tuple[Column, Column, Column],
) -> Column:
    """Digit (0-7) of the first child of cell [cell_min, cell_max] that
    *contains* (closed intervals, BoundaryBox.hpp:52-56) the item box,
    or NULL if no child contains it (item straddles a midplane).

    Child boxes are [min, mid] / [mid, max] per axis — both closed, so
    they share the midplane face exactly as the reference's child boxes
    do (resize(), DynamicOctree.hpp:76-95: child = (pos, halfsize) with
    closed containment). Lower child wins ties (checked first,
    enum order DynamicOctree.hpp:56-65).
    """
    digits = []
    for (bmin, bmax, cmin, cmax) in zip(box_min, box_max, cell_min, cell_max):
        mid = cmin + (cmax - cmin) * F.lit(0.5)
        d = (
            F.when((bmin >= cmin) & (bmax <= mid), F.lit(0))
            .when((bmin >= mid) & (bmax <= cmax), F.lit(1))
        )
        digits.append(d)
    bx, by, bz = digits
    return (bx + F.shiftleft(by, 1) + F.shiftleft(bz, 2)).cast("long")


def assign_quadtree_pow2(
    df,
    ix: str = "ix",
    iy: str = "iy",
    sx: str = "sx",
    sy: str = "sy",
    world_bits: int = 16,
    max_node_depth: int = 4,
    out_depth: str = "qt_depth",
    out_code: str = "qt_code",
):
    """Closed-form static-quadtree assignment for INTEGER boxes on a
    power-of-two world [0, 2^world_bits)^2 — exact, shallow-plan twin of
    ``assign_static_quadtree`` (used for driver-facing queries and the
    documents pipeline, where plans must stay safe under default
    optimizer configs).

    Box [ix, ix+sx) fits a depth-d cell iff ix>>(wb-d) == (ix+sx)>>(wb-d)
    (min-closed / max-strict, .Test/QuadTree.cpp:44-56); cells nest, so
    the reference's greedy descent lands at the deepest fitting depth.
    qt_code = Morton prefix of the cell at that depth.
    """
    max_x = F.col(ix) + F.col(sx)
    max_y = F.col(iy) + F.col(sy)
    world = 1 << world_bits
    depth_expr = F.lit(0)
    for d in range(1, max_node_depth + 1):
        sh = world_bits - d
        fits = (
            (F.shiftright(F.col(ix), sh) == F.shiftright(max_x, sh))
            & (max_x < world)
            & (F.shiftright(F.col(iy), sh) == F.shiftright(max_y, sh))
            & (max_y < world)
        )
        depth_expr = F.when(fits, F.lit(d)).otherwise(depth_expr)
    out = df.withColumn(out_depth, depth_expr)
    m = morton2d(
        F.shiftright(F.col(ix), world_bits - max_node_depth),
        F.shiftright(F.col(iy), world_bits - max_node_depth),
    )
    out = out.withColumn("_m_deep", m)
    code = F.lit(0).cast("long")
    for d in range(1, max_node_depth + 1):
        code = F.when(
            F.col(out_depth) == d,
            F.shiftright(F.col("_m_deep"), 2 * (max_node_depth - d)),
        ).otherwise(code)
    return out.withColumn(out_code, code).drop("_m_deep")


def assign_octree_pow2(
    df,
    ix: str = "ix",
    iy: str = "iy",
    iz: str = "iz",
    sx: str = "sx",
    sy: str = "sy",
    sz: str = "sz",
    world_bits: int = 16,
    max_depth: int = 5,
    out_depth: str = "oct_depth",
    out_code: str = "oct_code",
):
    """Closed-form STATIC 3D octree assignment for integer boxes on a
    power-of-two world (capacity-free variant; the capacity-gated exact
    O7 semantics live in operators.tiling.tile_octree_capacity).

    3D BoundaryBox containment is CLOSED on both ends
    (BoundaryBox.hpp:52-56), so box [i, i+s] fits a depth-d cell iff
    (i >> (wb-d)) == ((i + s - 1) >> (wb-d)) for every axis (s >= 1;
    a box touching the far world face still fits — no world check
    needed, overflow past the face fails the shift equality).
    oct_code = 3-bit-interleaved Morton prefix (x bit0, y bit1, z bit2
    = the SWD..NEU child enum order, DynamicOctree.hpp:56-65)."""
    cols = [(F.col(ix), F.col(sx)), (F.col(iy), F.col(sy)), (F.col(iz), F.col(sz))]
    depth_expr = F.lit(0)
    for d in range(1, max_depth + 1):
        sh = world_bits - d
        fits = F.lit(True)
        for i, s in cols:
            fits = fits & (F.shiftright(i, sh) == F.shiftright(i + s - 1, sh))
        depth_expr = F.when(fits, F.lit(d)).otherwise(depth_expr)
    out = df.withColumn(out_depth, depth_expr)
    sh_deep = world_bits - max_depth
    m = morton3d(
        F.shiftright(F.col(ix), sh_deep),
        F.shiftright(F.col(iy), sh_deep),
        F.shiftright(F.col(iz), sh_deep),
    )
    out = out.withColumn("_m3_deep", m)
    code = F.lit(0).cast("long")
    for d in range(1, max_depth + 1):
        code = F.when(
            F.col(out_depth) == d,
            F.shiftright(F.col("_m3_deep"), 3 * (max_depth - d)),
        ).otherwise(code)
    return out.withColumn(out_code, code).drop("_m3_deep")


def assign_octree_capacity_pow2(
    df,
    capacity: int = 4,
    max_depth: int = 5,
    seq_cols: tuple[str, ...] = ("obj_id",),
    ix: str = "ix",
    iy: str = "iy",
    iz: str = "iz",
    sx: str = "sx",
    sy: str = "sy",
    sz: str = "sz",
    world_bits: int = 16,
    out_depth: str = "oct_depth",
    out_code: str = "oct_code",
):
    """O7 EXACT capacity-gated octree assignment for integer boxes on a
    power-of-two world — the order-dependent DynamicOctree::insert rule
    (DynamicOctree.hpp:126-144) with unrolled per-level windows, safe
    under default optimizer configs (integer shifts only, no iterative
    CASE-WHEN box narrowing).

    Sequential rule: an item arriving at a node stays if (a) the node is
    at the depth limit, (b) fewer than `capacity` items are already
    stored there, or (c) no child cell contains its box (closed
    intervals). Else it descends into the containing child and the rule
    recurses. Equivalence of the distributed restatement: descent only
    happens once >= capacity items are stored, and stored counts never
    shrink, so the first `capacity` arrivals at a node always stay and
    every later arrival sees a full node — i.e. per node, rank arrivals
    by seq: rank <= capacity stays, rank > capacity descends iff some
    child contains the box (box fits depth d+1 iff d+1 <= dmax).

    `seq_cols` must totally order rows WITHIN any node partition (ties
    that are bit-identical rows are harmless).

    SINGLE-LINEAGE plan: one window per level on one DataFrame — the
    arrival rank at a depth-d node is the running count of rows that
    descended past depth d-1 (sum-over-window of the descend flag,
    which equals row_number among descenders for descenders), so no
    filter/union branching is needed and the physical plan is exactly
    max_depth+1 Exchange+Sort+Window pairs over ONE scan (a branch-
    per-level union re-executes every earlier level's shuffle in each
    branch: O(levels^2) exchanges). Level 0 ranks globally (single
    partition) — inherent to the sequential insert semantics; key
    cardinality grows 8x per level after that.

    Returns df + (oct_depth, oct_code); code = 3-bit Morton prefix
    (x bit0, y bit1, z bit2 — DynamicOctree.hpp:56-65 child order).
    """
    from pyspark.sql import Window

    cols = [(F.col(ix), F.col(sx)), (F.col(iy), F.col(sy)), (F.col(iz), F.col(sz))]
    depth_expr = F.lit(0)
    for d in range(1, max_depth + 1):
        sh = world_bits - d
        fits = F.lit(True)
        for i, s in cols:
            fits = fits & (F.shiftright(i, sh) == F.shiftright(i + s - 1, sh))
        depth_expr = F.when(fits, F.lit(d)).otherwise(depth_expr)
    sh_deep = world_bits - max_depth
    m = morton3d(
        F.shiftright(F.col(ix), sh_deep),
        F.shiftright(F.col(iy), sh_deep),
        F.shiftright(F.col(iz), sh_deep),
    )
    t = df.withColumn("_dmax", depth_expr).withColumn("_m5", m)

    # _desc{d} = row descends PAST depth d; _rk{d} = arrival rank at its
    # depth-d node (valid for rows that arrived, i.e. _desc{d-1})
    prev_desc = None  # level-0 arrival = everyone
    for d in range(max_depth):
        node = F.shiftright(F.col("_m5"), 3 * (max_depth - d))
        w = Window.partitionBy(node).orderBy(*seq_cols) \
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        arrived_flag = F.lit(1) if prev_desc is None else \
            F.when(F.col(prev_desc), 1).otherwise(0)
        t = t.withColumn(f"_rk{d}", F.sum(arrived_flag).over(w))
        arrived = F.lit(True) if prev_desc is None else F.col(prev_desc)
        stay = (F.col(f"_rk{d}") <= capacity) | (F.col("_dmax") == d)
        t = t.withColumn(f"_desc{d}", arrived & ~stay)
        prev_desc = f"_desc{d}"

    # final assignment: first level not descended past
    depth_out = F.lit(max_depth)
    code_out = F.col("_m5")
    for d in range(max_depth - 1, -1, -1):
        arrived = F.lit(True) if d == 0 else F.col(f"_desc{d - 1}")
        stays_here = arrived & ~F.col(f"_desc{d}")
        depth_out = F.when(stays_here, F.lit(d)).otherwise(depth_out)
        code_out = F.when(
            stays_here, F.shiftright(F.col("_m5"), 3 * (max_depth - d))
        ).otherwise(code_out)
    out = t.withColumn(out_depth, depth_out).withColumn(out_code, code_out)
    drop = ["_dmax", "_m5"] + [f"_rk{d}" for d in range(max_depth)] \
        + [f"_desc{d}" for d in range(max_depth)]
    return out.drop(*drop)


# ---------------------------------------------------------------------------
# Hilbert curve encoding (locality-optimal space-filling curve)
# ---------------------------------------------------------------------------

HILBERT_BITS = 16  # full resolution of the [0, 65536)^2 integer world


def with_hilbert2d(df, x: str = "ix", y: str = "iy", out: str = "h",
                   bits: int = HILBERT_BITS):
    """Append the Hilbert-curve index of integer grid coords (x, y) in
    [0, 2^bits)^2 — the locality-optimal alternative to ``morton2d``
    for clustering writes (plans/layout): consecutive Hilbert codes
    are ALWAYS 4-adjacent grid cells (Morton jumps a row/column
    boundary every other step), so a spatial range read touches fewer
    contiguous code runs (Moon et al., "Analysis of the Clustering
    Properties of the Hilbert Space-Filling Curve", TKDE 2001).

    Canonical per-bit descend-and-rotate (the Wikipedia xy2d form),
    branch-FREE: with rx = bit k of x, ry = bit k of y,

        d  += 4^k * (3*rx XOR ry)     [= 3*rx + ry - 2*rx*ry]
        x' = ry*x + (1-ry)*(rx*(N-1) + (1-2*rx)*y)   [flip+swap]
        y' = ry*y + (1-ry)*(rx*(N-1) + (1-2*rx)*x]

    so every step is pure BIGINT arithmetic in whole-stage codegen —
    no CASE, no UDF. Each step materializes named columns (a chain of
    ``bits`` Projects): rx/ry/x/y are referenced 2-3x downstream and
    are non-cheap, so Catalyst keeps the chain instead of inlining
    (exponential blow-up) — same discipline as the unrolled octree
    descent above. ANSI-safe: every intermediate < 2^32.

    Driver-safe closed-form cell math: scan -> 3*bits chained
    projections, no filter/join, so default-config constraint
    propagation stays linear. The reference keeps spatial order with
    an in-memory tree walk; at 100 TB the analog is SORTING BY this
    column at write time — a one-time range shuffle that buys
    row-group skipping on every later read."""
    n = 1 << bits
    hx, hy, hd = f"_{out}_x", f"_{out}_y", f"_{out}_d"
    rx, ry = f"_{out}_rx", f"_{out}_ry"
    df = df.withColumns({
        hx: F.col(x).cast("long"),
        hy: F.col(y).cast("long"),
        hd: F.lit(0).cast("long"),
    })
    for k in range(bits - 1, -1, -1):
        df = df.withColumns({
            rx: F.shiftright(F.col(hx), k).bitwiseAND(F.lit(1)),
            ry: F.shiftright(F.col(hy), k).bitwiseAND(F.lit(1)),
        })
        cx, cy, crx, cry = F.col(hx), F.col(hy), F.col(rx), F.col(ry)
        flip = crx * F.lit(n - 1)
        sign = F.lit(1) - F.lit(2) * crx
        df = df.withColumns({
            hd: F.col(hd) + F.lit(1 << (2 * k)) * (
                F.lit(3) * crx + cry - F.lit(2) * crx * cry),
            hx: cry * cx + (F.lit(1) - cry) * (flip + sign * cy),
            hy: cry * cy + (F.lit(1) - cry) * (flip + sign * cx),
        })
    return df.withColumn(out, F.col(hd)).drop(hx, hy, hd, rx, ry)


def hilbert2d_sql(x: str, y: str, base: str, bits: int = HILBERT_BITS,
                  cols: str = "obj_id") -> tuple[str, str, str]:
    """DuckDB twin of with_hilbert2d: returns (cte_chain, final_cte,
    final_col) where cte_chain is a ``h0 AS (...), h1 AS (...), ...``
    fragment to splice after ``WITH {base} AS (...)``. Step i's
    columns are suffixed (x{i}, y{i}, d{i}) so DuckDB's lateral
    column aliases can never capture the wrong generation; every
    expression is the same branch-free BIGINT arithmetic as the Spark
    chain, so codes agree bit-for-bit."""
    n = 1 << bits
    ctes = [f"h0 AS (SELECT {cols}, CAST({x} AS BIGINT) AS x0, "
            f"CAST({y} AS BIGINT) AS y0, CAST(0 AS BIGINT) AS d0 FROM {base})"]
    for i in range(1, bits + 1):
        k = bits - i
        p = i - 1
        rx = f"((x{p} >> {k}) & 1)"
        ry = f"((y{p} >> {k}) & 1)"
        quad = f"(3 * {rx} + {ry} - 2 * {rx} * {ry})"
        flip = f"{rx} * {n - 1}"
        sign = f"(1 - 2 * {rx})"
        ctes.append(
            f"h{i} AS (SELECT {cols}, "
            f"{ry} * x{p} + (1 - {ry}) * ({flip} + {sign} * y{p}) AS x{i}, "
            f"{ry} * y{p} + (1 - {ry}) * ({flip} + {sign} * x{p}) AS y{i}, "
            f"d{p} + {1 << (2 * k)} * {quad} AS d{i} FROM h{p})")
    return ",\n".join(ctes), f"h{bits}", f"d{bits}"


# ---------------------------------------------------------------------------
# Hexagonal cell index (H3-analog binning)
# ---------------------------------------------------------------------------

# Default half-pitches: h/w = 1774/1024 = 1.73242 ~ sqrt(3) = 1.73205,
# so cells are near-regular pointy-packed hexagons; w a power of two
# keeps one of the two divisions exact-by-construction.
HEX_W = 1024
HEX_H = 1774


def _floordiv(a: Column, b: int) -> Column:
    """Exact floor(a / b) for integer column a with |a| < 2^52 and
    positive int b: the true quotient k has |a/b - k| >= 1/b when
    nonzero, and 1/b vastly exceeds a double ulp at these magnitudes,
    so correctly-rounded double division never crosses an integer
    boundary and floor() is exact."""
    return F.floor(a / F.lit(b)).cast("long")


def hex_cell(x: Column, y: Column, w: int = HEX_W, h: int = HEX_H) -> tuple[Column, Column]:
    """Hexagonal binning — the H3 analog of the coarse grid (O6): maps
    a point to its nearest center of the two-lattice hexagonal grid
    A = {(2wi, 2hj)} union B = {((2i+1)w, (2j+1)h)} (a centered
    rectangular lattice; with h/w ~ sqrt(3) its Voronoi cells are
    near-regular hexagons — the same two-lattice nearest-center
    construction classical hexbin uses). Returns integer axial-style
    coords (hq, hr) with center (w*hq, h*hr) and hq == hr (mod 2);
    lattice A wins exact distance ties (deterministic, engine-exact:
    all distances are INTEGER squared Euclidean).

    Each of a cell's 6 neighbors differs by (+-2, 0) or (+-1, +-1) in
    (hq, hr) — see HEX_RING. ANSI-safe: squared distances
    <= w^2 + h^2 < 2^22.
    """
    ia = _floordiv(x + w, 2 * w)
    ja = _floordiv(y + h, 2 * h)
    ib = _floordiv(x, 2 * w)
    jb = _floordiv(y, 2 * h)
    dxa = x - 2 * w * ia
    dya = y - 2 * h * ja
    dxb = x - (2 * w * ib + w)
    dyb = y - (2 * h * jb + h)
    da = dxa * dxa + dya * dya
    db = dxb * dxb + dyb * dyb
    pick_a = da <= db
    hq = F.when(pick_a, 2 * ia).otherwise(2 * ib + 1).cast("long")
    hr = F.when(pick_a, 2 * ja).otherwise(2 * jb + 1).cast("long")
    return hq, hr


def _floordiv_sql(a: str, b: int) -> str:
    """DuckDB twin of _floordiv: true floor(a / b). DuckDB's `//`
    truncates toward zero on BIGINT (-7 // 2 = -3), so it is NOT the
    Spark F.floor(a/b) for negative a; mirror Spark's exact
    double-division floor instead (exact for |a| < 2^52, same
    argument as _floordiv)."""
    return f"CAST(floor(CAST({a} AS DOUBLE) / {b}) AS BIGINT)"


def hex_cell_sql(px: str, py: str, w: int = HEX_W, h: int = HEX_H) -> tuple[str, str]:
    """DuckDB twin of hex_cell: (hq-expr, hr-expr) SQL strings over an
    integer point (px, py) — floor division via _floordiv_sql (NOT
    DuckDB `//`, which truncates toward zero and diverges for
    negative coordinates), so the assignment is bit-for-bit the
    Spark one on the full signed domain."""
    ia = _floordiv_sql(f"(({px}) + {w})", 2 * w)
    ja = _floordiv_sql(f"(({py}) + {h})", 2 * h)
    ib = _floordiv_sql(f"({px})", 2 * w)
    jb = _floordiv_sql(f"({py})", 2 * h)
    dxa = f"(({px}) - {2 * w} * ({ia}))"
    dya = f"(({py}) - {2 * h} * ({ja}))"
    dxb = f"(({px}) - ({2 * w} * ({ib}) + {w}))"
    dyb = f"(({py}) - ({2 * h} * ({jb}) + {h}))"
    da = f"({dxa} * {dxa} + {dya} * {dya})"
    db = f"({dxb} * {dxb} + {dyb} * {dyb})"
    hq = f"CASE WHEN {da} <= {db} THEN 2 * ({ia}) ELSE 2 * ({ib}) + 1 END"
    hr = f"CASE WHEN {da} <= {db} THEN 2 * ({ja}) ELSE 2 * ({jb}) + 1 END"
    return hq, hr


def prefix_at_depth(
    code: Column, depth: Column, at_depth, bits_per_level: int = 2, max_depth: int = 8
) -> Column:
    """Morton-path prefix of a (depth, code) cell at a shallower depth.
    Spark's shiftright needs a literal bit count, so the (bounded)
    variable shift is a CASE chain over possible level deltas."""
    at = at_depth if isinstance(at_depth, Column) else F.lit(at_depth)
    delta = depth - at
    out = code
    for d in range(1, max_depth + 1):
        out = F.when(delta == d, F.shiftright(code, d * bits_per_level)).otherwise(out)
    return out
