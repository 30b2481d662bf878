"""Spatial autocorrelation over the cell index: Moran's I (Moran 1950),
Geary's C (Geary 1954) and per-cell Getis-Ord Gi* (Ord & Getis 1995)
with binary queen (8-adjacency) weights — "is this surface clustered,
random, or dispersed?", and WHERE — computed from EXACT integer
components with a short fixed-order IEEE epilogue, so the DuckDB twins
match bit-for-bit.

The scale-safe trick is RE-CENTERING, not multiply-through. The naive
exact form Σp(N·x_i − S)(N·x_j − S) needs N²·Σp x_i x_j, which
overflows BIGINT at ~10⁵ cells (caught red-handed by the 20M-point
bench --autocorr run). Center instead on the integer floor mean
m = S div N with remainder r = S − N·m (0 ≤ r < N) and deviations
y_i = x_i − m; then x̄ = m + r/N, x_i − x̄ = y_i − f with f = r/N, and
every aggregate the statistics need is small — it scales with the
DEVIATIONS, never with N²:

    Q1 = Σ y_i²                 (N·Σ(x−x̄)² = N·Q1 − r², "A")
    P1 = Σp y_i·y_j,  P2 = Σp (y_i + y_j),  G = Σp (y_i − y_j)²,  W

    num_moran(f) = P1 − f·P2 + W·f²            (float epilogue)
    I = N·num_moran / (W·(Q1 − r²/N))
    C = (N−1)·G / (2W·(Q1 − r²/N))
    Gi*_i: num_i = nbrY_i − f·W_i ;  z_i = num_i /
           sqrt(A·B_i / N² / (N−1)),  B_i = W_i·(N − W_i)

Portability argument: every integer is exact BIGINT; the epilogue is a
handful of conversions, +,−,×,÷ and one sqrt — ALL of which IEEE-754
requires correctly rounded — written in the SAME textual order in the
Spark column expressions and the SQL twins, and neither engine
re-associates float arithmetic. Bounds: |y| ≤ max|x − m|, so P1 ≤
W·max_y², Q1 ≤ N·max_y², A ≤ N²·max_y² — 10⁸ cells with cell counts
deviating by 10⁴ still fit 2^63 on every aggregate.

Degenerate inputs surface as NULL statistics with exact components
intact: a constant field (A = 0) and a pairless graph (W = 0) for the
globals; N < 2, A = 0, or W_i = N for Gi*.

Plan shape (the 100 TB story): the point table collapses to occupied
cells with ONE hash aggregation; the neighbor join explodes each cell
to its 8 (9 with self for Gi*) Chebyshev offsets and equi-joins on the
shifted cell key — the focal/kring shuffle shape, uniform keys, never
a distance or inequality join; pair sums reduce with a KEYLESS global
aggregate (map-side partial combine), and the 1-row globals ride a
broadcast crossJoin. m/r/y need the globals BEFORE the pair pass, so
the cell table is crossJoined with the broadcast 1-row aggregate — a
zero-shuffle map-side enrich. Distributed analog of the reference's
neighbor-ring load (WorldPartition.hpp:194-213) put to statistical
use. bench --autocorr records the 20M-point / 10⁶-cell datapoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import QUEEN8, neighbor_cells, square_offsets


def _centered(cells: DataFrame, val: str, cx: str, cy: str):
    """(enriched cell df with y = x − m, 1-row glob df) — the shared
    re-centering stage. glob: q1, n_cells, sum_x, m, r."""
    c = cells.select(
        F.col(cx).cast("long").alias("cx"),
        F.col(cy).cast("long").alias("cy"),
        F.col(val).cast("long").alias("x"),
    )
    g0 = c.agg(
        F.count("*").alias("n_cells"),
        F.sum("x").alias("sum_x"),
    ).select(
        "n_cells", "sum_x",
        F.floor(F.col("sum_x") / F.col("n_cells")).cast("long").alias("m"),
    ).select(
        "*",
        (F.col("sum_x") - F.col("n_cells") * F.col("m")).alias("r"),
    )
    cy_ = c.crossJoin(F.broadcast(g0)).select(
        "cx", "cy", "x", (F.col("x") - F.col("m")).alias("y"))
    glob = cy_.agg(F.sum(F.col("y") * F.col("y")).alias("q1")) \
        .crossJoin(F.broadcast(g0))
    return cy_, glob


def spatial_autocorr(
    cells: DataFrame,
    val: str = "n",
    cx: str = "cx",
    cy: str = "cy",
) -> DataFrame:
    """One-row DataFrame of exact autocorrelation components + the two
    global statistics, over a per-cell table (one row per OCCUPIED
    cell; missing cells are non-entities, the standard lattice-data
    convention). Columns: n_cells, w_pairs, sum_x, m, r, q1, p1, p2,
    num_geary, moran_i, geary_c."""
    cy_, glob = _centered(cells, val, cx, cy)
    left = neighbor_cells(cy_.select(F.col("y").alias("y_i"), "cx", "cy"),
                          "cx", "cy", QUEEN8, out=("jx", "jy"))
    pairs = left.join(
        cy_.select(F.col("cx").alias("jx"), F.col("cy").alias("jy"),
                   F.col("y").alias("y_j")),
        on=["jx", "jy"],
    )
    # keyless global agg: exactly one row even with zero pairs
    pair_agg = pairs.agg(
        F.count("*").alias("w_pairs"),
        F.coalesce(F.sum(F.col("y_i") * F.col("y_j")), F.lit(0))
        .alias("p1"),
        F.coalesce(F.sum(F.col("y_i") + F.col("y_j")), F.lit(0))
        .alias("p2"),
        F.coalesce(F.sum((F.col("y_i") - F.col("y_j"))
                         * (F.col("y_i") - F.col("y_j"))), F.lit(0))
        .alias("num_geary"),
    )
    n = F.col("n_cells").cast("double")
    w = F.col("w_pairs").cast("double")
    fr = F.col("r").cast("double") / F.col("n_cells").cast("double")
    numf = (F.col("p1").cast("double") - fr * F.col("p2").cast("double")
            + F.col("w_pairs").cast("double") * fr * fr)
    denf = (F.col("q1").cast("double")
            - F.col("r").cast("double") * F.col("r").cast("double")
            / F.col("n_cells").cast("double"))
    a_int = F.col("n_cells") * F.col("q1") - F.col("r") * F.col("r")
    ok = (F.col("w_pairs") > 0) & (a_int > 0)
    return pair_agg.crossJoin(F.broadcast(glob)).select(
        "n_cells", "w_pairs", "sum_x", "m", "r", "q1", "p1", "p2",
        "num_geary",
        F.when(ok, (n * numf) / (w * denf)).alias("moran_i"),
        F.when(
            ok,
            ((F.col("n_cells") - F.lit(1)).cast("double")
             * F.col("num_geary").cast("double"))
            / ((F.lit(2) * F.col("w_pairs")).cast("double") * denf),
        ).alias("geary_c"),
    )


def spatial_autocorr_sql(cells_sql: str, val: str = "n",
                         cx: str = "cx", cy: str = "cy") -> str:
    """DuckDB twin: identical integer components, identical float
    epilogue op order — moran_i/geary_c agree with Spark
    bit-for-bit."""
    offs = ",".join(f"({dx},{dy})" for dx, dy in QUEEN8)
    return f"""
        WITH cells0 AS (
            SELECT CAST({cx} AS BIGINT) AS cx, CAST({cy} AS BIGINT) AS cy,
                   CAST({val} AS BIGINT) AS x
            FROM ({cells_sql}) base
        ),
        g0 AS (
            SELECT CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(sum(x) AS BIGINT) AS sum_x,
                   CAST(floor(CAST(sum(x) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
            FROM cells0
        ),
        cells AS (
            SELECT c.cx, c.cy, c.x, c.x - g.m AS y
            FROM cells0 c CROSS JOIN g0 g
        ),
        gstats AS (
            SELECT g.n_cells, g.sum_x, g.m,
                   g.sum_x - g.n_cells * g.m AS r,
                   CAST(sum(c.y * c.y) AS BIGINT) AS q1
            FROM cells c CROSS JOIN g0 g
            GROUP BY g.n_cells, g.sum_x, g.m
        ),
        offs AS (SELECT * FROM (VALUES {offs}) o(dx, dy)),
        pairs AS (
            SELECT a.y AS y_i, b.y AS y_j
            FROM cells a CROSS JOIN offs o
            JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
        ),
        pair_agg AS (
            SELECT CAST(count(*) AS BIGINT) AS w_pairs,
                   COALESCE(CAST(sum(y_i * y_j) AS BIGINT), 0) AS p1,
                   COALESCE(CAST(sum(y_i + y_j) AS BIGINT), 0) AS p2,
                   COALESCE(CAST(sum((y_i - y_j) * (y_i - y_j))
                                 AS BIGINT), 0) AS num_geary
            FROM pairs
        )
        SELECT g.n_cells, p.w_pairs, g.sum_x, g.m, g.r, g.q1, p.p1,
               p.p2, p.num_geary,
               CASE WHEN p.w_pairs > 0
                         AND g.n_cells * g.q1 - g.r * g.r > 0
                    THEN (CAST(g.n_cells AS DOUBLE)
                          * (CAST(p.p1 AS DOUBLE)
                             - CAST(g.r AS DOUBLE)
                               / CAST(g.n_cells AS DOUBLE)
                               * CAST(p.p2 AS DOUBLE)
                             + CAST(p.w_pairs AS DOUBLE)
                               * (CAST(g.r AS DOUBLE)
                                  / CAST(g.n_cells AS DOUBLE))
                               * (CAST(g.r AS DOUBLE)
                                  / CAST(g.n_cells AS DOUBLE))))
                         / (CAST(p.w_pairs AS DOUBLE)
                            * (CAST(g.q1 AS DOUBLE)
                               - CAST(g.r AS DOUBLE)
                                 * CAST(g.r AS DOUBLE)
                                 / CAST(g.n_cells AS DOUBLE)))
               END AS moran_i,
               CASE WHEN p.w_pairs > 0
                         AND g.n_cells * g.q1 - g.r * g.r > 0
                    THEN (CAST(g.n_cells - 1 AS DOUBLE)
                          * CAST(p.num_geary AS DOUBLE))
                         / (CAST(2 * p.w_pairs AS DOUBLE)
                            * (CAST(g.q1 AS DOUBLE)
                               - CAST(g.r AS DOUBLE)
                                 * CAST(g.r AS DOUBLE)
                                 / CAST(g.n_cells AS DOUBLE)))
               END AS geary_c
        FROM pair_agg p CROSS JOIN gstats g
    """


def getis_ord_gstar(
    cells: DataFrame,
    val: str = "n",
    cx: str = "cx",
    cy: str = "cy",
) -> DataFrame:
    """Per-cell Getis-Ord Gi* hot/cold-spot z-scores, binary queen
    weights INCLUDING self (the * variant) — the LOCAL companion to
    spatial_autocorr: q_moran says "the surface is clustered", Gi*
    says WHERE. Same occupied-cell convention, same re-centered
    integers (module docstring):

        num_i = nbrY_i − f·W_i   (float epilogue, nbrY = Σ ring* y_j)
        z_i   = num_i / sqrt(A·B_i / N² / (N−1)),  A = N·Q1 − r²,
                B_i = W_i·(N − W_i)

    sqrt is IEEE-correctly-rounded (q_ray_circle already banks on it),
    so the identical op order keeps z bit-portable. Returns one row
    per occupied cell: (cx, cy, x, w_i, nbr_y, z)."""
    cy_, glob = _centered(cells, val, cx, cy)
    contrib = neighbor_cells(cy_.select(F.col("y").alias("y_j"), "cx", "cy"),
                             "cx", "cy", square_offsets(1), out=("tx", "ty"))
    ring = contrib.join(
        cy_.select(F.col("cx").alias("tx"), F.col("cy").alias("ty"),
                   F.col("x")),
        on=["tx", "ty"],
    ).groupBy("tx", "ty", "x").agg(
        F.count("*").alias("w_i"),
        F.sum("y_j").alias("nbr_y"),
    )
    n_l = F.col("n_cells")
    fr = F.col("r").cast("double") / n_l.cast("double")
    numf = F.col("nbr_y").cast("double") - fr * F.col("w_i").cast("double")
    a_int = n_l * F.col("q1") - F.col("r") * F.col("r")
    b_int = F.col("w_i") * (n_l - F.col("w_i"))
    ok = (n_l > 1) & (a_int > 0) & (b_int > 0)
    denf = F.sqrt(
        a_int.cast("double") * b_int.cast("double")
        / (n_l.cast("double") * n_l.cast("double"))
        / (n_l - F.lit(1)).cast("double"))
    return ring.crossJoin(F.broadcast(glob)).select(
        F.col("tx").alias("cx"), F.col("ty").alias("cy"), "x", "w_i",
        "nbr_y",
        F.when(ok, numf / denf).alias("z"),
    )


def getis_ord_gstar_sql(cells_sql: str, val: str = "n",
                        cx: str = "cx", cy: str = "cy") -> str:
    """DuckDB twin of getis_ord_gstar: identical integers, identical
    float op order — z agrees bit-for-bit."""
    offs = ",".join(f"({dx},{dy})" for dx, dy in square_offsets(1))
    return f"""
        WITH cells0 AS (
            SELECT CAST({cx} AS BIGINT) AS cx, CAST({cy} AS BIGINT) AS cy,
                   CAST({val} AS BIGINT) AS x
            FROM ({cells_sql}) base
        ),
        g0 AS (
            SELECT CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(sum(x) AS BIGINT) AS sum_x,
                   CAST(floor(CAST(sum(x) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
            FROM cells0
        ),
        cells AS (
            SELECT c.cx, c.cy, c.x, c.x - g.m AS y
            FROM cells0 c CROSS JOIN g0 g
        ),
        gstats AS (
            SELECT g.n_cells, g.sum_x - g.n_cells * g.m AS r,
                   CAST(sum(c.y * c.y) AS BIGINT) AS q1
            FROM cells c CROSS JOIN g0 g
            GROUP BY g.n_cells, g.sum_x, g.m
        ),
        offs AS (SELECT * FROM (VALUES {offs}) o(dx, dy)),
        ring AS (
            SELECT b.cx, b.cy, b.x,
                   CAST(count(*) AS BIGINT) AS w_i,
                   CAST(sum(a.y) AS BIGINT) AS nbr_y
            FROM cells a CROSS JOIN offs o
            JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
            GROUP BY b.cx, b.cy, b.x
        )
        SELECT r.cx, r.cy, r.x, r.w_i, r.nbr_y,
               CASE WHEN g.n_cells > 1
                         AND g.n_cells * g.q1 - g.r * g.r > 0
                         AND r.w_i * (g.n_cells - r.w_i) > 0
                    THEN (CAST(r.nbr_y AS DOUBLE)
                          - CAST(g.r AS DOUBLE)
                            / CAST(g.n_cells AS DOUBLE)
                            * CAST(r.w_i AS DOUBLE))
                         / sqrt(
                             CAST(g.n_cells * g.q1 - g.r * g.r AS DOUBLE)
                             * CAST(r.w_i * (g.n_cells - r.w_i) AS DOUBLE)
                             / (CAST(g.n_cells AS DOUBLE)
                                * CAST(g.n_cells AS DOUBLE))
                             / CAST(g.n_cells - 1 AS DOUBLE))
               END AS z
        FROM ring r CROSS JOIN gstats g
    """
