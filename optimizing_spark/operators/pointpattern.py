"""Point-pattern statistics: Ripley's K and the nearest-neighbour
G-function over a planar point set — the classic second-order /
first-order pair of "is this pattern clustered, random, or regular?"
diagnostics (Ripley 1977; Diggle 2003). They complement the LATTICE
statistics in operators/autocorr (Moran/Geary/Gi* summarize a
cell-count surface; K and G interrogate the raw points), i.e. the
same progression the reference's demo pipeline makes from per-cell
counts to per-object queries (DynamicOctree.hpp:146-171 range search
feeding aggregate summaries).

Two estimator flavours per radius, both reported:

    naive (uncorrected):
        K_hat(r) = area * pairs_le_r / (n * (n - 1))
        G_hat(r) = nn_le_r / n
    border-corrected (minus sampling, Ripley 1988 §3.2): only points
    at least r from every window edge act as CENTERS, removing the
    downward bias the clipped window inflicts on the naive form:
        K_border(r) = area * pairs_border / (centers_border * (n - 1))
        G_border(r) = nn_border / centers_border
        (NULL when centers_border = 0 — the window is too small for r)

where pairs_le_r counts ORDERED pairs i != j with dist(i,j) <= r
(pairs_border: additionally center i interior at r) and nn_le_r
counts points whose nearest neighbour lies within r. All counts are
exact integers: candidate pairs come from ONE distance-band self-join
at r_max = max(radii) (the 9-cell ring-join shape of
operators/joins.distance_join — never all-pairs), dist² is exact
BIGINT arithmetic, each radius threshold is the integer comparison
dist² <= r², and interiority is an integer coordinate comparison. For
r <= r_max the band join is lossless for BOTH statistics: every pair
counted by K(r) has dist <= r <= r_max, and if a point has any
neighbour within r_max its true nearest neighbour is also within
r_max. The only floating-point is the one fixed-order IEEE epilogue
per row (integer→double conversion, one multiply, one divide — each
correctly rounded, so cross-engine bit-equal, same argument as
autocorr.getis_ord_gstar).

Scale shape: the self-join is the distance_join plan (single
(cell_x, cell_y) equi-shuffle, fan-out-guarded ring explode); the
symmetrized pair list re-acquires center coordinates via one pid
equi-join against the slim point projection; the per-radius fan-out
is a broadcast nested-loop against a literal len(radii)-row table, so
downstream rows are at most 2·|pairs| × |radii| with |pairs| bounded
by the density within r_max — cost never touches n² at any scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from optimizing_spark.config import Box2
from optimizing_spark.operators.joins import distance_join


def point_pattern(
    points: DataFrame,
    radii: Sequence[int],
    world: Box2,
    depth: int | None = None,
    id_col: str = "point_id",
) -> DataFrame:
    """Naive + border-corrected K_hat and G_hat at each radius in
    ``radii`` (ints). ``points`` needs columns (id_col, x, y). Returns
    one row per radius: (r, pairs_le_r, k_hat, nn_le_r, g_hat,
    n_points, centers_border, pairs_border, k_hat_border, nn_border,
    g_hat_border)."""
    radii = [int(r) for r in radii]
    rmax = max(radii)
    spark = points.sparkSession
    wx0, wy0 = int(world.min_x), int(world.min_y)
    wx1, wy1 = int(world.max_x), int(world.max_y)
    area = float((wx1 - wx0) * (wy1 - wy0))

    slim = points.select(F.col(id_col).alias("pid"),
                         F.col("x").cast("long").alias("x"),
                         F.col("y").cast("long").alias("y"))
    pairs = distance_join(points, rmax, world, depth=depth,
                          id_col=id_col).localCheckpoint()
    # symmetrize, then re-acquire the CENTER's coordinates (one pid
    # equi-join against the slim projection) for border interiority
    sym = (
        pairs.select(F.col("id_a").alias("pid"), "dist2")
        .unionAll(pairs.select(F.col("id_b").alias("pid"), "dist2"))
        .join(slim, "pid")
    )
    nn = sym.groupBy("pid").agg(
        F.min("dist2").alias("nn_d2"),
        F.min("x").alias("x"), F.min("y").alias("y"))
    rdf = spark.createDataFrame([(r,) for r in radii], "r long")

    def interior(r):
        return ((F.col("x") >= F.lit(wx0) + r)
                & (F.col("x") <= F.lit(wx1) - r)
                & (F.col("y") >= F.lit(wy0) + r)
                & (F.col("y") <= F.lit(wy1) - r))

    # inner BNLJ against the broadcast literal radii (the big side
    # streams, never broadcasts), naive + border counted in the SAME
    # pass via conditional aggregates (sym/nn are each evaluated
    # once, not once per estimator), then zero-count radii recovered
    # by a left join on the <= len(radii)-row aggregate
    rr = F.col("r") * F.col("r")

    def _both(df, cond, naive_name, border_name):
        inner = (
            df.join(F.broadcast(rdf), cond)
            .groupBy("r").agg(
                F.count(F.lit(1)).alias("_n"),
                F.count(F.when(interior(F.col("r")), F.lit(1)))
                .alias("_b"))
        )
        return rdf.join(inner, "r", "left").select(
            "r",
            F.coalesce("_n", F.lit(0)).cast("long").alias(naive_name),
            F.coalesce("_b", F.lit(0)).cast("long").alias(border_name))

    pc = _both(sym, F.col("dist2") <= rr, "pairs_le_r", "pairs_border")
    gc = _both(nn, F.col("nn_d2") <= rr, "nn_le_r", "nn_border")
    cb = rdf.join(
        slim.join(F.broadcast(rdf), interior(F.col("r")))
        .groupBy("r").agg(F.count(F.lit(1)).alias("_c")),
        "r", "left",
    ).select("r", F.coalesce("_c", F.lit(0)).cast("long")
             .alias("centers_border"))
    n1 = points.agg(F.count("*").alias("n_points"))
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        pc.join(gc, "r").join(cb, "r")
        .crossJoin(F.broadcast(n1))
        .select(
            "r",
            "pairs_le_r",
            ((dbl("pairs_le_r") * F.lit(area))
             / (F.col("n_points")
                * (F.col("n_points") - F.lit(1))).cast("double"))
            .alias("k_hat"),
            "nn_le_r",
            (dbl("nn_le_r") / dbl("n_points")).alias("g_hat"),
            "n_points",
            "centers_border",
            "pairs_border",
            F.when(F.col("centers_border") > 0,
                   (dbl("pairs_border") * F.lit(area))
                   / (F.col("centers_border")
                      * (F.col("n_points") - F.lit(1))).cast("double"))
            .alias("k_hat_border"),
            "nn_border",
            F.when(F.col("centers_border") > 0,
                   dbl("nn_border") / dbl("centers_border"))
            .alias("g_hat_border"),
        )
        .orderBy("r")
    )


def point_pattern_sql(
    pts_sql: str,
    radii: Sequence[int],
    world: Box2,
    id_col: str = "point_id",
) -> str:
    """DuckDB twin: the same counts from an explicit band self-join
    (|dx|, |dy| <= r_max pre-filter + exact dist² predicate) and the
    identical fixed-order IEEE epilogue. LEFT JOIN + count(expr) keeps
    zero-count radii present, mirroring Spark's count-recovery join;
    border terms use the identical integer interiority comparisons."""
    radii = [int(r) for r in radii]
    rmax = max(radii)
    wx0, wy0 = int(world.min_x), int(world.min_y)
    wx1, wy1 = int(world.max_x), int(world.max_y)
    area = float((wx1 - wx0) * (wy1 - wy0))
    values = ", ".join(f"({r})" for r in radii)
    inter = (f"s.x >= {wx0} + r.r AND s.x <= {wx1} - r.r"
             f" AND s.y >= {wy0} + r.r AND s.y <= {wy1} - r.r")
    inter_n = inter.replace("s.x", "nn.x").replace("s.y", "nn.y")
    inter_p = inter.replace("s.x", "p.x").replace("s.y", "p.y")
    return f"""
        WITH pts AS (
            SELECT CAST({id_col} AS BIGINT) AS pid,
                   CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
            FROM ({pts_sql}) base
        ),
        prs AS (
            SELECT a.pid AS ia, a.x AS ax, a.y AS ay,
                   b.pid AS ib, b.x AS bx, b.y AS by,
                   (a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) AS dist2
            FROM pts a JOIN pts b
              ON a.pid < b.pid
             AND abs(a.x - b.x) <= {rmax} AND abs(a.y - b.y) <= {rmax}
             AND (a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y) <= {rmax * rmax}
        ),
        sym AS (
            SELECT ia AS pid, ax AS x, ay AS y, dist2 FROM prs
            UNION ALL
            SELECT ib AS pid, bx AS x, by AS y, dist2 FROM prs
        ),
        nn AS (
            SELECT pid, min(dist2) AS nn_d2,
                   min(x) AS x, min(y) AS y
            FROM sym GROUP BY pid
        ),
        radii(r) AS (VALUES {values}),
        pc AS (
            SELECT r.r, count(s.dist2) AS pairs_le_r,
                   count(CASE WHEN {inter} THEN 1 END) AS pairs_border
            FROM radii r LEFT JOIN sym s ON s.dist2 <= r.r * r.r
            GROUP BY r.r
        ),
        gc AS (
            SELECT r.r, count(nn.nn_d2) AS nn_le_r,
                   count(CASE WHEN {inter_n} THEN 1 END) AS nn_border
            FROM radii r LEFT JOIN nn ON nn.nn_d2 <= r.r * r.r
            GROUP BY r.r
        ),
        cb AS (
            SELECT r.r, count(p.pid) AS centers_border
            FROM radii r LEFT JOIN pts p ON {inter_p}
            GROUP BY r.r
        ),
        n1 AS (SELECT count(*) AS n_points FROM pts)
        SELECT CAST(pc.r AS BIGINT) AS r,
               CAST(pc.pairs_le_r AS BIGINT) AS pairs_le_r,
               (CAST(pc.pairs_le_r AS DOUBLE) * {area!r})
               / CAST(n1.n_points * (n1.n_points - 1) AS DOUBLE)
               AS k_hat,
               CAST(gc.nn_le_r AS BIGINT) AS nn_le_r,
               CAST(gc.nn_le_r AS DOUBLE)
               / CAST(n1.n_points AS DOUBLE) AS g_hat,
               CAST(n1.n_points AS BIGINT) AS n_points,
               CAST(cb.centers_border AS BIGINT) AS centers_border,
               CAST(pc.pairs_border AS BIGINT) AS pairs_border,
               CASE WHEN cb.centers_border > 0 THEN
                   (CAST(pc.pairs_border AS DOUBLE) * {area!r})
                   / CAST(cb.centers_border * (n1.n_points - 1)
                          AS DOUBLE)
               END AS k_hat_border,
               CAST(gc.nn_border AS BIGINT) AS nn_border,
               CASE WHEN cb.centers_border > 0 THEN
                   CAST(gc.nn_border AS DOUBLE)
                   / CAST(cb.centers_border AS DOUBLE)
               END AS g_hat_border
        FROM pc JOIN gc ON pc.r = gc.r JOIN cb ON pc.r = cb.r
             CROSS JOIN n1
        ORDER BY r
    """
