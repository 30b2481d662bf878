"""Spatial join results must equal the oracle pair sets exactly
(BASELINE.md: identical join result rows)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from optimizing_spark.config import DEMO_WORLD, QT_BENCH_WORLD, Box2
from optimizing_spark.operators import joins, tiling
from optimizing_spark.sources import datagen
from tests.oracles import spatial as oracle

N_OBJ = 4000
N_Q = 40


def _qt_objects(spark, n):
    return tiling.with_box_cols(
        datagen.spark_table(spark, "quadtree_objects", n, partitions=6), dims=2
    )


def test_range_join_matches_oracle(spark):
    objs = _qt_objects(spark, N_OBJ)
    qs = spark.createDataFrame(datagen.query_rects_pandas(N_Q))

    got = joins.range_join(objs, qs, QT_BENCH_WORLD, depth=5) \
        .select("query_id", "obj_id").toPandas()
    got_pairs = set(zip(got.query_id, got.obj_id))

    opdf = datagen.quadtree_objects_pandas(N_OBJ)
    items = np.column_stack([
        opdf.x, opdf.y, opdf.x + opdf.size_x, opdf.y + opdf.size_y])
    qpdf = datagen.query_rects_pandas(N_Q)
    queries = qpdf[["min_x", "min_y", "max_x", "max_y"]].to_numpy()
    want = oracle.rect_overlap_pairs(queries, items)
    assert got_pairs == want


def test_range_join_equals_linear_scan(spark):
    """Cell-pruned range join == un-pruned O29 control, pair for pair."""
    objs = _qt_objects(spark, 2000)
    qs = spark.createDataFrame(datagen.query_rects_pandas(10))
    a = joins.range_join(objs, qs, QT_BENCH_WORLD, depth=4).select("query_id", "obj_id").toPandas()
    b = joins.linear_scan(objs, qs).select("query_id", "obj_id").toPandas()
    assert set(zip(a.query_id, a.obj_id)) == set(zip(b.query_id, b.obj_id))


def _lattice(spark, n, edge, id_col):
    """n x n integer tiles that touch their neighbours edge to edge."""
    return spark.createDataFrame(
        [(i * n + j, i * edge, j * edge, (i + 1) * edge, (j + 1) * edge)
         for i in range(n) for j in range(n)],
        f"{id_col} long, min_x long, min_y long, max_x long, max_y long")


def test_range_join_closed_equals_linear_scan(spark):
    """convention='closed' == the un-pruned closed control. Touching
    tiles and query edges on cell boundaries (edge 128 at depth 3) are
    exactly where closed and rect differ and where the reporting cell
    must still pick one cell per pair."""
    world = Box2(0.0, 0.0, 1024.0, 1024.0)
    objs = _lattice(spark, 12, 96, "obj_id")
    qs = spark.createDataFrame(
        [(0, 128, 128, 384, 384), (1, 384, 384, 384, 384),
         (2, 0, 0, 96, 96), (3, 500, 100, 1200, 130), (4, -40, 700, 0, 900)],
        "query_id long, min_x long, min_y long, max_x long, max_y long")

    def pairs(df):
        return {(r.query_id, r.obj_id) for r in df.select("query_id", "obj_id").collect()}

    closed = pairs(joins.range_join(objs, qs, world, depth=3, convention="closed"))
    assert closed == pairs(joins.linear_scan(objs, qs, convention="closed"))
    assert closed > pairs(joins.range_join(objs, qs, world, depth=3))


def test_range_join_plan_build_gateway_budget(spark, monkeypatch):
    """Building a range_join plan is bound by Py4J round trips; with the
    cell math as SQL text one build stays within a fixed command budget
    (the same cell math as Column trees takes about 1,400). Counts
    commands, not time, so it is deterministic. py4j memory-release
    commands are left out: they fire whenever Python's GC frees a JVM
    reference, not because of the build."""
    objs = _qt_objects(spark, 100)
    qs = spark.createDataFrame(datagen.query_rects_pandas(5))
    joins.range_join(objs, qs, QT_BENCH_WORLD, depth=6)  # one-time lookups
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    joins.range_join(objs, qs, QT_BENCH_WORLD, depth=6)
    monkeypatch.undo()
    assert 0 < len(sent) <= 400, len(sent)


def test_pip_join_matches_oracle(spark):
    pts = datagen.spark_table(spark, "spatial_objects", 3000, partitions=4)
    boxes = spark.createDataFrame(datagen.query_boxes_pandas(30))
    got = joins.pip_join(pts, boxes, dims=3) \
        .select("query_id", "obj_id").toPandas()
    got_pairs = set(zip(got.query_id, got.obj_id))

    ppdf = datagen.spatial_objects_pandas(3000)
    qpdf = datagen.query_boxes_pandas(30)
    want = oracle.contains_point_pairs_3d(
        qpdf[["min_x", "min_y", "min_z", "max_x", "max_y", "max_z"]].to_numpy(),
        ppdf.x.to_numpy(), ppdf.y.to_numpy(), ppdf.z.to_numpy(),
    )
    assert got_pairs == want


def test_knn_join_matches_oracle(spark):
    k = 5
    objs = datagen.spark_table(spark, "quadtree_objects", N_OBJ, partitions=6)
    qpdf = datagen.quadtree_objects_pandas(200, seed=7)[["obj_id", "x", "y"]] \
        .rename(columns={"obj_id": "query_id"})
    qs = spark.createDataFrame(qpdf)

    got = joins.knn_join(qs, objs, QT_BENCH_WORLD, depth=5, k=k) \
        .toPandas().sort_values(["query_id", "rank"])
    opdf = datagen.quadtree_objects_pandas(N_OBJ)
    want = oracle.knn_oracle(
        qpdf.x.to_numpy(), qpdf.y.to_numpy(),
        opdf.x.to_numpy(), opdf.y.to_numpy(), opdf.obj_id.to_numpy(), k,
    )
    got_lists = got.groupby("query_id").obj_id.apply(list)
    for qid in range(200):
        assert got_lists[qid] == want[qid], f"query {qid}"


def test_knn_starved_queries_escalate(spark):
    """With a tiny object set most ring-1 searches start empty — the
    escalation + bound pass must still return exact results."""
    k = 3
    objs = datagen.spark_table(spark, "quadtree_objects", 50, partitions=2)
    qpdf = datagen.quadtree_objects_pandas(20, seed=9)[["obj_id", "x", "y"]] \
        .rename(columns={"obj_id": "query_id"})
    qs = spark.createDataFrame(qpdf)
    got = joins.knn_join(qs, objs, QT_BENCH_WORLD, depth=6, k=k).toPandas()
    opdf = datagen.quadtree_objects_pandas(50)
    want = oracle.knn_oracle(
        qpdf.x.to_numpy(), qpdf.y.to_numpy(),
        opdf.x.to_numpy(), opdf.y.to_numpy(), opdf.obj_id.to_numpy(), k,
    )
    got_lists = got.sort_values(["query_id", "rank"]).groupby("query_id").obj_id.apply(list)
    for qid in range(20):
        assert got_lists[qid] == want[qid], f"query {qid}"


def test_nearest_hit_xy(spark):
    objs = datagen.spark_table(spark, "quadtree_objects", 1000, partitions=3)
    qpdf = datagen.quadtree_objects_pandas(15, seed=11)[["obj_id", "x", "y"]] \
        .rename(columns={"obj_id": "query_id"})
    qs = spark.createDataFrame(qpdf)
    got = joins.nearest_hit_xy(qs, objs).toPandas().sort_values("query_id")
    opdf = datagen.quadtree_objects_pandas(1000)
    want = oracle.knn_oracle(
        qpdf.x.to_numpy(), qpdf.y.to_numpy(),
        opdf.x.to_numpy(), opdf.y.to_numpy(), opdf.obj_id.to_numpy(), 1,
    )
    assert [int(v) for v in got.obj_id] == [w[0] for w in want]


def test_nearest_hit_xy_plan_reduces_before_its_one_exchange(spark):
    """The argmin is min_by: each task reduces its candidates in a
    partial aggregate below the plan's only shuffle Exchange, and there
    is no Window. A row_number argmin would shuffle every candidate."""
    objs = datagen.spark_table(spark, "quadtree_objects", 1000, partitions=3)
    qs = spark.createDataFrame([(0, 1.0, 2.0), (1, 3.0, 4.0)],
                               "query_id long, x double, y double")
    plan = joins.nearest_hit_xy(qs, objs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    shuffles = [i for i, line in enumerate(plan.splitlines())
                if "Exchange" in line and "BroadcastExchange" not in line]
    assert len(shuffles) == 1, plan
    below = "\n".join(plan.splitlines()[shuffles[0] + 1:])
    assert "partial_min_by" in below, plan


def test_ring_semi_join(spark):
    """3x3 ring membership (WorldPartition.hpp:198-204)."""
    depth = 4
    n = 1 << depth
    objs = datagen.spark_table(spark, "quadtree_objects", 2000, partitions=3)
    w = QT_BENCH_WORLD
    sx = (w.max_x - w.min_x) / n
    o = objs.withColumn("cell_x", F.floor(F.col("x") / sx).cast("int")) \
            .withColumn("cell_y", F.floor(F.col("y") / sx).cast("int"))
    qpdf = datagen.quadtree_objects_pandas(10, seed=13)[["obj_id", "x", "y"]] \
        .rename(columns={"obj_id": "query_id"})
    qs = spark.createDataFrame(qpdf)
    got = joins.ring_semi_join(o, qs, w, depth, k=1).select("query_id", "obj_id").toPandas()
    got_pairs = set(zip(got.query_id, got.obj_id))

    opdf = datagen.quadtree_objects_pandas(2000)
    ocx = np.clip(np.floor(opdf.x / sx), 0, n - 1).astype(int)
    ocy = np.clip(np.floor(opdf.y / sx), 0, n - 1).astype(int)
    want = set()
    for qi in range(10):
        qcx = int(np.clip(np.floor(qpdf.x[qi] / sx), 0, n - 1))
        qcy = int(np.clip(np.floor(qpdf.y[qi] / sx), 0, n - 1))
        m = (np.abs(ocx - qcx) <= 1) & (np.abs(ocy - qcy) <= 1)
        for oi in np.nonzero(m.to_numpy())[0]:
            want.add((qi, int(oi)))
    assert got_pairs == want


def test_knn_pathological_skew_exact_no_bnlj(spark):
    """All object mass in ONE grid cell: the density-derived r0 is
    defeated (uniformity assumption broken), so most queries starve at
    phase 1. The starved path must (a) stay exact and (b) derive its
    per-query radius from the broadcast occupied-cell summary instead
    of broadcasting the query set into a nested-loop join against ALL
    objects — the plan must contain no BroadcastNestedLoopJoin."""
    import contextlib
    import io

    import pandas as pd

    rng = np.random.RandomState(3)
    n_obj, k = 4000, 4
    w = QT_BENCH_WORLD
    span = (w.max_x - w.min_x) / (1 << 6)  # ~one depth-6 cell
    opdf = pd.DataFrame({
        "obj_id": np.arange(n_obj),
        "x": w.min_x + rng.uniform(0, span, n_obj),
        "y": w.min_y + rng.uniform(0, span, n_obj),
    })
    qpdf = datagen.quadtree_objects_pandas(30, seed=5)[["obj_id", "x", "y"]] \
        .rename(columns={"obj_id": "query_id"})
    got_df = joins.knn_join(
        spark.createDataFrame(qpdf), spark.createDataFrame(opdf),
        w, depth=6, k=k)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got_df.explain("formatted")
    assert "BroadcastNestedLoopJoin" not in buf.getvalue()

    got = got_df.toPandas()
    want = oracle.knn_oracle(
        qpdf.x.to_numpy(), qpdf.y.to_numpy(),
        opdf.x.to_numpy(), opdf.y.to_numpy(), opdf.obj_id.to_numpy(), k)
    got_lists = got.sort_values(["query_id", "rank"]) \
        .groupby("query_id").obj_id.apply(list)
    for qid in range(30):
        assert [int(v) for v in got_lists[qid]] == want[qid], f"query {qid}"


def test_knn_lazy_mode_matches_oracle(spark):
    """knn_join is a single fully-lazy plan (no driver actions — the
    shape streaming/compose-into-bigger-plan callers need); it must stay
    exact, including its second round."""
    k = 4
    objs = datagen.spark_table(spark, "quadtree_objects", 1500, partitions=4)
    qpdf = datagen.quadtree_objects_pandas(40, seed=13)[["obj_id", "x", "y"]] \
        .rename(columns={"obj_id": "query_id"})
    qs = spark.createDataFrame(qpdf)
    got = joins.knn_join(qs, objs, QT_BENCH_WORLD, depth=5, k=k).toPandas()
    opdf = datagen.quadtree_objects_pandas(1500)
    want = oracle.knn_oracle(
        qpdf.x.to_numpy(), qpdf.y.to_numpy(),
        opdf.x.to_numpy(), opdf.y.to_numpy(), opdf.obj_id.to_numpy(), k)
    got_lists = got.sort_values(["query_id", "rank"]) \
        .groupby("query_id").obj_id.apply(list)
    for qid in range(40):
        assert [int(v) for v in got_lists[qid]] == want[qid], f"query {qid}"


def test_knn_empty_objects_graceful(spark):
    """kNN against an empty object table must return an empty result,
    not raise (the unguarded density division used to overflow at
    F.ceil under ANSI mode)."""
    import pandas as pd

    objs = spark.createDataFrame(
        pd.DataFrame({"obj_id": [], "x": [], "y": []}),
        "obj_id long, x double, y double")
    qpdf = datagen.quadtree_objects_pandas(5, seed=2)[["obj_id", "x", "y"]] \
        .rename(columns={"obj_id": "query_id"})
    qs = spark.createDataFrame(qpdf)
    got = joins.knn_join(qs, objs, QT_BENCH_WORLD, depth=5, k=3)
    assert got.count() == 0


def test_knn_join_build_starts_no_job(spark):
    """Building the kNN plan runs nothing: the object count is a scalar
    subquery and no branch is decided by a driver-side probe."""
    objs = datagen.spark_table(spark, "quadtree_objects", 500, partitions=2)
    qs = spark.createDataFrame(
        datagen.quadtree_objects_pandas(10, seed=3)[["obj_id", "x", "y"]]
        .rename(columns={"obj_id": "query_id"}))
    sc = spark.sparkContext
    group = "test_knn_join_build_starts_no_job"
    sc.setJobGroup(group, "knn_join plan build")
    try:
        joins.knn_join(qs, objs, QT_BENCH_WORLD, depth=5, k=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_knn_fewer_objects_than_k(spark):
    """3 objects, k=5: no radius reaches k, so every query takes the
    full-grid ring and returns all 3 objects in oracle order."""
    import pandas as pd

    opdf = pd.DataFrame({"obj_id": [7, 2, 5], "x": [100.0, 52_000.0, 99_000.0],
                         "y": [100.0, 48_000.0, 1_000.0]})
    qpdf = datagen.quadtree_objects_pandas(12, seed=4)[["obj_id", "x", "y"]] \
        .rename(columns={"obj_id": "query_id"})
    got = joins.knn_join(spark.createDataFrame(qpdf), spark.createDataFrame(opdf),
                         QT_BENCH_WORLD, depth=5, k=5).toPandas()
    want = oracle.knn_oracle(
        qpdf.x.to_numpy(), qpdf.y.to_numpy(),
        opdf.x.to_numpy(), opdf.y.to_numpy(), opdf.obj_id.to_numpy(), 5)
    got_lists = got.sort_values(["query_id", "rank"]) \
        .groupby("query_id").obj_id.apply(list)
    assert len(got_lists) == len(qpdf)
    for qid in range(len(qpdf)):
        assert len(want[qid]) == 3
        assert [int(v) for v in got_lists[qid]] == want[qid], f"query {qid}"


def _knn_regimes(qx, qy, ox, oy, n, cell, k, oversample):
    """Which round finishes each query, by knn_join's own rule: 'fast'
    (>= k candidates in the r0 ring and the d_k disc fits it), 'bound'
    (>= k candidates, disc spills past r0) or 'starved' (< k)."""
    density = len(ox) / (n * n)
    r0 = min(n - 1, max(1, int(np.ceil((np.sqrt(oversample * k / density) - 1) / 2))))
    ocx = np.clip(ox // cell, 0, n - 1)
    ocy = np.clip(oy // cell, 0, n - 1)
    out = []
    for x, y in zip(qx, qy):
        qcx, qcy = min(n - 1, int(x // cell)), min(n - 1, int(y // cell))
        ring = np.maximum(np.abs(ocx - qcx), np.abs(ocy - qcy)) <= r0
        d2 = np.sort((ox[ring] - x) ** 2 + (oy[ring] - y) ** 2)
        if len(d2) < k:
            out.append("starved")
        else:
            bnd = min(n, int(np.floor(np.sqrt(d2[k - 1]) / cell)) + 1)
            out.append("fast" if bnd <= r0 else "bound")
    return out


def test_knn_mixed_regimes_match_oracle(spark):
    """A pytest-sized copy of the perfbench kNN input: uniform objects
    with an empty void square plus a dense hot cluster, queries in the
    cluster, deep in the void and near its edge — one call holds
    queries finished in round 1 (fast), satisfied queries re-ringed at
    their disc bound, and starved ones (some with no round-1 candidate
    at all); every answer equals the oracle."""
    import pandas as pd

    from optimizing_spark.config import POW2_WORLD_2D

    rng = np.random.default_rng(17)
    depth, k, oversample = 4, 5, 8
    n, cell = 1 << depth, 65536 // (1 << depth)
    v0, v1 = 5 * cell, 11 * cell  # 6x6-cell void
    ox = rng.integers(0, 65536, 2400)
    oy = rng.integers(0, 65536, 2400)
    keep = ~((ox >= v0) & (ox < v1) & (oy >= v0) & (oy < v1))
    ox, oy = ox[keep], oy[keep]
    hot = rng.integers(cell, 3 * cell, (600, 2))  # 2x2-cell cluster
    ox, oy = np.concatenate([ox, hot[:, 0]]), np.concatenate([oy, hot[:, 1]])
    opdf = pd.DataFrame({"obj_id": np.arange(len(ox)), "x": ox, "y": oy})
    qx = np.concatenate([rng.integers(cell, 3 * cell, 10),
                         rng.integers(v0 - cell // 2, v1 + cell // 2, 30)])
    qy = np.concatenate([rng.integers(cell, 3 * cell, 10),
                         rng.integers(v0 - cell // 2, v1 + cell // 2, 30)])
    qpdf = pd.DataFrame({"query_id": np.arange(len(qx)), "x": qx, "y": qy})

    regimes = _knn_regimes(qx, qy, ox, oy, n, cell, k, oversample)
    assert {"fast", "bound", "starved"} <= set(regimes), regimes

    got = joins.knn_join(spark.createDataFrame(qpdf), spark.createDataFrame(opdf),
                         POW2_WORLD_2D, depth=depth, k=k, oversample=oversample).toPandas()
    want = oracle.knn_oracle(qx, qy, ox, oy, opdf.obj_id.to_numpy(), k)
    got_lists = got.sort_values(["query_id", "rank"]) \
        .groupby("query_id").obj_id.apply(list)
    assert len(got) == k * len(qpdf)
    for qid in range(len(qpdf)):
        assert [int(v) for v in got_lists[qid]] == want[qid], \
            f"query {qid} ({regimes[qid]})"


def test_knn_round2_reuses_round1_exchange_over_parquet(spark, tmp_path):
    """Over a parquet object table AQE reuses round 1's query-keyed
    exchange in round 2 (the knn_join docstring's claim), so round 1's
    ring join runs once. Half the queries sit in the uniform part and
    finish in round 1; the other half sit deep in an empty void and are
    starved. Neither round's branch is then pruned as empty, so both
    read the exchange."""
    import pandas as pd

    from optimizing_spark.config import POW2_WORLD_2D

    rng = np.random.default_rng(23)
    depth, k = 4, 5
    cell = 65536 // (1 << depth)
    v0, v1 = 5 * cell, 11 * cell  # 6x6-cell void
    ox = rng.integers(0, 65536, 3000)
    oy = rng.integers(0, 65536, 3000)
    keep = ~((ox >= v0) & (ox < v1) & (oy >= v0) & (oy < v1))
    opdf = pd.DataFrame({"obj_id": np.arange(keep.sum()), "x": ox[keep], "y": oy[keep]})
    spark.createDataFrame(opdf).write.parquet(str(tmp_path / "objects"))
    qx = np.concatenate([rng.integers(12 * cell, 15 * cell, 8),
                         rng.integers(v0 + 2 * cell, v1 - 2 * cell, 8)])
    qy = np.concatenate([rng.integers(12 * cell, 15 * cell, 8),
                         rng.integers(v0 + 2 * cell, v1 - 2 * cell, 8)])
    qpdf = pd.DataFrame({"query_id": np.arange(16), "x": qx, "y": qy})
    regimes = _knn_regimes(qx, qy, opdf.x.to_numpy(), opdf.y.to_numpy(), 1 << depth, cell, k, 8)
    assert regimes == ["fast"] * 8 + ["starved"] * 8, regimes

    df = joins.knn_join(spark.createDataFrame(qpdf), spark.read.parquet(str(tmp_path / "objects")),
                        POW2_WORLD_2D, depth=depth, k=k)
    got = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan
    assert len(got) == k * len(qpdf)


def _convex_polys(rng, n_polys, world=65536):
    """Random convex polygons: sorted angular sweep of points around a
    center — integer coords."""
    polys = []
    for qid in range(n_polys):
        cx, cy = rng.integers(2000, world - 2000, size=2)
        n_v = int(rng.integers(3, 8))
        ang = np.sort(rng.uniform(0, 2 * np.pi, size=n_v))
        r = rng.integers(200, 1800, size=n_v)
        xs = (cx + r * np.cos(ang)).astype(np.int64)
        ys = (cy + r * np.sin(ang)).astype(np.int64)
        # angular construction around the centroid is convex only if the
        # radii don't fold edges back; enforce convexity by taking the
        # convex hull via monotone cross-product pruning
        pts = list(zip(xs.tolist(), ys.tolist()))
        hull = _hull_ccw(pts)
        if len(hull) >= 3:
            polys.append((qid, hull))
    return polys


def _hull_ccw(pts):
    """Andrew monotone chain -> CCW hull without repeated last point."""
    pts = sorted(set(pts))
    if len(pts) < 3:
        return pts

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                if (ax - ox) * (p[1] - oy) - (ay - oy) * (p[0] - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = half(pts)
    upper = half(reversed(pts))
    return lower[:-1] + upper[:-1]


def _np_point_in_poly(px, py, hull):
    """Boundary-inclusive CCW half-plane oracle (pure integer math)."""
    n = len(hull)
    for i in range(n):
        ax, ay = hull[i]
        bx, by = hull[(i + 1) % n]
        if (bx - ax) * (py - ay) - (by - ay) * (px - ax) < 0:
            return False
    return True


def test_polygon_join_matches_numpy_oracle(spark):
    rng = np.random.default_rng(7)
    polys = _convex_polys(rng, 25)
    n_pts = 3000
    px = rng.integers(0, 65536, size=n_pts)
    py = rng.integers(0, 65536, size=n_pts)
    # force boundary coverage: drop some points ON vertices and edges
    for qid, hull in polys[:5]:
        px[qid * 3], py[qid * 3] = hull[0]
        mx = (hull[0][0] + hull[1][0]) // 2
        my = (hull[0][1] + hull[1][1]) // 2
        px[qid * 3 + 1], py[qid * 3 + 1] = mx, my

    pts = spark.createDataFrame(
        [(int(i), int(px[i]), int(py[i])) for i in range(n_pts)],
        "point_id long, x long, y long")
    pdf = spark.createDataFrame(
        [(int(qid), [{"x": int(x), "y": int(y)} for x, y in hull])
         for qid, hull in polys],
        "query_id long, vertices array<struct<x:long,y:long>>")

    got = joins.polygon_join(pts, pdf, method="broadcast") \
        .select("query_id", "point_id").toPandas()
    got_pairs = set(zip(got.query_id, got.point_id))

    want = {
        (qid, i)
        for qid, hull in polys
        for i in range(n_pts)
        if _np_point_in_poly(int(px[i]), int(py[i]), hull)
    }
    assert got_pairs == want
    # the forced on-vertex / on-edge points must be inside (closed rule)
    for qid, hull in polys[:5]:
        assert (qid, qid * 3) in got_pairs


def test_polygon_join_cells_equals_broadcast(spark):
    from optimizing_spark.config import Box2

    rng = np.random.default_rng(11)
    polys = _convex_polys(rng, 20)
    n_pts = 2000
    px = rng.integers(0, 65536, size=n_pts)
    py = rng.integers(0, 65536, size=n_pts)
    pts = spark.createDataFrame(
        [(int(i), int(px[i]), int(py[i])) for i in range(n_pts)],
        "point_id long, x long, y long")
    pdf = spark.createDataFrame(
        [(int(qid), [{"x": int(x), "y": int(y)} for x, y in hull])
         for qid, hull in polys],
        "query_id long, vertices array<struct<x:long,y:long>>")
    world = Box2(0.0, 0.0, 65536.0, 65536.0)

    a = joins.polygon_join(pts, pdf, method="broadcast") \
        .select("query_id", "point_id").toPandas()
    b = joins.polygon_join(pts, pdf, method="cells", world=world, depth=5) \
        .select("query_id", "point_id").toPandas()
    assert len(b) == len(set(zip(b.query_id, b.point_id)))  # exactly-once
    assert set(zip(a.query_id, a.point_id)) == set(zip(b.query_id, b.point_id))


_TRI = "array<struct<x:long,y:long>>"
_SEG = "long, x1 long, y1 long, x2 long, y2 long"


def _tri(s, cols, d=0):
    return s.createDataFrame(
        [(0, [{"x": d, "y": d}, {"x": 9, "y": d}, {"x": d, "y": 9}])], cols)


def test_polygon_polygon_join_cells_gates_before_fold(spark):
    """The cells plan's join condition runs the integer bbox and
    reporting-cell gates before the first edge-pair fold (``exists(``),
    so a pair sharing k cells pays one fold, not k. Pins the conjunct
    order the shared bbox-join plan writes against Catalyst's filter
    push order."""
    import re

    df = joins.polygon_polygon_join(
        _tri(spark, f"a_id long, vertices_a {_TRI}"),
        _tri(spark, f"b_id long, vertices_b {_TRI}", 1),
        method="cells", world=Box2(0.0, 0.0, 65536.0, 65536.0), depth=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    cond = next(line for line in plan.splitlines()
                if "Join" in line and "exists(" in line)
    fold = cond.index("exists(")
    gates = [r"\(_ax0#\d+L? <= _bx1#\d+L?\)", r"\(_ay1#\d+L? >= _by0#\d+L?\)",
             r"greatest\(_ax0#\d+L?, _bx0#\d+L?\)", r"greatest\(_ay0#\d+L?, _by0#\d+L?\)"]
    for gate in gates:
        m = re.search(gate, cond)
        assert m is not None and m.start() < fold, gate


_METHOD_JOINS = {
    "polygon_join": lambda s, m, w: joins.polygon_join(
        s.createDataFrame([(0, 1, 1)], "point_id long, x long, y long"),
        _tri(s, f"query_id long, vertices {_TRI}"), method=m, world=w),
    "polygon_polygon_join": lambda s, m, w: joins.polygon_polygon_join(
        _tri(s, f"a_id long, vertices_a {_TRI}"),
        _tri(s, f"b_id long, vertices_b {_TRI}", 1), method=m, world=w),
    "segment_box_join": lambda s, m, w: joins.segment_box_join(
        s.createDataFrame([(0, 0, 0, 9, 9)], f"seg_id {_SEG}"),
        s.createDataFrame([(0, 1, 1, 5, 5)], "query_id long, q_min_x long, "
                          "q_min_y long, q_max_x long, q_max_y long"),
        method=m, world=w),
    "segment_segment_join": lambda s, m, w: joins.segment_segment_join(
        s.createDataFrame([(0, 0, 0, 9, 9)], "a_id long, ax1 long, ay1 long, ax2 long, ay2 long"),
        s.createDataFrame([(0, 0, 9, 9, 0)], "b_id long, bx1 long, by1 long, bx2 long, by2 long"),
        method=m, world=w),
    "radius_join": lambda s, m, w: joins.radius_join(
        s.createDataFrame([(0, 1, 1)], "point_id long, x long, y long"),
        s.createDataFrame([(0, 2, 2)], "query_id long, qx long, qy long"),
        5, w, method=m),
    "snap_join": lambda s, m, w: joins.snap_join(
        s.createDataFrame([(0, 1, 1)], "point_id long, px long, py long"),
        s.createDataFrame([(0, 0, 0, 9, 9)], f"seg_id {_SEG}"), 5, w, method=m),
}


@pytest.mark.parametrize("name", sorted(_METHOD_JOINS))
@pytest.mark.parametrize("method,world", [("bogus", QT_BENCH_WORLD), ("cells", None)],
                         ids=["bogus_method", "cells_without_world"])
def test_method_join_rejects_bad_method(spark, name, method, world):
    """Every method-taking join refuses an unknown method and a cells
    plan without a world box with a ValueError, before any job runs."""
    with pytest.raises(ValueError, match="unknown .*method|needs a world box"):
        _METHOD_JOINS[name](spark, method, world)


# ---------------------------------------------------------------------------
# Segment-box intersection join
# ---------------------------------------------------------------------------

def _lb_segment_hits_box(x1, y1, x2, y2, bx0, by0, bx1, by1):
    """Independent exact oracle: Liang-Barsky clipping in exact
    rational arithmetic (Fractions) — a DIFFERENT algorithm from the
    engine's SAT predicate, closed-set semantics."""
    from fractions import Fraction

    dx, dy = x2 - x1, y2 - y1
    t0, t1 = Fraction(0), Fraction(1)
    for p, q in ((-dx, x1 - bx0), (dx, bx1 - x1),
                 (-dy, y1 - by0), (dy, by1 - y1)):
        if p == 0:
            if q < 0:
                return False
        else:
            t = Fraction(q, p)
            if p < 0:
                if t > t1:
                    return False
                t0 = max(t0, t)
            else:
                if t < t0:
                    return False
                t1 = min(t1, t)
    return t0 <= t1


def test_segment_box_join_matches_rational_oracle(spark):
    rng = np.random.default_rng(7)
    n_seg, n_box = 300, 25
    segs = []
    for i in range(n_seg):
        x1, y1 = int(rng.integers(0, 2000)), int(rng.integers(0, 2000))
        dx, dy = int(rng.integers(-400, 401)), int(rng.integers(-400, 401))
        segs.append((i, x1, y1, x1 + dx, y1 + dy))
    boxes = []
    for i in range(n_box):
        bx0, by0 = int(rng.integers(0, 1800)), int(rng.integers(0, 1800))
        boxes.append((i, bx0, by0, bx0 + int(rng.integers(1, 500)),
                      by0 + int(rng.integers(1, 500))))
    # force touching cases: a segment ending exactly on a box corner
    # and one collinear with a box edge
    segs.append((n_seg, boxes[0][1] - 50, boxes[0][2] - 50,
                 boxes[0][1], boxes[0][2]))
    segs.append((n_seg + 1, boxes[1][1] - 100, boxes[1][2],
                 boxes[1][3] + 100, boxes[1][2]))

    sdf = spark.createDataFrame(segs, "seg_id long, x1 long, y1 long, x2 long, y2 long")
    bdf = spark.createDataFrame(
        boxes, "query_id long, q_min_x long, q_min_y long, q_max_x long, q_max_y long")
    got = joins.segment_box_join(sdf, bdf, method="broadcast") \
        .select("query_id", "seg_id").toPandas()
    got_pairs = set(zip(got.query_id, got.seg_id))
    want = {
        (qid, sid)
        for qid, bx0, by0, bx1, by1 in boxes
        for sid, x1, y1, x2, y2 in segs
        if _lb_segment_hits_box(x1, y1, x2, y2, bx0, by0, bx1, by1)
    }
    assert got_pairs == want
    assert (0, n_seg) in got_pairs  # corner-touch counts (closed)
    assert (1, n_seg + 1) in got_pairs  # edge-collinear counts


def test_segment_box_join_cells_equals_broadcast(spark):
    from optimizing_spark.config import Box2

    rng = np.random.default_rng(23)
    segs = []
    for i in range(2000):
        x1, y1 = int(rng.integers(0, 65536)), int(rng.integers(0, 65536))
        segs.append((i, x1, y1, x1 + int(rng.integers(-4000, 4001)),
                     y1 + int(rng.integers(-4000, 4001))))
    boxes = []
    for i in range(30):
        bx0, by0 = int(rng.integers(0, 60000)), int(rng.integers(0, 60000))
        boxes.append((i, bx0, by0, bx0 + int(rng.integers(500, 4000)),
                      by0 + int(rng.integers(500, 4000))))
    sdf = spark.createDataFrame(segs, "seg_id long, x1 long, y1 long, x2 long, y2 long")
    bdf = spark.createDataFrame(
        boxes, "query_id long, q_min_x long, q_min_y long, q_max_x long, q_max_y long")
    world = Box2(0.0, 0.0, 65536.0, 65536.0)
    a = joins.segment_box_join(sdf, bdf, method="broadcast") \
        .select("query_id", "seg_id").toPandas()
    b = joins.segment_box_join(sdf, bdf, method="cells", world=world, depth=5) \
        .select("query_id", "seg_id").toPandas()
    assert len(b) == len(set(zip(b.query_id, b.seg_id)))  # exactly-once
    assert set(zip(a.query_id, a.seg_id)) == set(zip(b.query_id, b.seg_id))


def test_distance_join_matches_brute_force(spark):
    from optimizing_spark.config import Box2

    rng = np.random.default_rng(31)
    n = 1200
    px = rng.integers(0, 65536, size=n)
    py = rng.integers(0, 65536, size=n)
    d = 2500
    pts = spark.createDataFrame(
        [(int(i), int(px[i]), int(py[i])) for i in range(n)],
        "point_id long, x long, y long")
    world = Box2(0.0, 0.0, 65536.0, 65536.0)
    got = joins.distance_join(pts, d=d, world=world, depth=5).toPandas()
    got_pairs = {(a, b): dd for a, b, dd in
                 zip(got.id_a, got.id_b, got.dist2)}
    dx = px[:, None] - px[None, :]
    dy = py[:, None] - py[None, :]
    d2 = dx * dx + dy * dy
    want = {}
    for i in range(n):
        for j in range(i + 1, n):
            if d2[i, j] <= d * d:
                want[(i, j)] = d2[i, j]
    assert got_pairs == want
    assert len(got) == len(set(zip(got.id_a, got.id_b)))  # exactly-once
    assert len(want) > 0

    # auto-depth (depth=None) returns the identical pair set
    auto = joins.distance_join(pts, d=d, world=world).toPandas()
    auto_pairs = {(a, b): dd for a, b, dd in
                  zip(auto.id_a, auto.id_b, auto.dist2)}
    assert auto_pairs == want


def test_distance_join_fanout_guard():
    """Auto-depth keeps the ring explode at the fixed 9-cell fan-out
    (cell_edge in [d, 2d) => r=1) across the d range, and an explicit
    deep depth with a large d raises instead of silently shuffling
    (2r+1)^2 copies — the r4-verdict blow-up guard."""
    import math

    from optimizing_spark.config import Box2

    world = Box2(0.0, 0.0, 65536.0, 65536.0)
    for d in (10, 100, 1500, 2500, 20000, 70000):
        ext = 65536.0
        depth = max(0, min(12, int(math.floor(math.log2(max(ext / max(d, 1), 1.0))))))
        edge = ext / (1 << depth)
        r = -(-d // int(edge))
        assert r <= 1 or d > ext, (d, depth, edge, r)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="fan-out"):
        # depth=12 -> cell_edge=16, d=2500 -> r=157: must refuse
        # (the guard fires before any DataFrame is touched)
        joins.distance_join(None, 2500, world, depth=12)


def test_ring_fanout_guard_counts_copies_per_row(spark):
    """The guard compares the copies each probe row really becomes. At
    r=4 (d=4000, depth 6, 1024-wide cells) st_pair_join's half-space of
    the ring x 3 time buckets is (3*81+1)/2 = 122 copies > 81 and must
    raise; distance_join's plain ring is 81 <= 81 and must build."""
    world = Box2(0.0, 0.0, 65536.0, 65536.0)
    with pytest.raises(ValueError, match=r"fan-out .* = 122 copies per row"):
        joins.st_pair_join(None, 4000, 60, world, depth=6)
    pts = spark.createDataFrame([(0, 10, 10), (1, 20, 20)],
                                "point_id long, x long, y long")
    assert joins.distance_join(pts, 4000, world, depth=6).count() == 1


def test_distance_join_d_exceeds_world(spark):
    """d larger than the world extent must NOT dead-end in the auto
    path: auto-depth bottoms out at 0 (one cell) and r clamps to the
    grid width (ring offsets past the clamped grid can never match),
    so the exact d^2 predicate does all the work and every qualifying
    pair — here, all of them — comes back exactly once."""
    from optimizing_spark.config import Box2

    world = Box2(0.0, 0.0, 65536.0, 65536.0)
    rng = np.random.default_rng(47)
    n = 60
    px = rng.integers(0, 65536, size=n)
    py = rng.integers(0, 65536, size=n)
    pts = spark.createDataFrame(
        [(int(i), int(px[i]), int(py[i])) for i in range(n)],
        "point_id long, x long, y long")
    # d = 300000 > sqrt(2)*65536: every unordered pair qualifies
    got = joins.distance_join(pts, d=300_000, world=world).toPandas()
    assert len(got) == n * (n - 1) // 2
    assert len(got) == len(set(zip(got.id_a, got.id_b)))
    # streaming twin shares _ring_grid: same geometry, no raise
    depth, ncells, _, _, r = joins._ring_grid(world, 300_000, None)
    assert (depth, ncells, r) == (0, 1, 0)


def _frac_segs_cross(a, b):
    """Exact rational oracle: closed segments intersect iff some point
    satisfies both parametrizations with s, t in [0, 1] — solved in
    Fractions (parallel/collinear handled via 1D projection overlap)."""
    from fractions import Fraction

    (ax1, ay1, ax2, ay2), (bx1, by1, bx2, by2) = a, b
    rx, ry = ax2 - ax1, ay2 - ay1
    sx, sy = bx2 - bx1, by2 - by1

    def _pt_on(px, py, x1, y1, x2, y2):
        return ((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) == 0
                and min(x1, x2) <= px <= max(x1, x2)
                and min(y1, y2) <= py <= max(y1, y2))

    if rx == 0 and ry == 0:  # A degenerate to a point
        return _pt_on(ax1, ay1, bx1, by1, bx2, by2)
    if sx == 0 and sy == 0:  # B degenerate to a point
        return _pt_on(bx1, by1, ax1, ay1, ax2, ay2)
    den = rx * sy - ry * sx
    qpx, qpy = bx1 - ax1, by1 - ay1
    if den != 0:
        t = Fraction(qpx * sy - qpy * sx, den)
        u = Fraction(qpx * ry - qpy * rx, den)
        return 0 <= t <= 1 and 0 <= u <= 1
    # parallel: intersect only if collinear AND 1D spans overlap
    if qpx * ry - qpy * rx != 0:
        return False
    # collinear (incl. degenerate points): overlap of bboxes is exact
    return (min(ax1, ax2) <= max(bx1, bx2)
            and max(ax1, ax2) >= min(bx1, bx2)
            and min(ay1, ay2) <= max(by1, by2)
            and max(ay1, ay2) >= min(by1, by2))


def test_segment_segment_join_matches_rational_oracle(spark):
    rng = np.random.default_rng(11)
    aseg, bseg = [], []
    for i in range(250):
        x1, y1 = int(rng.integers(0, 1500)), int(rng.integers(0, 1500))
        aseg.append((i, x1, y1, x1 + int(rng.integers(-300, 301)),
                     y1 + int(rng.integers(-300, 301))))
    for i in range(250):
        x1, y1 = int(rng.integers(0, 1500)), int(rng.integers(0, 1500))
        bseg.append((i, x1, y1, x1 + int(rng.integers(-300, 301)),
                     y1 + int(rng.integers(-300, 301))))
    # forced degenerates: endpoint touch, collinear overlap, collinear
    # DISJOINT (must not match), crossing at an interior lattice point,
    # and a zero-length segment ON another segment
    aseg += [(250, 0, 0, 10, 10), (251, 100, 100, 200, 100),
             (252, 300, 300, 310, 300), (253, 400, 400, 420, 420),
             (254, 500, 500, 500, 500)]
    bseg += [(250, 10, 10, 30, 5), (251, 150, 100, 260, 100),
             (252, 320, 300, 340, 300), (253, 400, 420, 420, 400),
             (254, 490, 490, 510, 510)]
    adf = spark.createDataFrame(
        aseg, "a_id long, ax1 long, ay1 long, ax2 long, ay2 long")
    bdf = spark.createDataFrame(
        bseg, "b_id long, bx1 long, by1 long, bx2 long, by2 long")
    got = joins.segment_segment_join(adf, bdf, method="broadcast") \
        .select("a_id", "b_id").toPandas()
    want = {(ai, bi)
            for ai, *a in aseg for bi, *b in bseg
            if _frac_segs_cross(tuple(a), tuple(b))}
    assert set(zip(got.a_id, got.b_id)) == want
    for pair in [(250, 250), (251, 251), (253, 253), (254, 254)]:
        assert pair in want, pair  # the planted positives really hit
    assert (252, 252) not in want  # collinear-disjoint stays out


def test_segment_segment_join_cells_equals_broadcast(spark):
    """Out-of-world coordinates included (negative / > edge): the
    clamped covering cells and the clamped reporting cell must stay
    consistent, every pair exactly once."""
    from optimizing_spark.config import Box2

    rng = np.random.default_rng(31)

    def mk(n, seed_off):
        out = []
        for i in range(n):
            x1 = int(rng.integers(-2000, 67000))
            y1 = int(rng.integers(-2000, 67000))
            out.append((i, x1, y1, x1 + int(rng.integers(-4000, 4001)),
                        y1 + int(rng.integers(-4000, 4001))))
        return out

    aseg, bseg = mk(1200, 0), mk(1200, 1)
    adf = spark.createDataFrame(
        aseg, "a_id long, ax1 long, ay1 long, ax2 long, ay2 long")
    bdf = spark.createDataFrame(
        bseg, "b_id long, bx1 long, by1 long, bx2 long, by2 long")
    world = Box2(0.0, 0.0, 65536.0, 65536.0)
    a = joins.segment_segment_join(adf, bdf, method="broadcast") \
        .select("a_id", "b_id").toPandas()
    b = joins.segment_segment_join(adf, bdf, method="cells",
                                   world=world, depth=5) \
        .select("a_id", "b_id").toPandas()
    assert len(b) == len(set(zip(b.a_id, b.b_id)))  # exactly-once
    assert set(zip(a.a_id, a.b_id)) == set(zip(b.a_id, b.b_id))
    assert len(a) > 0
