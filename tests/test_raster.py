"""Raster/raytracing ops vs NumPy slab/quadratic oracles."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from optimizing_spark.operators import raster
from optimizing_spark.sources import datagen
from tests.oracles import spatial as oracle


def _scene_spheres(n=20, seed=5):
    i = np.arange(n, dtype=np.uint64)
    from optimizing_spark.sources.datagen import _u01
    return pd.DataFrame({
        "obj_id": i.astype(np.int64),
        "cx": _u01(i, seed, 1) * 100 - 50 + 50,   # around the camera axis
        "cy": _u01(i, seed, 2) * 100 + 2,
        "cz": _u01(i, seed, 3) * 150 + 50,
        "radius": _u01(i, seed, 4) * 15 + 2,
    })


def test_nearest_hit_sphere_matches_oracle(spark):
    rays_pd = datagen.rays_pandas(width=16, height=16, samples=2)
    scene_pd = _scene_spheres()
    got = raster.nearest_hit(
        spark.createDataFrame(rays_pd), spark.createDataFrame(scene_pd),
        raster.scene_t("sphere"), "ray_id",
    ).toPandas().set_index("ray_id").sort_index()

    want = {}
    for r in rays_pd.itertuples():
        o = np.array([r.origin_x, r.origin_y, r.origin_z])
        d = np.array([r.dir_x, r.dir_y, r.dir_z])
        best = (np.inf, None)
        for s in scene_pd.itertuples():
            t = oracle.ray_sphere_t(o, d, np.array([s.cx, s.cy, s.cz]), s.radius)
            if t < best[0] or (t == best[0] and s.obj_id < (best[1] or 1 << 60)):
                best = (t, s.obj_id)
        if np.isfinite(best[0]):
            want[r.ray_id] = (best[1], best[0])

    assert set(got.index) == set(want)
    for rid, (oid, t) in want.items():
        assert got.loc[rid, "obj_id"] == oid
        assert abs(got.loc[rid, "t"] - t) < 1e-9


def test_ray_aabb_matches_oracle(spark):
    rays_pd = datagen.rays_pandas(width=8, height=8, samples=1)
    boxes = pd.DataFrame({
        "obj_id": [0, 1, 2],
        "min_x": [30.0, -10.0, 45.0], "min_y": [30.0, 0.0, 45.0], "min_z": [0.0, -50.0, 100.0],
        "max_x": [70.0, 10.0, 55.0], "max_y": [70.0, 20.0, 55.0], "max_z": [50.0, 0.0, 150.0],
    })
    got = raster.nearest_hit(
        spark.createDataFrame(rays_pd), spark.createDataFrame(boxes),
        raster.scene_t("aabb"), "ray_id",
    ).toPandas().set_index("ray_id").sort_index()

    for r in rays_pd.itertuples():
        o = np.array([r.origin_x, r.origin_y, r.origin_z])
        d = np.array([r.dir_x, r.dir_y, r.dir_z])
        best = (np.inf, None)
        for b in boxes.itertuples():
            box = np.array([b.min_x, b.min_y, b.min_z, b.max_x, b.max_y, b.max_z])
            t = oracle.ray_aabb_t(o, d, box)
            if t < best[0]:
                best = (t, b.obj_id)
        if np.isfinite(best[0]):
            assert got.loc[r.ray_id, "obj_id"] == best[1]
            assert abs(got.loc[r.ray_id, "t"] - best[0]) < 1e-9
        else:
            assert r.ray_id not in got.index


def test_nearest_hit_tie_miss_and_scene_columns(spark):
    """Planted 1-D scene: ray 0 meets objects 7 and 3 at the same t (the
    smaller obj_id wins) and object 5 further on; ray 1 meets nothing,
    so it is absent from the hits and present in the left_anti of the
    probe rows. The winner's scene columns come through. The objects
    stream over three partitions, so the tied candidates can sit in
    different tasks."""
    objs = spark.createDataFrame(
        [(7, 5.0, "a"), (5, 9.0, "c"), (3, 5.0, "b")],
        "obj_id long, at double, tag string").repartition(3)
    rays = spark.createDataFrame([(0, 0.0), (1, 100.0)], "ray_id long, o double")
    t = F.when(F.col("at") > F.col("o"), F.col("at") - F.col("o"))
    hits = raster.nearest_hit(objs, rays, t, "ray_id")
    assert [r.asDict() for r in hits.collect()] == [
        {"ray_id": 0, "obj_id": 3, "at": 5.0, "tag": "b", "o": 0.0, "t": 5.0}]
    missed = rays.join(hits, "ray_id", "left_anti")
    assert [r.ray_id for r in missed.collect()] == [1]


def test_render_and_tonemap(spark):
    rays_pd = datagen.rays_pandas(width=8, height=8, samples=4)
    # deterministic per-sample radiance from the ray id
    df = spark.createDataFrame(rays_pd).withColumn(
        "lum", (F.col("ray_id") % 100) / 100.0)
    img = raster.render_raster(df, ["lum"])
    out = img.withColumn("tone", raster.tone_map(F.col("avg_lum"))).toPandas()
    assert len(out) == 64
    # oracle
    pdf = rays_pd.assign(lum=(rays_pd.ray_id % 100) / 100.0)
    want = pdf.groupby(["px", "py"]).lum.mean()
    for row in out.itertuples():
        exp = want[(row.px, row.py)]
        assert abs(row.avg_lum - exp) < 1e-12
        assert row.tone == int(np.floor(min(max(exp, 0.0), 1.0) ** (1 / 2.2) * 255 + 0.5))


def test_focal_sum_matches_numpy_stencil(spark):
    """focal_sum == a dense NumPy 3x3 stencil over the same sparse
    raster (occupied cells only; absent neighbors contribute 0 to the
    sum and nothing to focal_n), and is partitioning-invariant."""
    import numpy as np

    from optimizing_spark.operators.raster import focal_sum

    rng = np.random.default_rng(11)
    grid = np.zeros((12, 12), dtype=np.int64)
    occ = rng.choice(144, size=40, replace=False)
    grid[np.unravel_index(occ, grid.shape)] = rng.integers(1, 9, 40)
    rows = [(int(x), int(y), int(grid[x, y]))
            for x in range(12) for y in range(12) if grid[x, y] > 0]
    df = spark.createDataFrame(rows, ["px", "py", "n"])
    got = {(r["px"], r["py"]): (r["focal_sum"], r["focal_n"])
           for r in focal_sum(df).collect()}
    want = {}
    for x, y, _ in rows:
        s = cnt = 0
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nx, ny = x + dx, y + dy
                if 0 <= nx < 12 and 0 <= ny < 12 and grid[nx, ny] > 0:
                    s += int(grid[nx, ny])
                    cnt += 1
        want[(x, y)] = (s, cnt)
    assert got == want
    b = {(r["px"], r["py"]): (r["focal_sum"], r["focal_n"])
         for r in focal_sum(df.repartition(7, "px")).collect()}
    assert b == want


def test_kde_grid_matches_brute_and_twin(spark):
    """kde_grid vs the brute points x all-cells NumPy sum AND the
    DuckDB twin, including out-of-world boundary cells and the
    zero-weight filter; partition invariance of the scatter."""
    import duckdb

    rng = np.random.default_rng(99)
    n, bits, depth, radius = 400, 10, 5, 120
    edge = 1 << (bits - depth)  # 32
    half = edge // 2
    xs = rng.integers(0, 1 << bits, n)
    ys = rng.integers(0, 1 << bits, n)
    # force boundary coverage
    xs[:4] = [0, (1 << bits) - 1, 0, (1 << bits) - 1]
    ys[:4] = [0, 0, (1 << bits) - 1, (1 << bits) - 1]
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(xs, ys)], "x long, y long")
    got = {(r.cx, r.cy): (r.density, r.n_pts)
           for r in raster.kde_grid(df, depth=depth, radius=radius,
                                    world_bits=bits).collect()}
    # brute: every cell center within radius of any point, unclamped
    want = {}
    r2 = radius * radius
    kmax = (radius + half) // edge + 2
    for px, py in zip(xs.tolist(), ys.tolist()):
        cx0, cy0 = px >> (bits - depth), py >> (bits - depth)
        for cx in range(cx0 - kmax, cx0 + kmax + 1):
            for cy in range(cy0 - kmax, cy0 + kmax + 1):
                d2 = (px - (cx * edge + half)) ** 2 + (py - (cy * edge + half)) ** 2
                if d2 < r2:
                    s, c = want.get((cx, cy), (0, 0))
                    want[(cx, cy)] = (s + r2 - d2, c + 1)
    assert got == want
    # out-of-world cells really occur (corner points reach past 0)
    assert any(cx < 0 or cy < 0 for cx, cy in got)
    # partition invariance
    got2 = {(r.cx, r.cy): (r.density, r.n_pts)
            for r in raster.kde_grid(df.repartition(7, "y"), depth=depth,
                                     radius=radius, world_bits=bits).collect()}
    assert got2 == want
    # DuckDB twin
    con = duckdb.connect()
    con.execute("CREATE TABLE p (x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO p VALUES (?,?)",
                    [(int(a), int(b)) for a, b in zip(xs, ys)])
    sql = raster.kde_grid_sql("SELECT * FROM p", depth=depth,
                              radius=radius, world_bits=bits)
    duck = {(r[0], r[1]): (r[2], r[3]) for r in con.execute(sql).fetchall()}
    assert duck == want
