"""Engine tile assignments must match the NumPy golden oracles 100%
(BASELINE.md target: identical (obj_id -> cell) assignment per object)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from optimizing_spark.config import DEMO_WORLD, QT_BENCH_WORLD, QT_MAX_DEPTH, Box2
from optimizing_spark.operators import tiling
from optimizing_spark.sources import datagen
from tests.oracles import spatial as oracle

N = 5000


def test_static_quadtree_matches_oracle(spark):
    pdf = datagen.quadtree_objects_pandas(N)
    min_x = pdf.x.to_numpy(); min_y = pdf.y.to_numpy()
    max_x = min_x + pdf.size_x.to_numpy(); max_y = min_y + pdf.size_y.to_numpy()
    g_depth, g_code = oracle.static_quadtree_assign(
        min_x, min_y, max_x, max_y,
        (QT_BENCH_WORLD.min_x, QT_BENCH_WORLD.min_y, QT_BENCH_WORLD.max_x, QT_BENCH_WORLD.max_y),
        QT_MAX_DEPTH,
    )

    df = datagen.spark_table(spark, "quadtree_objects", N, partitions=7)
    df = tiling.with_box_cols(df, dims=2)
    res = tiling.tile_static_quadtree(df).select("obj_id", "qt_depth", "qt_code") \
        .toPandas().sort_values("obj_id").reset_index(drop=True)

    assert len(res) == N
    assert (res.qt_depth.to_numpy() == g_depth).all()
    assert (res.qt_code.to_numpy() == g_code).all()
    # sanity: deepest node must be max_depth-1 (insert rule .Test/QuadTree.cpp:135)
    assert res.qt_depth.max() == QT_MAX_DEPTH - 1


def test_static_quadtree_partition_invariant(spark):
    """Assignment is a pure projection — identical under any partitioning."""
    a = tiling.tile_static_quadtree(
        tiling.with_box_cols(datagen.spark_table(spark, "quadtree_objects", 1000, partitions=1), dims=2)
    ).select("obj_id", "qt_code").toPandas().sort_values("obj_id")
    b = tiling.tile_static_quadtree(
        tiling.with_box_cols(datagen.spark_table(spark, "quadtree_objects", 1000, partitions=13), dims=2)
    ).select("obj_id", "qt_code").toPandas().sort_values("obj_id")
    assert (a.qt_code.to_numpy() == b.qt_code.to_numpy()).all()


def test_octree_capacity_matches_oracle(spark):
    n = 2000
    pdf = datagen.spatial_objects_pandas(n)
    boxes = np.column_stack([
        pdf.x, pdf.y, pdf.z,
        pdf.x + pdf.size_x, pdf.y + pdf.size_y, pdf.z + pdf.size_z,
    ])
    w = DEMO_WORLD
    g_depth, g_code = oracle.octree_capacity_assign(
        boxes, (w.min_x, w.min_y, w.min_z, w.max_x, w.max_y, w.max_z)
    )

    df = datagen.spark_table(spark, "spatial_objects", n, partitions=5)
    df = tiling.with_box_cols(df, dims=3)
    res = tiling.tile_octree_capacity(df, w).select("obj_id", "oct_depth", "oct_code") \
        .toPandas().sort_values("obj_id").reset_index(drop=True)

    assert len(res) == n
    mism = (res.oct_depth.to_numpy() != g_depth) | (res.oct_code.to_numpy() != g_code)
    assert mism.sum() == 0, f"{mism.sum()} mismatched assignments"


def test_octree_capacity_pow2_matches_sequential_sim(spark):
    """assign_octree_capacity_pow2 (unrolled windows, integer pow-2
    world) must equal a literal sequential replay of
    DynamicOctree::insert (DynamicOctree.hpp:126-144) in seq order."""
    from optimizing_spark.functions import cells as C

    rng = np.random.default_rng(7)
    n, wb, cap, md = 3000, 16, 4, 5
    ix = rng.integers(0, 1 << wb, n); iy = rng.integers(0, 1 << wb, n)
    iz = rng.integers(0, 1 << wb, n)
    sx = rng.integers(1, 2000, n); sy = rng.integers(1, 2000, n)
    sz = rng.integers(1, 2000, n)

    counts: dict = {}
    want = {}
    for o in range(n):  # seq order = obj_id
        d, code = 0, 0
        while True:
            if d == md or counts.get((d, code), 0) < cap:
                break
            sh = wb - (d + 1)
            fits = all(
                (int(a[o]) >> sh) == ((int(a[o]) + int(s[o]) - 1) >> sh)
                for a, s in ((ix, sx), (iy, sy), (iz, sz))
            )
            if not fits:
                break
            digit = (((int(ix[o]) >> sh) & 1)
                     | (((int(iy[o]) >> sh) & 1) << 1)
                     | (((int(iz[o]) >> sh) & 1) << 2))
            code = (code << 3) | digit
            d += 1
        counts[(d, code)] = counts.get((d, code), 0) + 1
        want[o] = (d, code)

    pdf = pd.DataFrame({"obj_id": np.arange(n), "ix": ix, "iy": iy, "iz": iz,
                        "sx": sx, "sy": sy, "sz": sz})
    df = spark.createDataFrame(pdf).repartition(7)
    res = C.assign_octree_capacity_pow2(df, capacity=cap, max_depth=md) \
        .select("obj_id", "oct_depth", "oct_code") \
        .toPandas().sort_values("obj_id").reset_index(drop=True)
    assert len(res) == n
    got = list(zip(res.oct_depth.astype(int), res.oct_code.astype(int)))
    mism = sum(1 for o in range(n) if got[o] != want[o])
    assert mism == 0, f"{mism} mismatched assignments"
    # capacity rule actually engaged: some node must exceed the static depth
    static = C.assign_octree_pow2(df).select("obj_id", F.col("oct_depth").alias("sd")) \
        .toPandas().sort_values("obj_id").reset_index(drop=True)
    assert (res.oct_depth.to_numpy() < static.sd.to_numpy()).any()


def test_coarse_grid(spark):
    df = datagen.spark_table(spark, "spatial_objects", 500)
    res = tiling.coarse_grid(df, 255.0).select("obj_id", "x", "z", "cell_x", "cell_z").toPandas()
    exp_x = np.trunc(res.x.to_numpy() / 255.0)
    exp_z = np.trunc(res.z.to_numpy() / 255.0)
    assert (res.cell_x.to_numpy() == exp_x).all()
    assert (res.cell_z.to_numpy() == exp_z).all()


def test_remove_and_relocate(spark):
    df = tiling.with_box_cols(datagen.spark_table(spark, "quadtree_objects", 1000), dims=2)
    tiled = tiling.tile_static_quadtree(df).localCheckpoint()
    dead = tiled.filter(F.col("obj_id") % 10 == 0)
    kept = tiling.remove_objects(tiled, dead)
    assert kept.count() == 900
    assert kept.filter(F.col("obj_id") % 10 == 0).count() == 0

    # relocate: shift 100 objects, re-tile only those rows
    moved = tiled.filter(F.col("obj_id") < 100).withColumn("x", F.col("x") + 50.0)
    moved = tiling.with_box_cols(moved.drop("min_x", "min_y", "max_x", "max_y"), dims=2)
    out = tiling.relocate(
        tiled, moved.drop("qt_depth", "qt_code"),
        retile=lambda d: tiling.tile_static_quadtree(d),
    ).localCheckpoint()
    assert out.count() == 1000
    # moved rows carry assignments equal to a full re-tile
    full = tiling.tile_static_quadtree(
        tiling.with_box_cols(
            tiled.drop("min_x", "min_y", "max_x", "max_y", "qt_depth", "qt_code")
            .withColumn("x", F.when(F.col("obj_id") < 100, F.col("x") + 50.0).otherwise(F.col("x"))),
            dims=2,
        )
    ).select("obj_id", F.col("qt_code").alias("want"))
    cmp = out.join(full, "obj_id").filter(F.col("qt_code") != F.col("want"))
    assert cmp.count() == 0


def _covered_cells(box, world, depth):
    """Pure-Python cover: every clamped grid cell of a closed box."""
    n = 1 << depth
    sx = (world.max_x - world.min_x) / n
    sy = (world.max_y - world.min_y) / n

    def c(v, wmin, s):
        return max(0, min(n - 1, math.floor((v - wmin) / s)))

    x0, y0, x1, y1 = box
    return [(cx, cy)
            for cx in range(c(x0, world.min_x, sx), c(x1, world.min_x, sx) + 1)
            for cy in range(c(y0, world.min_y, sy), c(y1, world.min_y, sy) + 1)]


COVER_BOXES = [  # offsets from the world's min corner; cell edge 128
    (0, 0, 10, 10),            # one cell
    (127, 127, 129, 129),      # straddles a cell corner
    (128, 0, 256, 0),          # min and max exactly on cell edges
    (300, 500, 900, 510),      # wide strip
    (-500, -10, -1, 5000),     # left of the world: edge column, clamped
    (2000, 2000, 3000, 3000),  # beyond the far corner: last cell
    (-50, -50, 1100, 1100),    # covers the whole world
]


@pytest.mark.parametrize("world", [Box2(0.0, 0.0, 1024.0, 1024.0),
                                   Box2(-512.0, -512.0, 512.0, 512.0)])
@pytest.mark.parametrize("dtype,shift", [("long", 0), ("double", 0.5)])
def test_explode_covering_cells_matches_python_cover(spark, world, dtype, shift):
    """Pinned against a pure-Python enumeration: edge-straddling and
    out-of-world boxes, long and double bound columns, a world with a
    negative origin, and pass-through columns kept in their order."""
    depth = 3
    ox, oy = int(world.min_x), int(world.min_y)
    boxes = [(x0 + ox + shift, y0 + oy + shift, x1 + ox + shift, y1 + oy + shift)
             for x0, y0, x1, y1 in COVER_BOXES]
    rows = [(f"b{i}", x0, i, y0, x1, y1, i * 1.5)
            for i, (x0, y0, x1, y1) in enumerate(boxes)]
    df = spark.createDataFrame(
        rows, f"tag string, lo_x {dtype}, id long, lo_y {dtype}, "
              f"hi_x {dtype}, hi_y {dtype}, w double")
    out = tiling.explode_covering_cells(df, world, depth, "lo_x", "lo_y", "hi_x", "hi_y")
    assert out.columns == df.columns + ["cell_x", "cell_y"]
    assert dict(out.dtypes)["cell_x"] == dict(out.dtypes)["cell_y"] == "int"

    got = out.collect()
    assert sorted((r.id, r.cell_x, r.cell_y) for r in got) == sorted(
        (i, cx, cy) for i, b in enumerate(boxes)
        for cx, cy in _covered_cells(b, world, depth))
    # pass-through values ride along unchanged
    assert {tuple(r)[:7] for r in got} == set(rows)
