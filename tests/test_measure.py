"""Klee's measure (operators/measure.union_area) vs a brute-force
NumPy rasterization oracle: exact union areas on random half-open
integer boxes, depth invariance, full-cover short-circuit, world
clamping, the clips/cell guard, and empty input."""

import numpy as np
import pytest

from optimizing_spark.config import Box2
from optimizing_spark.operators.measure import _int_grid, union_area

WORLD = Box2(0.0, 0.0, 4096.0, 4096.0)
E = 4096


def _boxes(n, salt=0, max_side=300):
    ids = np.arange(n, dtype=np.int64)
    x0 = (ids * 48271 + salt * 7919 + 11) % E
    y0 = (ids * 69621 + salt * 104729 + 3) % E
    w = (ids * 16807 + salt * 31) % max_side + 1
    h = (ids * 39916801 + salt * 17) % max_side + 1
    return x0, y0, x0 + w, y0 + h


def _raster_area(x0, y0, x1, y1):
    grid = np.zeros((E, E), dtype=bool)
    for a, b, c, d in zip(x0, y0, x1, y1):
        grid[max(a, 0):max(c, 0), max(b, 0):max(d, 0)] = True
    return int(grid.sum())


def _df(spark, x0, y0, x1, y1):
    return spark.createDataFrame(
        [(int(a), int(b), int(c), int(d))
         for a, b, c, d in zip(x0, y0, x1, y1)],
        "x_min long, y_min long, x_max long, y_max long")


def test_union_area_vs_raster(spark):
    x0, y0, x1, y1 = _boxes(400)
    want = _raster_area(x0, y0, np.minimum(x1, E), np.minimum(y1, E))
    got = union_area(_df(spark, x0, y0, x1, y1), WORLD, depth=3) \
        .collect()[0]["union_area"]
    assert got == want


def test_union_area_depth_invariant(spark):
    x0, y0, x1, y1 = _boxes(300, salt=5)
    df = _df(spark, x0, y0, x1, y1)
    vals = {d: union_area(df, WORLD, depth=d).collect()[0]["union_area"]
            for d in (1, 3, 5)}
    assert len(set(vals.values())) == 1, vals


def test_union_area_per_cell_sums_to_total(spark):
    x0, y0, x1, y1 = _boxes(300, salt=9)
    df = _df(spark, x0, y0, x1, y1)
    per = union_area(df, WORLD, depth=4, per_cell=True).collect()
    tot = union_area(df, WORLD, depth=4).collect()[0]["union_area"]
    assert sum(r["area"] for r in per) == tot
    # every per-cell area is positive and bounded by the cell area
    edge = E // 16
    assert all(0 < r["area"] <= edge * edge for r in per)


def test_union_area_full_cover_shortcircuit(spark):
    # one giant box covering everything + noise boxes: union = world
    x0, y0, x1, y1 = _boxes(50, salt=2)
    rows = list(zip(x0, y0, x1, y1)) + [(0, 0, E, E)]
    df = spark.createDataFrame(
        [(int(a), int(b), int(c), int(d)) for a, b, c, d in rows],
        "x_min long, y_min long, x_max long, y_max long")
    got = union_area(df, WORLD, depth=3).collect()[0]["union_area"]
    assert got == E * E


def test_union_area_disjoint_adds_and_duplicates_dont(spark):
    df = spark.createDataFrame(
        [(0, 0, 10, 10), (0, 0, 10, 10), (100, 100, 110, 120),
         (9, 0, 11, 10)],
        "x_min long, y_min long, x_max long, y_max long")
    got = union_area(df, WORLD, depth=2).collect()[0]["union_area"]
    # [0,10)x[0,10) u [9,11)x[0,10) = 110; disjoint 10x20 = 200
    assert got == 110 + 200


def test_union_area_out_of_world_clamped(spark):
    df = spark.createDataFrame(
        [(-50, -50, 10, 10), (E - 5, E - 5, E + 100, E + 100),
         (-10, 100, 0, 200)],  # fully left of the world -> empty
        "x_min long, y_min long, x_max long, y_max long")
    got = union_area(df, WORLD, depth=2).collect()[0]["union_area"]
    assert got == 10 * 10 + 5 * 5


def test_union_area_empty_and_degenerate(spark):
    empty = spark.createDataFrame(
        [], "x_min long, y_min long, x_max long, y_max long")
    assert union_area(empty, WORLD, depth=2).collect()[0]["union_area"] == 0
    degen = spark.createDataFrame(
        [(5, 5, 5, 9), (7, 3, 9, 3)],
        "x_min long, y_min long, x_max long, y_max long")
    assert union_area(degen, WORLD, depth=2).collect()[0]["union_area"] == 0


def test_union_area_guard_raises(spark):
    x0, y0, x1, y1 = _boxes(200, salt=1)
    df = _df(spark, x0, y0, x1, y1)
    with pytest.raises(ValueError, match="max_cell_clips"):
        union_area(df, WORLD, depth=0, max_cell_clips=10)


def test_int_grid_accepts_int_typed_world():
    """Box2 fields may be ints (int.is_integer() only exists from
    Python 3.12); a non-divisible world still raises."""
    assert _int_grid(Box2(0, 0, 4096, 4096), 6) == (64, 64, 64)
    with pytest.raises(ValueError, match="2\\^6-divisible"):
        _int_grid(Box2(0, 0, 4095, 4096), 6)


def test_union_area_int_typed_world(spark):
    x0, y0, x1, y1 = _boxes(60, salt=3)
    df = _df(spark, x0, y0, x1, y1)
    got = union_area(df, Box2(0, 0, E, E), depth=4).collect()[0]["union_area"]
    assert got == _raster_area(x0, y0, x1, y1)
