"""Hilbert-range bbox pruning (plans/curve_scan): full-enumeration superset
certification on a small world, scalar==column code parity, Spark
end-to-end exactness + directory pruning + pushed filters, and the
range-count advantage over the Morton decomposition that motivates it."""

import numpy as np
from pyspark.sql import functions as F

from optimizing_spark.functions import cells as C
from optimizing_spark.plans import curve_scan, layout

WB = 16
BOX = (9000, 22000, 14095, 30123)  # ~0.24% of the 65536^2 world

RNG = np.random.default_rng(77)


def _objects(spark, n=40000):
    return spark.range(n).select(
        F.col("id").alias("obj_id"),
        ((F.col("id") * 48271 + 11) % (1 << WB)).alias("ix"),
        ((F.col("id") * 69621 + 7) % (1 << WB)).alias("iy"),
    )


def test_ranges_cover_exactly_small_world():
    """Full enumeration at bits=6 (4096 points): every in-box point's
    code falls in some range (superset), and with split_depth=bits the
    decomposition is EXACT — total range length == box area, so the
    residual filter never rejects a covered row."""
    bits = 6
    n = 1 << bits
    codes = {(x, y): curve_scan.hilbert_index(x, y, bits)
             for x in range(n) for y in range(n)}
    for _ in range(25):
        x0, x1 = sorted(RNG.integers(0, n, 2).tolist())
        y0, y1 = sorted(RNG.integers(0, n, 2).tolist())
        ranges = curve_scan.hilbert_ranges(
            x0, y0, x1, y1, world_bits=bits, split_depth=bits)
        for (x, y), c in codes.items():
            inside = x0 <= x <= x1 and y0 <= y <= y1
            covered = any(lo <= c <= hi for lo, hi in ranges)
            assert covered == inside, (x, y, c, ranges)
        area = (x1 - x0 + 1) * (y1 - y0 + 1)
        assert sum(hi - lo + 1 for lo, hi in ranges) == area


def test_split_depth_superset():
    """With a coarse split_depth, boundary cells emit whole blocks —
    a strict SUPERSET that the exact residual then trims."""
    bits = 6
    n = 1 << bits
    for _ in range(10):
        x0, x1 = sorted(RNG.integers(0, n, 2).tolist())
        y0, y1 = sorted(RNG.integers(0, n, 2).tolist())
        coarse = curve_scan.hilbert_ranges(
            x0, y0, x1, y1, world_bits=bits, split_depth=3)
        for x in range(x0, x1 + 1):
            for y in range(y0, y1 + 1):
                c = curve_scan.hilbert_index(x, y, bits)
                assert any(lo <= c <= hi for lo, hi in coarse)


def test_scalar_matches_column(spark):
    """curve_scan.hilbert_index (plan-time endpoints) agrees bit-for-bit
    with cells.with_hilbert2d (the data column the ranges prune)."""
    pts = [(int(x), int(y)) for x, y in
           zip(RNG.integers(0, 1 << WB, 300), RNG.integers(0, 1 << WB, 300))]
    pts += [(0, 0), ((1 << WB) - 1, (1 << WB) - 1), (0, (1 << WB) - 1)]
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "obj_id long, ix long, iy long")
    rows = C.with_hilbert2d(df, bits=WB).collect()
    for r in rows:
        assert r.h == curve_scan.hilbert_index(r.ix, r.iy, WB)


def test_box_scan_exact_and_pruned(spark, tmp_path):
    path = str(tmp_path / "ht")
    pd_depth = 2  # 16 directories
    sh = 2 * (WB - pd_depth)
    t = curve_scan.with_hilbert_key(_objects(spark)).withColumn(
        "cell_prefix", F.shiftright(F.col("h"), sh))
    layout.write_clustered(t, path, order_col="h")

    x0, y0, x1, y1 = BOX
    got = curve_scan.read_hilbert_box(
        spark, path, x0, y0, x1, y1,
        world_bits=WB, prefix_col="cell_prefix", prefix_depth=pd_depth)
    full = spark.read.parquet(path)
    want = full.filter(
        (F.col("ix") >= x0) & (F.col("ix") <= x1)
        & (F.col("iy") >= y0) & (F.col("iy") <= y1))
    got_ids = sorted(r.obj_id for r in got.collect())
    want_ids = sorted(r.obj_id for r in want.collect())
    assert got_ids == want_ids and len(got_ids) > 0

    # directory pruning: fewer files opened than the full scan
    rep_box = layout.pruning_report(got.select("obj_id", "h", "cell_prefix"))
    rep_all = layout.pruning_report(full.select("obj_id", "h", "cell_prefix"))
    assert rep_box["files_read"] < rep_all["files_read"]

    # hilbert BETWEENs reach the parquet scan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "h" in plan


def test_fewer_ranges_than_morton():
    """The motivating win (Moon et al. 2001): over a box ensemble the
    Hilbert decomposition needs fewer merged ranges than Morton at the
    same split_depth — fewer OR-of-BETWEEN disjuncts, fewer contiguous
    row-group runs."""
    tot_h = tot_m = 0
    for _ in range(40):
        x0, x1 = sorted(RNG.integers(0, 1 << WB, 2).tolist())
        y0, y1 = sorted(RNG.integers(0, 1 << WB, 2).tolist())
        tot_h += len(curve_scan.hilbert_ranges(x0, y0, x1, y1, world_bits=WB))
        tot_m += len(curve_scan.morton_ranges(x0, y0, x1, y1, world_bits=WB))
    assert tot_h < tot_m, (tot_h, tot_m)
