"""Z-order bbox pruning: exactness vs a brute filter, directory
pruning + pushed range filters in the executed plan, and footer-level
row-group skip evidence."""

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from optimizing_spark.functions import cells as C
from optimizing_spark.plans import curve_scan, layout

WB = 16
BOX = (9000, 22000, 14095, 30123)  # ~0.24% of the 65536^2 world


def _objects(spark, n=40000):
    return spark.range(n).select(
        F.col("id").alias("obj_id"),
        ((F.col("id") * 48271 + 11) % (1 << WB)).alias("ix"),
        ((F.col("id") * 69621 + 7) % (1 << WB)).alias("iy"),
    )


def test_box_scan_exact_and_pruned(spark, tmp_path):
    path = str(tmp_path / "zt")
    pd_depth = 2  # 16 directories
    sh = 2 * (WB - pd_depth)
    t = curve_scan.with_morton_key(_objects(spark)).withColumn(
        "cell_prefix", F.shiftright(F.col("m"), sh))
    layout.write_clustered(t, path, order_col="m")

    x0, y0, x1, y1 = BOX
    got = curve_scan.read_morton_box(
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
    rep_box = layout.pruning_report(got.select("obj_id", "m", "cell_prefix"))
    rep_all = layout.pruning_report(full.select("obj_id", "m", "cell_prefix"))
    assert rep_box["files_read"] < rep_all["files_read"]

    # morton BETWEENs reach the parquet scan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "m" in plan


def test_row_group_stats_skip(spark, tmp_path):
    """Footer math: inside the surviving files, most row groups'
    [min(m), max(m)] intervals miss every query range — those are the
    groups parquet skips at read time (possible only because the
    writer sorted by m)."""
    path = str(tmp_path / "zt2")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    t = curve_scan.with_morton_key(_objects(spark, 60000))
    (t.repartition(1).sortWithinPartitions("m")
      .write.mode("overwrite")
      .option("parquet.block.size", 64 * 1024)  # many small row groups
      .parquet(path))

    x0, y0, x1, y1 = BOX
    ranges = curve_scan.morton_ranges(x0, y0, x1, y1, world_bits=WB)
    n_groups = n_hit = 0
    for f in glob.glob(f"{path}/*.parquet"):
        meta = pq.ParquetFile(f).metadata
        ci = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        for g in range(meta.num_row_groups):
            st = meta.row_group(g).column(ci["m"]).statistics
            n_groups += 1
            if any(st.min <= hi and st.max >= lo for lo, hi in ranges):
                n_hit += 1
    assert n_groups >= 8, f"need multiple row groups, got {n_groups}"
    assert n_hit < n_groups / 2, (n_hit, n_groups)

    # and the engine-side read over those files is still exact
    got = curve_scan.read_morton_box(spark, path, x0, y0, x1, y1, world_bits=WB)
    want = (
        t.filter((F.col("ix") >= x0) & (F.col("ix") <= x1)
                 & (F.col("iy") >= y0) & (F.col("iy") <= y1)).count())
    assert got.count() == want


def test_ranges_cover_spark_morton(spark):
    """Superset contract against the JVM morton2d itself: every row in
    the box has its m inside some range; rows far outside don't."""
    x0, y0, x1, y1 = BOX
    ranges = curve_scan.morton_ranges(x0, y0, x1, y1, world_bits=WB)
    cov = None
    for lo, hi in ranges:
        r = F.col("m").between(lo, hi)
        cov = r if cov is None else (cov | r)
    t = curve_scan.with_morton_key(_objects(spark, 20000))
    in_box = ((F.col("ix") >= x0) & (F.col("ix") <= x1)
              & (F.col("iy") >= y0) & (F.col("iy") <= y1))
    assert t.filter(in_box & ~cov).count() == 0
