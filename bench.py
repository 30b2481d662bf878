"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``--scaling`` additionally runs the flagship tiling+join job at two
parallelism levels (local[8] vs local[32]) on identical input and
reports throughput at both plus the scaling efficiency — the sandbox
stand-in for the north rule's N-vs-4N-executor criterion (results are
recorded in BENCH.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "q_qt_assign",
    "q_cell_counts",
    "q_range_join",
    "q_pip_join",
    "q_knn",
    "q_raster",
    "q_topk_per_cell",
    "q_agg_wide",
]


def _session(cores: int):
    from optimizing_spark.session import get_spark

    return get_spark(f"bench-{cores}", cores=cores,
                     shuffle_partitions=max(cores, 16))


HEADLINE_REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))


def _spin_small(_):
    x = 0
    for i in range(8_000_000):
        x += i * i
    return x


def _quick_calibration(width: int) -> dict:
    """Cheap pure-CPU probe of what this host can deliver right now:
    one solo spin vs `width` concurrent spins. wide_efficiency ~1 on an
    idle host; shared-host contention / downclocking pushes it down —
    the context any recorded query time must be read against (the
    round-2 driver bench read 2x high inside such a window)."""
    from multiprocessing import Pool

    t0 = time.time()
    _spin_small(0)
    solo = time.time() - t0
    with Pool(width) as p:
        p.map(_spin_small, range(width))  # warm the pool
        t0 = time.time()
        p.map(_spin_small, range(width))
        wide = time.time() - t0
    return {
        "solo_sec": round(solo, 3),
        "wide_sec": round(wide, 3),
        "wide_efficiency": round(solo / wide, 3) if wide else None,
    }


def run_headline() -> dict:
    """Each headline query runs HEADLINE_REPEATS (>=3) times; the
    recorded per-query number is the MIN (least host-noise-perturbed
    execution of an identical plan), with the full spread kept
    alongside. A pure-CPU calibration before and after bounds how
    contended the host was during the run — a single-shot bench on this
    shared VM can read 2x high (round-2 record), so the robust minimum
    plus the calibration evidence is what BENCH_r{N} should be read
    from."""
    import __spark_entry__ as entry

    calib_before = _quick_calibration(CPUS)
    spark = _session(CPUS)
    qs = entry.queries()
    times: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    total = 0.0
    # warm-up at the smallest sf: codegen compile, file listing, JIT —
    # measured numbers then reflect steady-state execution. The noop
    # sink materializes every output column; count() would let Catalyst
    # prune the unused projections (and most of the work) away.
    warm_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    for name in HEADLINE:
        try:
            qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001
            pass
    for name in HEADLINE:
        fn = qs[name]
        runs = []
        for _ in range(HEADLINE_REPEATS):
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        best = min(runs)
        times[name] = round(best, 3)
        spreads[name] = [round(x, 3) for x in runs]
        total += best
        print(f"# {name}: min {best:.2f}s of {spreads[name]}",
              file=sys.stderr)
    calib_after = _quick_calibration(CPUS)
    drift = (
        round(abs(calib_after["wide_sec"] - calib_before["wide_sec"])
              / calib_before["wide_sec"], 3)
        if calib_before["wide_sec"] else None
    )
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else None
    return {
        "metric": "headline_queries_total_time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "repeats": HEADLINE_REPEATS,
        "spread": spreads,
        "calibration": {
            "before": calib_before,
            "after": calib_after,
            "wide_sec_drift": drift,
            "host_contended": bool(
                (drift or 0) > 0.3
                or min(calib_before["wide_efficiency"] or 1,
                       calib_after["wide_efficiency"] or 1) < 0.35
            ),
        },
    }


HEADLINE_MAX_ATTEMPTS = max(
    1, int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3")))
HEADLINE_RETRY_SLEEP = float(os.environ.get("SPARK_GRAFT_BENCH_SLEEP", "25"))


def run_headline_calibrated() -> dict:
    """run_headline wrapped in a refuse-contended-records loop (r4
    verdict demerit #1: BENCH_r04 was recorded in a contended window
    while the clean-window number was 10% lower).  A cheap pure-CPU
    pre-probe delays the expensive Spark run while the host is
    obviously busy; after each run, if the attached calibration flags
    `host_contended`, the record is discarded and the run retried
    (up to SPARK_GRAFT_BENCH_ATTEMPTS).  Only if EVERY attempt was
    contended does the best (lowest-total) attempt get emitted, with
    `all_attempts_contended: true` so the artifact carries the
    evidence."""
    attempts: list[dict] = []
    for i in range(HEADLINE_MAX_ATTEMPTS):
        pre = _quick_calibration(CPUS)
        waits = 0
        while (pre["wide_efficiency"] or 1) < 0.35 and waits < 4:
            print(f"# pre-probe contended (wide_eff="
                  f"{pre['wide_efficiency']}), waiting "
                  f"{HEADLINE_RETRY_SLEEP:.0f}s", file=sys.stderr)
            time.sleep(HEADLINE_RETRY_SLEEP)
            waits += 1
            pre = _quick_calibration(CPUS)
        res = run_headline()
        res["attempt"] = i + 1
        attempts.append(res)
        if not res["calibration"]["host_contended"]:
            return res
        print(f"# attempt {i + 1} contended "
              f"({res['calibration']}), retrying", file=sys.stderr)
        time.sleep(HEADLINE_RETRY_SLEEP)
    best = min(attempts, key=lambda r: r["value"])
    best["all_attempts_contended"] = True
    return best


SCALING_DOCS = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "20000000"))
SCALING_REPEATS = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3"))
_DOCS_PARQUET = f"/tmp/optimizing_spark_bench/docs_{SCALING_DOCS}.parquet"


def _ensure_docs_parquet() -> str:
    """Materialize the deterministic interleaved documents table once
    (input_hint shape); both parallelism levels read the SAME files."""
    if not os.path.exists(_DOCS_PARQUET):
        from optimizing_spark.sources import datagen

        spark = _session(CPUS)
        datagen.documents_spark_fast(spark, SCALING_DOCS, partitions=128) \
            .write.mode("overwrite").parquet(_DOCS_PARQUET)
        spark.stop()
    return _DOCS_PARQUET


def _docs_job(spark, path: str) -> int:
    """The measured job: read -> geocode (JVM) -> quadtree tile ->
    per-cell histogram + broadcast viewport join + windowed top-k.
    One full pass of the north-rule pipeline."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from optimizing_spark.plans import pipeline

    docs = spark.read.parquet(path)
    tiled = pipeline.tile_documents(docs.select("doc_id", "spans"), how="jvm")
    hist_n = pipeline.docs_cell_histogram(tiled).agg(F.count("*").alias("n"))
    boxes = spark.range(100).select(
        F.col("id").alias("query_id"),
        (F.pmod(F.col("id") * 48271, F.lit(1 << 16))).alias("min_x"),
        (F.pmod(F.col("id") * 69621, F.lit(1 << 16))).alias("min_y"),
    ).withColumn("max_x", F.col("min_x") + 2048).withColumn("max_y", F.col("min_y") + 2048)
    hits_n = pipeline.docs_range_query(tiled, boxes).agg(F.count("*").alias("n"))
    # window by the full cell id (thousands of groups) — partitioning by
    # the coarse prefix (~21 values) would cap parallelism and skew
    w = Window.partitionBy("qt_depth", "qt_code").orderBy(F.col("ix").desc(), "doc_id")
    top_n = tiled.withColumn("rk", F.row_number().over(w)) \
        .filter(F.col("rk") <= 10).agg(F.count("*").alias("n"))
    # single action: union of the three aggregates — driver-side planning
    # does not serialize the measurement
    return int(hist_n.unionAll(hits_n).unionAll(top_n)
               .agg(F.sum("n")).collect()[0][0])


SCALING_LEVELS = tuple(
    int(x) for x in os.environ.get("SPARK_GRAFT_SCALING_LEVELS", "4,16").split(",")
)


def _host_calibration(levels) -> dict:
    """Pure-CPU parallel spin at both levels: the compute this host can
    actually deliver (virtualized CPUs downclock under wide load), i.e.
    the attainable-scaling ceiling any job measurement must be read
    against."""
    from multiprocessing import Pool

    def measure(n: int) -> float:
        with Pool(n) as p:
            t0 = time.time()
            p.map(_spin_task, range(n))
            return time.time() - t0

    lo, hi = levels
    # warm pools once
    measure(2)
    t_lo, t_hi = measure(lo), measure(hi)
    # throughput = tasks/sec at each width; speedup = throughput ratio
    speed = (hi / t_hi) / (lo / t_lo)
    return {
        "spin_sec": {lo: round(t_lo, 2), hi: round(t_hi, 2)},
        "attainable_speedup": round(speed, 3),
        "attainable_efficiency": round(speed / (hi / lo), 3),
    }


def _spin_task(_):
    x = 0
    for i in range(40_000_000):
        x += i * i
    return x


def run_scaling() -> dict:
    """Same docs pipeline at local[N] and local[4N] over the SAME input
    parquet; docs/sec at both + scaling efficiency (speedup / core
    ratio) — the sandbox stand-in for N vs 4N executors. A pure-CPU
    host calibration is reported alongside because this VM's cores
    downclock under wide load (attainable speedup < core ratio)."""
    from pyspark.sql import SparkSession

    path = _ensure_docs_parquet()
    lo, hi = SCALING_LEVELS
    results = {}
    for cores in (lo, hi):
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        spark = _session(cores)
        _docs_job(spark, path)  # warm-up: JIT, file listing, codegen
        iters = []
        for _ in range(SCALING_REPEATS):
            t0 = time.time()
            _docs_job(spark, path)
            iters.append(time.time() - t0)
        best = min(iters)  # best-of-N: least perturbed by host noise
        results[cores] = {
            "sec": round(best, 3),
            "all_iters_sec": [round(x, 3) for x in iters],
            "docs_per_sec": round(SCALING_DOCS / best),
        }
        spark.stop()
    speedup = results[lo]["sec"] / results[hi]["sec"]
    eff = speedup / (hi / lo)
    calib = _host_calibration((lo, hi))
    return {
        "metric": f"scaling_efficiency_{lo}_to_{hi}",
        "value": round(eff, 3),
        "unit": "ratio",
        "docs": SCALING_DOCS,
        "repeats": SCALING_REPEATS,
        "per_level": results,
        "speedup": round(speedup, 3),
        "host_calibration": calib,
        "efficiency_vs_attainable": round(speedup / calib["attainable_speedup"], 3),
    }


def run_refscale() -> dict:
    """Head-to-head at the reference's own benchmark scale: 1M uniform
    boxes in a 100,000^2 world, large viewport searches (BASELINE.md
    logs ~0.8-1.3M objects returned/s single-threaded)."""
    import time as _t

    from optimizing_spark.config import QT_BENCH_WORLD
    from optimizing_spark.operators import joins, tiling
    from optimizing_spark.sources import datagen

    spark = _session(CPUS)
    objs = tiling.with_box_cols(
        datagen.spark_table(spark, "quadtree_objects", 1_000_000, partitions=64), dims=2)
    t0 = _t.time()
    tiled = tiling.tile_static_quadtree(objs).localCheckpoint()
    n = tiled.count()
    t_build = _t.time() - t0
    qdf = spark.createDataFrame(
        datagen.query_rects_pandas(20, extent=(25000.0, 20000.0)))
    hits = joins.range_join(tiled, qdf, QT_BENCH_WORLD, depth=6)
    hits.count()  # warm
    t0 = _t.time()
    pairs = hits.count()
    t_warm = _t.time() - t0
    return {
        "metric": "refscale_objects_returned_per_sec",
        "value": round(pairs / t_warm),
        "unit": "obj/s",
        "objects": n,
        "build_sec": round(t_build, 2),
        "result_pairs": pairs,
        "search_sec_20_queries": round(t_warm, 3),
    }


def run_lshstats() -> dict:
    """Bucket-size histogram of the banded embedding-LSH index over the
    bench embeddings table — the hot-bucket dashboard: max bucket size
    bounds per-key join fan-out at scale."""
    from pyspark.sql import functions as F

    from optimizing_spark.operators import similarity as SIM

    spark = _session(CPUS)
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_vec = e.count()
    hist = SIM.band_bucket_stats(e, dim=64).toPandas()
    per_band = {}
    for band, g in hist.groupby("band"):
        per_band[int(band)] = {
            "n_buckets": int(g.n_buckets.sum()),
            "max_bucket": int(g.bucket_size.max()),
            "histogram": {int(r.bucket_size): int(r.n_buckets)
                          for r in g.itertuples()},
        }
    mx = max(b["max_bucket"] for b in per_band.values())

    # ANN quality at DEFAULT params (round-3 verdict #3): recall of
    # lsh_topk / ivf_topk(trained) vs exact brute_topk, 32 probes, k=10
    k = 10
    probes = e.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_embedding")).localCheckpoint()
    brute = {(r.probe_id, r.vec_id)
             for r in SIM.brute_topk(e, probes, k).collect()}
    lsh = {(r.probe_id, r.vec_id)
           for r in SIM.lsh_topk(e, probes, k, dim=64).collect()}
    ivf = {(r.probe_id, r.vec_id)
           for r in SIM.ivf_topk(e, probes, k).collect()}
    ivf0 = {(r.probe_id, r.vec_id)
            for r in SIM.ivf_topk(e, probes, k, train_iters=0).collect()}

    # IVF inverted-list histogram (trained index) — the hot-list twin
    # of the band-bucket dashboard
    ldf = SIM.ivf_list_stats(e, n_centroids=16, train_iters=2).toPandas()
    ivf_lists = {
        "max_list": int(ldf.list_size.max()),
        "histogram": {int(r.list_size): int(r.n_lists)
                      for r in ldf.itertuples()},
    }
    return {
        "metric": "lsh_max_bucket_size",
        "value": mx,
        "unit": "rows",
        "n_vectors": n_vec,
        "bands": per_band,
        "max_bucket_frac": round(mx / n_vec, 4),
        "ann_recall_at_defaults": {
            "k": k, "n_probes": 32,
            "lsh_topk": round(len(lsh & brute) / len(brute), 3),
            "ivf_topk_trained": round(len(ivf & brute) / len(brute), 3),
            "ivf_topk_untrained": round(len(ivf0 & brute) / len(brute), 3),
        },
        "ivf_list_stats_trained": ivf_lists,
        # lsh_topk shares these exact band/plane streams since round 3,
        # so this histogram bounds ITS per-key fan-out too
        "operators_covered": ["embedding_neardup_pairs", "lsh_topk",
                              "ivf_topk"],
    }


def run_skew() -> dict:
    """Hot-cell A/B (SURVEY §4 skew hook): a fact table with 30% of
    rows in ONE qt_code joins a per-cell dim three ways — (a) raw key,
    AQE skew-join off: one straggler task owns the hot cell; (b) the
    refine_hot_cells salted key (dim exploded x salt): load spread
    evenly; (c) raw key with AQE skew-join on: the runtime backstop.
    Broadcast is disabled so the shuffle join's skew is actually
    exercised (at 100 TB the dim side isn't always broadcastable)."""
    from pyspark.sql import functions as F

    from optimizing_spark.plans import pipeline

    n = int(os.environ.get("SPARK_GRAFT_SKEW_ROWS", "8000000"))
    hot_code, salt_buckets = 77, 32
    spark = _session(CPUS)
    conf = spark.conf
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    fact = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(4).alias("qt_depth"),
        F.when(F.col("id") < int(n * 0.3), F.lit(hot_code))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(256))).alias("qt_code"),
        F.pmod(F.col("id") * 7919, F.lit(1 << 16)).alias("w"),
    ).localCheckpoint()
    salted_fact = pipeline.refine_hot_cells(
        fact, max_rows_per_cell=n // 50, salt_buckets=salt_buckets
    ).localCheckpoint()
    dim = spark.range(256).select(
        F.lit(4).alias("qt_depth"), F.col("id").alias("qt_code"),
        (F.col("id") * 3).alias("cell_meta")).localCheckpoint()
    dim_salted = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).localCheckpoint()

    def timed(df) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            df.agg(F.sum(F.col("w") + F.col("cell_meta"))).collect()
            best = min(best, time.time() - t0)
        return round(best, 3)

    conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    t_unsalted = timed(fact.join(dim, ["qt_depth", "qt_code"]))
    t_salted = timed(
        salted_fact.join(dim_salted, ["qt_depth", "qt_code", "salt"]))
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    t_aqe = timed(fact.join(dim, ["qt_depth", "qt_code"]))
    return {
        "metric": "skew_salted_speedup",
        "value": round(t_unsalted / t_salted, 2),
        "unit": "x",
        "rows": n,
        "hot_frac": 0.3,
        "salt_buckets": salt_buckets,
        "unsalted_sec": t_unsalted,
        "salted_sec": t_salted,
        "aqe_skewjoin_sec": t_aqe,
    }


def run_zorder() -> dict:
    """Z-order bbox pruning A/B: a Morton-clustered parquet table read
    through plans/zorder.read_morton_box (dir IN-list + pushed Morton
    BETWEENs + exact residual) vs the naive bbox filter over the same
    files. Same result set; the pruned read opens fewer files and
    skips row groups via min/max stats on the sorted key."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from optimizing_spark.plans import layout, zorder

    n = int(os.environ.get("SPARK_GRAFT_ZORDER_ROWS", "8000000"))
    wb, pd_depth = 16, 3  # 64 partition dirs
    box = (9000, 22000, 14095, 30123)  # ~0.24% of the world
    spark = _session(CPUS)
    path = tempfile.mkdtemp(prefix="zorder_bench_")
    try:
        t = zorder.with_morton_key(spark.range(n).select(
            F.col("id").alias("obj_id"),
            ((F.col("id") * 48271 + 11) % (1 << wb)).alias("ix"),
            ((F.col("id") * 69621 + 7) % (1 << wb)).alias("iy"),
        )).withColumn("cell_prefix",
                      F.shiftright(F.col("m"), 2 * (wb - pd_depth)))
        layout.write_clustered(t, path, order_col="m")

        x0, y0, x1, y1 = box
        naive = spark.read.parquet(path).filter(
            (F.col("ix") >= x0) & (F.col("ix") <= x1)
            & (F.col("iy") >= y0) & (F.col("iy") <= y1))
        pruned = zorder.read_morton_box(
            spark, path, x0, y0, x1, y1, world_bits=wb,
            prefix_col="cell_prefix", prefix_depth=pd_depth)

        def timed(df) -> tuple[float, int]:
            best, rows = float("inf"), -1
            for _ in range(3):
                t0 = time.time()
                rows = df.count()
                best = min(best, time.time() - t0)
            return round(best, 3), rows

        t_naive, n_naive = timed(naive)
        t_pruned, n_pruned = timed(pruned)
        assert n_naive == n_pruned, (n_naive, n_pruned)
        rep = layout.pruning_report(
            pruned.select("obj_id", "m", "cell_prefix"))
        rep_all = layout.pruning_report(
            spark.read.parquet(path).select("obj_id", "m", "cell_prefix"))
        return {
            "metric": "zorder_box_read_speedup",
            "value": round(t_naive / t_pruned, 2),
            "unit": "x",
            "rows": n,
            "result_rows": n_naive,
            "naive_sec": t_naive,
            "pruned_sec": t_pruned,
            "files_read": rep["files_read"],
            "files_total": rep_all["files_read"],
        }
    finally:
        shutil.rmtree(path, ignore_errors=True)


def run_sketch() -> dict:
    """Sketch-vs-exact A/B: per-group distinct counts over a
    high-cardinality synthetic (the regime sketches exist for). Exact
    ``count(distinct k)`` must shuffle every (group, key) pair; the HLL
    register path's map-side partial agg bounds shuffle rows at
    |groups| * 256 no matter the input — the 100 TB argument, measured.
    Also reports the max relative estimate error across groups."""
    from pyspark.sql import functions as F

    from optimizing_spark.functions import sketches as SK

    n = int(os.environ.get("SPARK_GRAFT_SKETCH_ROWS", "40000000"))
    n_keys, n_groups = n // 4, 32
    spark = _session(CPUS)

    # 32-char md5 keys: realistic identifier width, so the exact path's
    # expand-shuffle moves ~n * 40B while the sketch path's map-side
    # partial agg shuffles <= |groups| * 256 register rows total; the
    # key derivation cost itself is identical on both sides
    def base():
        return spark.range(n).select(
            (F.col("id") % n_groups).alias("g"),
            F.md5((F.col("id") % n_keys).cast("string")).alias("k"))

    def timed(build) -> tuple[float, list]:
        # rebuild the lineage per rep: a repeated action on the SAME
        # DataFrame reuses its materialized shuffle map outputs and
        # would time only the reduce side
        best, rows = float("inf"), None
        for _ in range(3):
            df = build()
            t0 = time.time()
            rows = df.collect()
            best = min(best, time.time() - t0)
        return round(best, 3), rows

    t_exact, ex = timed(
        lambda: base().groupBy("g").agg(
            F.countDistinct("k").alias("n_exact")))
    t_hll, est = timed(lambda: SK.hll_distinct(base(), ["g"], "k"))
    exact = {r["g"]: r["n_exact"] for r in ex}
    err = max(abs(r["hll_distinct"] / exact[r["g"]] - 1) for r in est)
    return {
        "metric": "hll_vs_exact_distinct_speedup",
        "value": round(t_exact / t_hll, 2),
        "unit": "x",
        "rows": n,
        "distinct_per_group": n_keys // n_groups,
        "exact_sec": t_exact,
        "hll_sec": t_hll,
        "max_rel_err": round(err, 4),
    }


def run_curate() -> dict:
    """Curation-pipeline scale stress (round-4 verdict #5): run
    curate_corpus (quality+lang gates -> exact dedup -> LSH near-dup
    drop) on a >=20M-doc synthetic corpus with PLANTED duplication —
    an exact-dup band, a near-dup band, and one 5000-member near-dup
    cluster whose LSH buckets exceed the 4096-row cap, forcing the
    hot-bucket self-join fallback to actually fire. Records the band
    bucket histogram, peak per-stage shuffle bytes, and task-time skew
    (max/median) of the heaviest stages via the Spark status REST API.
    Doc count: $SPARK_GRAFT_CURATE_DOCS (default 20M)."""
    import json as _json
    import urllib.request

    from pyspark.sql import functions as F

    from optimizing_spark.operators import dedup as DD
    from optimizing_spark.sources import datagen

    n = int(os.environ.get("SPARK_GRAFT_CURATE_DOCS", "20000000"))
    # ~95% of cluster members are exact copies sharing every band
    # hash, so the cluster bucket (~4750+) exceeds the 4096 fallback
    # threshold in all 4 bands while the verify stage stays bounded
    # (~4-5M in-cluster pairs, not the ~40M a fully-mutated 15k
    # cluster spreads into)
    hot = 5000
    spark = _session(CPUS)
    # a UI-enabled session is required for the REST metrics
    if spark.conf.get("spark.ui.enabled", "false") != "true":
        spark.stop()
        from optimizing_spark.session import get_spark
        spark = get_spark("curate_bench", cores=CPUS,
                          shuffle_partitions=max(64, CPUS * 2),
                          extra={"spark.ui.enabled": "true"})
    path = f"/tmp/curate_docs_{n}"
    if not os.path.isdir(path):
        datagen.curation_docs_spark(spark, n, partitions=max(64, CPUS * 2),
                                    hot_cluster=hot) \
            .write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)

    t0 = time.time()
    survivors = DD.curate_corpus(docs).count()
    wall = time.time() - t0

    # band-bucket dashboard (shares minhash_lsh_pairs' exact banding)
    hist = DD.lsh_band_stats(docs).toPandas()
    max_bucket = int(hist.bucket_size.max())
    hot_buckets = int(hist[hist.bucket_size > 4096].n_buckets.sum())

    # stage metrics: top stages by shuffle write + task-time skew
    base = "http://localhost:4040/api/v1"
    stages_meta, peak_shuffle = [], 0
    try:
        apps = _json.load(urllib.request.urlopen(f"{base}/applications"))
        app = apps[0]["id"]
        stages = _json.load(urllib.request.urlopen(
            f"{base}/applications/{app}/stages?status=complete"))
        stages.sort(key=lambda s: s.get("shuffleWriteBytes", 0), reverse=True)
        peak_shuffle = max((s.get("shuffleWriteBytes", 0) for s in stages),
                          default=0)
        for s in stages[:5]:
            q = _json.load(urllib.request.urlopen(
                f"{base}/applications/{app}/stages/{s['stageId']}/"
                f"{s['attemptId']}/taskSummary?quantiles=0.5,1.0"))
            med, mx = q["executorRunTime"]
            stages_meta.append({
                "stage": s["stageId"],
                "shuffle_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                "task_ms_median": round(med),
                "task_ms_max": round(mx),
                "max_over_median": round(mx / med, 2) if med else None,
            })
    except Exception as e:  # UI scrape is best-effort diagnostics
        stages_meta = [{"error": str(e)}]

    return {
        "metric": "curate_docs_per_sec",
        "value": round(n / wall),
        "unit": "docs/s",
        "docs": n,
        "survivors": survivors,
        "wall_sec": round(wall, 1),
        "planted": {"exact_dup_mod": 17, "near_dup_mod": 13,
                    "hot_cluster": hot},
        "lsh_band_buckets": {
            "max_bucket": max_bucket,
            "buckets_over_4096": hot_buckets,
            "hot_fallback_fired": hot_buckets > 0,
        },
        "peak_stage_shuffle_write_mb": round(peak_shuffle / 1e6, 1),
        "heaviest_stages": stages_meta,
    }


def run_bloom() -> dict:
    """Bloom anti-join pruning datapoint (round-4 verdict #6): the
    curate pipeline's final near-dup drop, measured both ways at the
    20M-doc curation scale — plain shuffle left-anti vs
    sketches.bloom_anti_join (8 KB materialized bloom routes provably-
    clean survivors around the exchange map-side).

    Method: the gated-dedup survivor table (``ded``) and the LSH drop
    set are computed ONCE and stored to parquet (the documented 100 TB
    pattern — run the anti join off the stored gated table), then each
    variant runs `.count()` off those identical files with
    auto-broadcast DISABLED (emulating the regime where the drop set
    outgrows a broadcast — with broadcast on, Spark broadcasts the
    drop set and there is no exchange to prune). Reported: rows/bytes
    through the exchange per variant, rows pruned map-side, identical
    survivor counts, wall per variant, REST shuffle-write delta."""
    import json as _json
    import urllib.request

    from pyspark.sql import functions as F

    from optimizing_spark.functions import sketches as SK
    from optimizing_spark.operators import dedup as DD
    from optimizing_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
    from optimizing_spark.functions import text as TX
    from optimizing_spark.sources import datagen

    n = int(os.environ.get("SPARK_GRAFT_CURATE_DOCS", "20000000"))
    from optimizing_spark.session import get_spark
    spark = get_spark("bloom_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    path = f"/tmp/curate_docs_{n}"
    if not os.path.isdir(path):
        datagen.curation_docs_spark(spark, n, partitions=max(64, CPUS * 2),
                                    hot_cluster=5000) \
            .write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)

    ded_path, drop_path = f"/tmp/bloom_ded_{n}", f"/tmp/bloom_drop_{n}"
    if not (os.path.isdir(ded_path) and os.path.isdir(drop_path)):
        q = TX.quality_cols(docs, "text").withColumn(
            "_lg", TX.lang_guess_col("text"))
        keep = q.filter((F.col("n_tokens") >= 20)
                        & (F.col("quality_score") >= 60)
                        & (F.col("_lg") == "en"))
        exact_dedup(keep, text="text", key="doc_id") \
            .write.mode("overwrite").parquet(ded_path)
        minhash_lsh_pairs(docs, text="text", key="doc_id") \
            .select(F.col("b").alias("doc_id")).distinct() \
            .write.mode("overwrite").parquet(drop_path)
    ded = spark.read.parquet(ded_path)
    drop = spark.read.parquet(drop_path)

    base = "http://localhost:4040/api/v1"

    def shuffle_bytes() -> int | None:
        """None (not 0) when the REST scrape fails — a recorded 0 must
        mean MEASURED zero, never 'UI unreachable'."""
        try:
            apps = _json.load(urllib.request.urlopen(f"{base}/applications"))
            app = apps[0]["id"]
            stages = _json.load(urllib.request.urlopen(
                f"{base}/applications/{app}/stages?status=complete"))
            return sum(s.get("shuffleWriteBytes", 0) for s in stages)
        except Exception:
            return None

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    variants = {}
    # Thunks, not prebuilt DataFrames: bloom_anti_join is EAGER (it
    # runs the bloom-build jobs at construction), so building it
    # before t0 would exclude the bloom's cost from its own recorded
    # wall/shuffle — the honest comparison charges each variant its
    # full price.
    for name, mk in (
        ("plain_anti", lambda: ded.join(drop, "doc_id", "left_anti")),
        ("bloom_anti", lambda: SK.bloom_anti_join(ded, drop, "doc_id")),
    ):
        s0 = shuffle_bytes()
        t0 = time.time()
        survivors = mk().count()
        wall = time.time() - t0
        s1 = shuffle_bytes()
        variants[name] = {
            "survivors": survivors,
            "wall_sec": round(wall, 2),
            "shuffle_write_mb": (round((s1 - s0) / 1e6, 1)
                                 if s0 is not None and s1 is not None
                                 else None),
        }
    ded_rows = ded.count()
    bloom_lit, words = SK._bloom_literal(drop, "doc_id", SK.BLOOM_K, None,
                                         hash="xx")
    positive = ded.filter(
        SK.bloom_might_contain_bin(F.col("doc_id"), bloom_lit,
                                   SK.BLOOM_K, words, hash="xx")).count()
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert variants["plain_anti"]["survivors"] == \
        variants["bloom_anti"]["survivors"]
    return {
        "metric": "bloom_anti_join_prune",
        "value": ded_rows - positive,
        "unit": "rows_pruned_mapside",
        "docs": n,
        "ded_rows": ded_rows,
        "drop_rows": drop.count(),
        "bloom_words": words,
        "bloom_kb": round(words * 8 / 1024, 1),
        "bloom_positive_rows": positive,
        "exchange_rows": {"plain_anti": ded_rows, "bloom_anti": positive},
        "prune_frac": round((ded_rows - positive) / max(ded_rows, 1), 4),
        "variants": variants,
        "note": "auto-broadcast disabled to emulate drop-set > broadcast "
                "range; identical survivor counts asserted",
    }


def _stage_skew(top_n: int = 3) -> list:
    """Best-effort REST scrape: top completed stages by shuffle write
    with median/max task run time — the no-hot-cell-task-over-2x-median
    evidence for the cells-mode joins."""
    import json as _json
    import urllib.request

    base = "http://localhost:4040/api/v1"
    out = []
    try:
        apps = _json.load(urllib.request.urlopen(f"{base}/applications"))
        app = apps[0]["id"]
        stages = _json.load(urllib.request.urlopen(
            f"{base}/applications/{app}/stages?status=complete"))
        stages.sort(key=lambda s: s.get("shuffleWriteBytes", 0), reverse=True)
        for s in stages[:top_n]:
            q = _json.load(urllib.request.urlopen(
                f"{base}/applications/{app}/stages/{s['stageId']}/"
                f"{s['attemptId']}/taskSummary?quantiles=0.5,1.0"))
            med, mx = q["executorRunTime"]
            out.append({
                "stage": s["stageId"],
                "shuffle_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                "task_ms_median": round(med),
                "task_ms_max": round(mx),
                "max_over_median": round(mx / med, 2) if med else None,
            })
    except Exception as e:
        out = [{"error": str(e)}]
    return out


def _cell_candidate_hist(left_cells, right_cells) -> dict:
    """Per-cell candidate-pair histogram for a cells-mode join: join
    the two sides' per-(cell_x, cell_y) counts and summarize
    n_left * n_right — the per-cell work the equi-shuffle co-locates
    (the hex/LSH band-bucket dashboard pattern)."""
    from pyspark.sql import functions as F

    lc = left_cells.groupBy("cell_x", "cell_y").agg(F.count("*").alias("nl"))
    rc = right_cells.groupBy("cell_x", "cell_y").agg(F.count("*").alias("nr"))
    per = lc.join(rc, ["cell_x", "cell_y"]).select(
        (F.col("nl") * F.col("nr")).alias("cand"))
    row = per.agg(
        F.count("*").alias("cells"),
        F.sum("cand").alias("total"),
        F.expr("percentile_approx(cand, 0.5)").alias("p50"),
        F.expr("percentile_approx(cand, 0.99)").alias("p99"),
        F.max("cand").alias("max"),
    ).collect()[0]
    if row["cells"] == 0:  # no co-located cells: aggregates are NULL
        return {"co_located_cells": 0, "total_candidate_pairs": 0,
                "cand_per_cell_p50": 0, "cand_per_cell_p99": 0,
                "cand_per_cell_max": 0, "max_over_p50": None}
    return {"co_located_cells": row["cells"],
            "total_candidate_pairs": int(row["total"]),
            "cand_per_cell_p50": int(row["p50"]),
            "cand_per_cell_p99": int(row["p99"]),
            "cand_per_cell_max": int(row["max"]),
            "max_over_p50": round(row["max"] / max(row["p50"], 1), 1)}


def run_seg(n: int = 20_000_000) -> dict:
    """Segment-box join at scale (round-4 verdict #4): n short integer
    segments (bounded length <= ~724, so each spans 1-2 grid cells per
    axis) joined in CELLS mode against 2k query boxes at depth 6
    (64x64 grid over the 65536^2 world, cell edge 1024). Reports the
    per-cell candidate histogram (the reporting-cell dedup shape under
    load) and task-time skew of the heaviest shuffle stages."""
    from pyspark.sql import functions as F

    from optimizing_spark.config import Box2
    from optimizing_spark.operators import joins
    from optimizing_spark.operators.tiling import explode_covering_cells
    from optimizing_spark.session import get_spark

    E, depth = 65536, 6
    world = Box2(0.0, 0.0, float(E), float(E))
    spark = get_spark("seg_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    segs = spark.range(n, numPartitions=CPUS * 2).select(
        F.col("id").alias("seg_id"),
        ((F.col("id") * 7919 + 17) % E).alias("x1"),
        ((F.col("id") * 9973 + 31) % E).alias("y1"),
    ).select(
        "seg_id", "x1", "y1",
        (F.col("x1") + (F.col("seg_id") * 104729 + 7) % 1025 - 512).alias("x2"),
        (F.col("y1") + (F.col("seg_id") * 48271 + 3) % 1025 - 512).alias("y2"),
    )
    boxes = spark.range(2_000).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 2654435761 + 11) % (E - 2048)).alias("q_min_x"),
        ((F.col("id") * 40503 + 13) % (E - 2048)).alias("q_min_y"),
    ).select(
        "query_id", "q_min_x", "q_min_y",
        (F.col("q_min_x") + 1024 + (F.col("query_id") * 31) % 1024)
        .alias("q_max_x"),
        (F.col("q_min_y") + 1024 + (F.col("query_id") * 37) % 1024)
        .alias("q_max_y"),
    )
    segs.count()  # warm input
    calib = _quick_calibration(CPUS)
    t0 = time.time()
    hits = joins.segment_box_join(segs, boxes, method="cells",
                                  world=world, depth=depth).count()
    wall = time.time() - t0
    skew = _stage_skew()
    s_cells = explode_covering_cells(
        segs.withColumn("_s_min_x", F.least("x1", "x2"))
        .withColumn("_s_min_y", F.least("y1", "y2"))
        .withColumn("_s_max_x", F.greatest("x1", "x2"))
        .withColumn("_s_max_y", F.greatest("y1", "y2")),
        world, depth, "_s_min_x", "_s_min_y", "_s_max_x", "_s_max_y")
    q_cells = explode_covering_cells(
        boxes, world, depth, "q_min_x", "q_min_y", "q_max_x", "q_max_y")
    hist = _cell_candidate_hist(s_cells, q_cells)
    return {
        "metric": "seg_join_segments_per_sec",
        "value": round(n / wall),
        "unit": "segments/sec",
        "segments": n, "boxes": 2000, "depth": depth,
        "wall_sec": round(wall, 2),
        "hit_pairs": hits,
        "cell_candidates": hist,
        "heaviest_stages": skew,
        "calibration": calib,
    }


def run_poly(n: int = 20_000_000) -> dict:
    """Polygon-polygon join at scale (round-4 verdict #4): n small
    integer diamonds (4-vertex simple polygons, extents <= ~600) vs 2k
    larger query diamonds in CELLS mode at depth 6. Same dashboards as
    run_seg: per-cell candidate histogram + task-time skew."""
    from pyspark.sql import functions as F

    from optimizing_spark.config import Box2
    from optimizing_spark.functions import geometry as G
    from optimizing_spark.operators import joins
    from optimizing_spark.operators.tiling import explode_covering_cells
    from optimizing_spark.session import get_spark

    E, depth = 65536, 6
    world = Box2(0.0, 0.0, float(E), float(E))
    spark = get_spark("poly_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})

    def diamond(cx, cy, ex, ey):
        return F.array(
            F.struct((cx + ex).alias("x"), cy.alias("y")),
            F.struct(cx.alias("x"), (cy + ey).alias("y")),
            F.struct((cx - ex).alias("x"), cy.alias("y")),
            F.struct(cx.alias("x"), (cy - ey).alias("y")),
        )

    polys = spark.range(n, numPartitions=CPUS * 2).select(
        F.col("id").alias("poly_id"),
        diamond(((F.col("id") * 7919 + 17) % E).cast("long"),
                ((F.col("id") * 9973 + 31) % E).cast("long"),
                (100 + (F.col("id") * 13) % 500).cast("long"),
                (80 + (F.col("id") * 17) % 420).cast("long"))
        .alias("vertices_b"),
    ).withColumnRenamed("poly_id", "b_id")
    queries = spark.range(2_000).select(
        F.col("id").alias("query_id"),
        diamond((2048 + (F.col("id") * 2654435761 + 11) % (E - 4096)).cast("long"),
                (2048 + (F.col("id") * 40503 + 13) % (E - 4096)).cast("long"),
                (500 + (F.col("id") * 31) % 1500).cast("long"),
                (400 + (F.col("id") * 37) % 1100).cast("long"))
        .alias("vertices_a"),
    )
    polys.count()
    calib = _quick_calibration(CPUS)
    t0 = time.time()
    hits = joins.polygon_polygon_join(queries, polys, method="cells",
                                      world=world, depth=depth).count()
    wall = time.time() - t0
    skew = _stage_skew()
    ab = G.polygon_bbox(F.col("vertices_a"))
    bb = G.polygon_bbox(F.col("vertices_b"))
    q_cells = explode_covering_cells(
        queries.select("query_id", ab[0].alias("_x0"), ab[1].alias("_y0"),
                       ab[2].alias("_x1"), ab[3].alias("_y1")),
        world, depth, "_x0", "_y0", "_x1", "_y1")
    p_cells = explode_covering_cells(
        polys.select("b_id", bb[0].alias("_x0"), bb[1].alias("_y0"),
                     bb[2].alias("_x1"), bb[3].alias("_y1")),
        world, depth, "_x0", "_y0", "_x1", "_y1")
    hist = _cell_candidate_hist(p_cells, q_cells)
    return {
        "metric": "poly_join_polygons_per_sec",
        "value": round(n / wall),
        "unit": "polygons/sec",
        "polygons": n, "queries": 2000, "depth": depth,
        "wall_sec": round(wall, 2),
        "hit_pairs": hits,
        "cell_candidates": hist,
        "heaviest_stages": skew,
        "calibration": calib,
    }


def run_render() -> dict:
    """E3 end-to-end at the reference's EXACT config (main.cpp:43-50;
    Raytracing.hpp:417-499): 256x256 px, 2x2 subpixels, 16 samples per
    subpixel (4,194,304 camera rays), depth 5, the 10-object Cornell
    scene incl. the CUBE, eps 1e-4, tent-filter jitter, clamp +
    quarter-weighted pixel accumulation, gamma tone map — ONE lazy
    plan through rays -> pathtrace(inline scene) -> render_scene.
    Correctness of the same code path: NumPy replay equality pytest
    (tests/test_pathtrace.py::test_render_reference_scene_matches_
    numpy_replay)."""
    from pyspark.sql import functions as F

    from optimizing_spark.operators import raster
    from optimizing_spark.sources import datagen

    W = H = 256
    SUB, S, MD = 2, 16, 5
    spark = _session(CPUS)
    scene = spark.createDataFrame(datagen.cornell_scene_pandas())
    rays = datagen.camera_rays_spark(spark, W, H, subpixels=SUB, samples=S,
                                     partitions=CPUS * 2)
    n_rays = W * H * SUB * SUB * S
    t0 = time.time()
    rows = raster.render_scene(rays, scene, samples_per_subpixel=S,
                               max_depth=MD).collect()
    dt = time.time() - t0
    vals = [r.value for r in rows]
    tones = [r.tone for r in rows]
    return {
        "metric": "e3_render_rays_per_sec",
        "value": round(n_rays / dt),
        "unit": "rays/s",
        "config": {"width": W, "height": H, "subpixels": SUB,
                   "samples_per_subpixel": S, "depth": MD,
                   "scene_objects": 10, "rays": n_rays},
        "wall_sec": round(dt, 1),
        "pixels": len(rows),
        "image_mean_value": round(sum(vals) / len(vals), 4),
        "lit_pixel_frac": round(sum(1 for t in tones if t > 0) / len(tones), 3),
    }


def run_hex(n: int = 20_000_000) -> dict:
    """The BASELINE metric's own phrasing — "docs/sec tiled + joined
    (H3 res 7-9)" — over the engine's hexagonal index: n synthetic doc
    points are hex-binned at THREE nested pitches (the H3 res-7/8/9
    analog: half-pitch w halves per level, h/w ~ sqrt(3) at every
    level) and the finest level is then driven through the 7-cell
    neighbor-ring join against 10k query points. Everything is JVM
    expression math + two hash shuffles — the 100 TB shape (uniform
    integer keys, no skew, broadcast ring side). value = docs/sec
    through the full tile-x3 + ring-join pipeline, min of 2 runs,
    pure-CPU calibration attached."""
    from pyspark.sql import functions as F

    from optimizing_spark.functions import cells

    spark = _session(CPUS)
    E = 65536
    pts = spark.range(n, numPartitions=CPUS * 2).select(
        F.col("id").alias("point_id"),
        ((F.col("id") * 7919 + 17) % E).alias("px"),
        ((F.col("id") * 9973 + 31) % E).alias("py"),
    )
    qs = spark.range(10_000).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 104729 + 12345) % E).alias("qx"),
        ((F.col("id") * 48271 + 54321) % E).alias("qy"),
    )
    # res 7 -> coarsest; each level halves the half-pitch (4x the cells)
    levels = {7: (4096, 7096), 8: (2048, 3548), 9: (1024, 1774)}

    def pipeline() -> dict:
        out = {}
        for lvl, (w, h) in levels.items():
            hq, hr = cells.hex_cell(F.col("px"), F.col("py"), w, h)
            out[f"res{lvl}_cells"] = (
                pts.select(hq.alias("hq"), hr.alias("hr"))
                .groupBy("hq", "hr").count().count()
            )
        w, h = levels[9]
        phq, phr = cells.hex_cell(F.col("px"), F.col("py"), w, h)
        qhq, qhr = cells.hex_cell(F.col("qx"), F.col("qy"), w, h)
        ring = (
            qs.select("query_id", qhq.alias("_q0"), qhr.alias("_r0"))
            .withColumn("_o", F.explode(F.concat(
                F.array(F.struct(F.lit(0).alias("dq"), F.lit(0).alias("dr"))),
                cells.hex_neighbor_offsets())))
            .select("query_id",
                    (F.col("_q0") + F.col("_o.dq")).alias("hq"),
                    (F.col("_r0") + F.col("_o.dr")).alias("hr"))
        )
        joined = (
            pts.select(phq.alias("hq"), phr.alias("hr"))
            .join(F.broadcast(ring), ["hq", "hr"])
            .groupBy("query_id").count()
        )
        out["ring_join_rows"] = joined.count()
        return out

    pts.count()  # materialize input listing/codegen warm-up
    calib_before = _quick_calibration(CPUS)
    runs, detail = [], {}
    for _ in range(2):
        t0 = time.time()
        detail = pipeline()
        runs.append(time.time() - t0)
    best = min(runs)
    calib_after = _quick_calibration(CPUS)
    return {
        "metric": "hex_tiled_joined_docs_per_sec",
        "value": round(n / best),
        "unit": "docs/sec",
        "docs": n,
        "wall_sec": [round(x, 2) for x in runs],
        "levels": {str(k): {"w": w, "h": h} for k, (w, h) in levels.items()},
        "detail": detail,
        "calibration": {"before": calib_before, "after": calib_after},
    }


HEXSCALE_DOCS = int(os.environ.get("SPARK_GRAFT_HEXSCALE_DOCS", "20000000"))


def _ensure_hex_parquet() -> str:
    """Materialize the hex-scaling input once (deterministic points) so
    both parallelism levels read IDENTICAL bytes."""
    path = "/tmp/spark_graft_hex_points"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from pyspark.sql import functions as F

        spark = _session(CPUS)
        E = 65536
        spark.range(HEXSCALE_DOCS, numPartitions=64).select(
            F.col("id").alias("point_id"),
            ((F.col("id") * 7919 + 17) % E).alias("px"),
            ((F.col("id") * 9973 + 31) % E).alias("py"),
        ).write.mode("overwrite").parquet(path)
    return path


def _hex_job(spark, path: str) -> int:
    """The bench --hex pipeline off parquet: 3-level hex binning + the
    res-9 7-cell ring join, single measured pass."""
    from pyspark.sql import functions as F

    from optimizing_spark.functions import cells

    E = 65536
    pts = spark.read.parquet(path)
    total = 0
    for w, h in ((4096, 7096), (2048, 3548), (1024, 1774)):
        hq, hr = cells.hex_cell(F.col("px"), F.col("py"), w, h)
        total += (pts.select(hq.alias("hq"), hr.alias("hr"))
                  .groupBy("hq", "hr").count().count())
    w, h = 1024, 1774
    qs = spark.range(10_000).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 104729 + 12345) % E).alias("qx"),
        ((F.col("id") * 48271 + 54321) % E).alias("qy"),
    )
    qhq, qhr = cells.hex_cell(F.col("qx"), F.col("qy"), w, h)
    phq, phr = cells.hex_cell(F.col("px"), F.col("py"), w, h)
    ring = (
        qs.select("query_id", qhq.alias("_q0"), qhr.alias("_r0"))
        .withColumn("_o", F.explode(F.concat(
            F.array(F.struct(F.lit(0).alias("dq"), F.lit(0).alias("dr"))),
            cells.hex_neighbor_offsets())))
        .select("query_id",
                (F.col("_q0") + F.col("_o.dq")).alias("hq"),
                (F.col("_r0") + F.col("_o.dr")).alias("hr"))
    )
    total += (pts.select(phq.alias("hq"), phr.alias("hr"))
              .join(F.broadcast(ring), ["hq", "hr"])
              .groupBy("query_id").count().count())
    return total


def run_autocorr() -> dict:
    """Spatial autocorrelation at scale (round 5): Moran/Geary +
    per-cell Gi* over the 20M-point parquet at two lattice
    resolutions. The point table is touched by ONE count aggregation
    per resolution; everything after runs on the cell lattice (the
    8/9-offset equi-join + keyless reduces), so cost scales with CELLS,
    not points — the dashboards report both so the claim is measured."""
    import time

    from pyspark.sql import functions as F

    from optimizing_spark.operators.autocorr import (
        getis_ord_gstar,
        spatial_autocorr,
    )

    path = _ensure_hex_parquet()
    spark = _session(CPUS)
    pts = spark.read.parquet(path)
    out: dict = {"metric": "autocorr_20m", "unit": "sec",
                 "points": HEXSCALE_DOCS, "levels": {}}
    for depth in (8, 10):
        sh = 16 - depth
        cells = pts.groupBy(
            F.shiftright(F.col("px"), sh).alias("cx"),
            F.shiftright(F.col("py"), sh).alias("cy"),
        ).agg(F.count("*").alias("n")).localCheckpoint()
        t0 = time.time()
        g = spatial_autocorr(cells, val="n").collect()[0]
        t_glob = time.time() - t0
        t0 = time.time()
        zs = getis_ord_gstar(cells, val="n") \
            .agg(F.count("*").alias("n"),
                 F.max(F.abs(F.col("z"))).alias("max_abs_z")).collect()[0]
        t_local = time.time() - t0
        out["levels"][str(depth)] = {
            "n_cells": g.n_cells, "w_pairs": g.w_pairs,
            "moran_i": g.moran_i, "geary_c": g.geary_c,
            "moran_sec": round(t_glob, 2),
            "gistar_cells": zs.n, "gistar_max_abs_z": zs.max_abs_z,
            "gistar_sec": round(t_local, 2),
        }
    return out


def run_hull(n: int = 20_000_000) -> dict:
    """Global convex hull at scale (round 5): n deterministic integer
    points through hull.convex_hull's two-phase partial-hull reduce —
    each Arrow batch emits only its Akl-Toussaint-prefiltered partial
    hull (~30 survivors per 256k-row batch), so the final single-task
    reduce sees a few thousand rows no matter how large n grows.
    Reports survivor counts per phase (the evidence the reduce tree
    stays bounded) and points/sec. Also times the grouped diameter
    (512 populated groups — the parity-locked key mix is deliberate)
    — one hash shuffle + O(h^2) per-group pair max."""
    from pyspark.sql import functions as F

    from optimizing_spark.operators import hull
    from optimizing_spark.session import get_spark

    E = 65536
    # bigger Arrow batches = fewer Python roundtrips AND a stronger
    # per-batch prefilter (more points per Akl-Toussaint octagon):
    # A/B'd 10k (default) -> 256k below
    spark = get_spark("hull_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true",
                             "spark.sql.execution.arrow.maxRecordsPerBatch":
                                 "262144"})
    pts = spark.range(n, numPartitions=CPUS * 2).select(
        ((F.col("id") * 7919 + 17) % E).alias("x"),
        ((F.col("id") * 9973 + 31) % E).alias("y"),
    )
    pts.count()  # warm input lineage
    calib = _quick_calibration(CPUS)

    t0 = time.time()
    h = hull.convex_hull(pts).toPandas()
    wall_hull = time.time() - t0

    # phase-survivor dashboard: rows entering the final reduce
    partial_rows = pts.mapInPandas(
        _hull_partial_probe, "x long, y long").count()

    g = pts.withColumn("grp", (F.col("x") * 31 + F.col("y")) % 1024)
    t0 = time.time()
    diam = hull.diameter(g, "grp")
    n_groups = diam.count()
    wall_diam = time.time() - t0
    skew = _stage_skew()
    return {
        "metric": "global_hull_points_per_sec",
        "value": round(n / wall_hull),
        "unit": "points/sec",
        "points": n,
        "wall_sec_hull": round(wall_hull, 2),
        "hull_vertices": len(h),
        "final_reduce_input_rows": partial_rows,
        "grouped_diameter": {"groups": n_groups,
                             "wall_sec": round(wall_diam, 2)},
        "heaviest_stages": skew,
        "calibration": calib,
    }


def _hull_partial_probe(batches):
    """Same partial-hull pass as hull.convex_hull's phase 1, exposed
    for the survivor-count dashboard."""
    import numpy as np
    import pandas as pd

    from optimizing_spark.operators.hull import _hull_of_arrays
    for b in batches:
        hh = _hull_of_arrays(b.x.to_numpy(np.int64), b.y.to_numpy(np.int64))
        yield pd.DataFrame({
            "x": np.array([p[0] for p in hh], dtype=np.int64),
            "y": np.array([p[1] for p in hh], dtype=np.int64)})


def run_closest(n: int = 20_000_000) -> dict:
    """Global closest pair at scale (round 5): n deterministic points
    through closest.closest_pair_global — iterative band doubling over
    distance_join, each round ONE 9-cell-fan-out equi-shuffle. At
    uniform density the starting band sqrt(area/n) certifies in the
    first round, so the 20M-point exact closest pair costs one band
    join, not an all-pairs pass.

    Domain is 2^24 x 2^24 (2.8e14 cells): at 20M points the expected
    number of coincident pairs is 20M^2 / (2 * 2.8e14) ~ 0.7, so the
    reported minimum is (deterministically, for this seed) a genuine
    positive nearest distance — a 65536 domain birthday-collides
    (~46k duplicate pairs) and the answer degenerates to 0."""
    import time as _t

    from pyspark.sql import functions as F

    from optimizing_spark.config import Box2
    from optimizing_spark.operators import closest
    from optimizing_spark.session import get_spark

    E = 1 << 24
    world = Box2(0.0, 0.0, float(E), float(E))
    spark = get_spark("closest_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    # hashed (not linear-congruential) coords: a lattice pattern would
    # stack copies per cell and explode the band join's candidate count
    pts = spark.range(n, numPartitions=CPUS * 2).select(
        F.col("id").alias("point_id"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(E)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(E)).alias("y"),
    ).localCheckpoint()
    calib = _quick_calibration(CPUS)
    t0 = _t.time()
    row = closest.closest_pair_global(pts, world).collect()[0]
    wall = _t.time() - t0
    skew = _stage_skew()
    return {
        "metric": "closest_pair_points_per_sec",
        "value": round(n / wall),
        "unit": "points/sec",
        "points": n,
        "wall_sec": round(wall, 2),
        "pair": {"id_a": row.id_a, "id_b": row.id_b,
                 "min_d2": row.min_d2},
        "starting_band": max(1, int((E * E / n) ** 0.5)),
        "heaviest_stages": skew,
        "calibration": calib,
    }


def run_hilbert(n: int = 20_000_000) -> dict:
    """Hilbert vs Morton (round 5): (a) encode throughput over n
    deterministic 16-bit points — both pure-JVM codegen chains, so
    this prices the 16-step Hilbert rotate against the 4-step Morton
    spread; (b) the reason to pay it: contiguous code RUNS per random
    256x256 viewport (1024 boxes enumerated cell-by-cell = 67M rows),
    i.e. how many separate range reads a clustered layout needs per
    query. Moon et al. 2001 predicts ~q^2/3 runs for Hilbert vs ~2q^2/3
    for Morton on a q x q region."""
    import time as _t

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from optimizing_spark.functions import cells as C
    from optimizing_spark.session import get_spark

    spark = get_spark("hilbert_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    E = 65536
    pts = spark.range(n, numPartitions=CPUS * 2).select(
        F.col("id").alias("obj_id"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(E)).alias("ix"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(E)).alias("iy"),
    ).localCheckpoint()
    out = {"metric": "hilbert_encode_points_per_sec", "unit": "points/sec",
           "points": n}
    t0 = _t.time()
    h_chk = C.with_hilbert2d(pts).agg(
        F.sum(F.col("h") % F.lit(1 << 20))).collect()[0][0]
    hil = _t.time() - t0
    t0 = _t.time()
    m_chk = pts.select(
        C.morton2d(F.col("ix"), F.col("iy")).alias("m")).agg(
        F.sum(F.col("m") % F.lit(1 << 20))).collect()[0][0]
    mor = _t.time() - t0
    out["value"] = round(n / hil)
    out["hilbert_encode_sec"] = round(hil, 2)
    out["morton_encode_sec"] = round(mor, 2)
    out["checksums"] = {"hilbert": h_chk, "morton": m_chk}

    # clustering: contiguous runs per 256x256 box, 1024 random boxes
    q, n_boxes = 256, 1024
    boxes = spark.range(n_boxes).select(
        F.col("id").alias("box"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(E - q)).alias("x0"),
        F.pmod(F.xxhash64("id", F.lit(4)), F.lit(E - q)).alias("y0"))
    cells_df = (
        boxes.withColumn("dx", F.explode(F.sequence(F.lit(0), F.lit(q - 1))))
        .withColumn("dy", F.explode(F.sequence(F.lit(0), F.lit(q - 1))))
        .select("box", (F.col("x0") + F.col("dx")).alias("ix"),
                (F.col("y0") + F.col("dy")).alias("iy")))
    enc = C.with_hilbert2d(cells_df, out="h").withColumn(
        "m", C.morton2d(F.col("ix"), F.col("iy"))).localCheckpoint()

    def _runs(col: str) -> tuple[float, float]:
        w = Window.partitionBy("box").orderBy(col)
        t0 = _t.time()
        r = (enc.withColumn("prev", F.lag(col).over(w))
             .where(F.col("prev").isNull()
                    | (F.col(col) != F.col("prev") + 1))
             .groupBy("box").agg(F.count("*").alias("runs"))
             .agg(F.avg("runs")).collect()[0][0])
        return r, _t.time() - t0
    h_runs, h_sec = _runs("h")
    m_runs, m_sec = _runs("m")
    out["viewport"] = {
        "box_edge": q, "boxes": n_boxes,
        "cells_enumerated": n_boxes * q * q,
        "hilbert_avg_runs": round(h_runs, 1),
        "morton_avg_runs": round(m_runs, 1),
        "runs_ratio_morton_over_hilbert": round(m_runs / h_runs, 2),
        "moon_prediction_hilbert": round(q * q / 3),
        "wall_sec": round(h_sec + m_sec, 2),
    }
    out["heaviest_stages"] = _stage_skew()
    return out


def run_traj(n: int = 20_000_000) -> dict:
    """Trajectory simplification at scale (round 5): n points as
    n/128 deterministic wobbly near-linear GPS-style tracks (128 points
    each: per-track base + heading, per-point hash noise of amplitude
    32) through simplify_trajectories. ONE hash shuffle on traj_id into
    applyInPandas; the NumPy interval-scan kernel prices the per-point
    work. Reports kept-ratio per eps — eps below the noise amplitude
    keeps most points, eps above collapses tracks toward their
    endpoints — plus throughput and shuffle-stage skew."""
    from pyspark.sql import functions as F

    from optimizing_spark.operators.trajectory import simplify_trajectories
    from optimizing_spark.session import get_spark

    L = 128
    n_traj = n // L
    spark = get_spark("traj_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    E = 65536
    ids = spark.range(n_traj * L, numPartitions=CPUS * 2)
    pts = ids.select(
        F.shiftright("id", 7).alias("traj_id"),
        (F.col("id") % L).alias("seq"),
        F.col("id"),
    ).select(
        "traj_id", "seq",
        ((F.col("traj_id") * 7919 + 17) % E
         + F.col("seq") * ((F.col("traj_id") * 104729 + 7) % 9 - 4)
         + (F.col("id") * 2654435761 + 11) % 65 - 32).alias("x"),
        ((F.col("traj_id") * 9973 + 31) % E
         + F.col("seq") * ((F.col("traj_id") * 48271 + 3) % 9 - 4)
         + (F.col("id") * 40503 + 13) % 65 - 32).alias("y"),
    ).localCheckpoint()
    calib = _quick_calibration(CPUS)
    out = {"metric": "traj_simplify_points_per_sec", "unit": "points/sec",
           "points": n_traj * L, "trajectories": n_traj,
           "points_per_traj": L, "noise_amplitude": 32, "eps": {}}
    for eps in (8, 64):
        t0 = time.time()
        kept = simplify_trajectories(pts, eps=eps).count()
        wall = time.time() - t0
        out["eps"][str(eps)] = {
            "kept_points": kept,
            "kept_ratio": round(kept / (n_traj * L), 4),
            "wall_sec": round(wall, 2),
            "points_per_sec": round(n_traj * L / wall),
        }
    out["value"] = out["eps"]["64"]["points_per_sec"]
    out["heaviest_stages"] = _stage_skew()
    out["calibration"] = calib
    return out


def run_ripley(n: int = 20_000_000) -> dict:
    """Point-pattern statistics at scale (round 5): Ripley K + NN-G at
    radii (4, 8, 16) over n xxhash-uniform points in the 65536² world
    (uniform, NOT the multiplicative-lattice generator — that one has
    only 65536 distinct locations x ~305 copies, an intentional
    worst-case for a distance join). r_max=16 auto-picks depth 12
    (cell edge 16, ring r=1, 9-cell fan-out): candidate pairs are
    density-bounded (~3.75 neighbours/point within 16), never n²."""
    from pyspark.sql import functions as F

    from optimizing_spark.config import POW2_WORLD_2D
    from optimizing_spark.operators.pointpattern import point_pattern
    from optimizing_spark.session import get_spark

    E = 65536
    spark = get_spark("ripley_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    pts = spark.range(n, numPartitions=CPUS * 2).select(
        F.col("id").alias("point_id"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(E)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(E)).alias("y"),
    ).localCheckpoint()
    calib = _quick_calibration(CPUS)
    t0 = time.time()
    rows = point_pattern(pts, radii=(4, 8, 16),
                         world=POW2_WORLD_2D).collect()
    wall = time.time() - t0
    lam = n / float(E * E)
    return {
        "metric": "ripley_points_per_sec",
        "value": round(n / wall),
        "unit": "points/sec",
        "points": n, "wall_sec": round(wall, 2),
        "rows": [
            {"r": r.r, "pairs_le_r": r.pairs_le_r,
             "k_hat": r.k_hat,
             "csr_expectation_pi_r2": round(3.141592653589793 * r.r * r.r, 1),
             "nn_le_r": r.nn_le_r, "g_hat": round(r.g_hat, 4)}
            for r in rows
        ],
        "density_per_unit2": lam,
        "heaviest_stages": _stage_skew(),
        "calibration": calib,
    }


def run_segseg(n: int = 20_000_000, m: int = 200_000) -> dict:
    """Segment-segment crossing join at scale (round 5): n short
    integer segments (length <= ~90 per axis — think road-network
    edges) against m longer query segments (length <= ~1024 — think
    new routes to conflict-check) in CELLS mode at depth 6. Same
    dashboards as --seg: per-cell candidate histogram (the work the
    single equi-shuffle co-locates) + task-time skew."""
    from pyspark.sql import functions as F

    from optimizing_spark.config import Box2
    from optimizing_spark.operators import joins
    from optimizing_spark.operators.tiling import explode_covering_cells
    from optimizing_spark.session import get_spark

    E, depth = 65536, 6
    world = Box2(0.0, 0.0, float(E), float(E))
    spark = get_spark("segseg_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    a = spark.range(n, numPartitions=CPUS * 2).select(
        F.col("id").alias("a_id"),
        ((F.col("id") * 7919 + 17) % E).alias("ax1"),
        ((F.col("id") * 9973 + 31) % E).alias("ay1"),
    ).select(
        "a_id", "ax1", "ay1",
        (F.col("ax1") + (F.col("a_id") * 104729 + 7) % 181 - 90).alias("ax2"),
        (F.col("ay1") + (F.col("a_id") * 48271 + 3) % 181 - 90).alias("ay2"),
    )
    b = spark.range(m).select(
        F.col("id").alias("b_id"),
        ((F.col("id") * 2654435761 + 11) % E).alias("bx1"),
        ((F.col("id") * 40503 + 13) % E).alias("by1"),
    ).select(
        "b_id", "bx1", "by1",
        (F.col("bx1") + (F.col("b_id") * 31 + 5) % 2049 - 1024).alias("bx2"),
        (F.col("by1") + (F.col("b_id") * 37 + 9) % 2049 - 1024).alias("by2"),
    )
    a.count()  # warm input
    calib = _quick_calibration(CPUS)
    t0 = time.time()
    hits = joins.segment_segment_join(a, b, method="cells",
                                      world=world, depth=depth).count()
    wall = time.time() - t0
    skew = _stage_skew()
    a_cells = explode_covering_cells(
        a.withColumn("_min_x", F.least("ax1", "ax2"))
        .withColumn("_min_y", F.least("ay1", "ay2"))
        .withColumn("_max_x", F.greatest("ax1", "ax2"))
        .withColumn("_max_y", F.greatest("ay1", "ay2")),
        world, depth, "_min_x", "_min_y", "_max_x", "_max_y")
    b_cells = explode_covering_cells(
        b.withColumn("_min_x", F.least("bx1", "bx2"))
        .withColumn("_min_y", F.least("by1", "by2"))
        .withColumn("_max_x", F.greatest("bx1", "bx2"))
        .withColumn("_max_y", F.greatest("by1", "by2")),
        world, depth, "_min_x", "_min_y", "_max_x", "_max_y")
    hist = _cell_candidate_hist(a_cells, b_cells)
    return {
        "metric": "segseg_join_segments_per_sec",
        "value": round(n / wall),
        "unit": "segments/sec",
        "left_segments": n, "right_segments": m, "depth": depth,
        "wall_sec": round(wall, 2),
        "crossing_pairs": hits,
        "cell_candidates": hist,
        "heaviest_stages": skew,
        "calibration": calib,
    }


def run_trips(n: int = 20_000_000) -> dict:
    """Trip segmentation at scale (round 5): the --traj tracks with a
    planted teleport every 13 steps (+40000 in x), split at gap=1000
    through segment_trips — the PURE-JVM window path (lag + running
    sum + per-trip agg, no Python kernel), so this prices the
    declarative trajectory op against the applyInPandas DP kernel on
    the identical 20M-point input shape."""
    from pyspark.sql import functions as F

    from optimizing_spark.operators.trajectory import segment_trips
    from optimizing_spark.session import get_spark

    L = 128
    n_traj = n // L
    spark = get_spark("trips_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    E = 65536
    pts = spark.range(n_traj * L, numPartitions=CPUS * 2).select(
        F.shiftright("id", 7).alias("traj_id"),
        (F.col("id") % L).alias("seq"),
        F.col("id"),
    ).select(
        "traj_id", "seq",
        ((F.col("traj_id") * 7919 + 17) % E
         + F.col("seq") * ((F.col("traj_id") * 104729 + 7) % 9 - 4)
         + (F.col("id") * 2654435761 + 11) % 65 - 32
         + F.lit(40000) * F.floor(F.col("seq") / 13).cast("long"))
        .alias("x"),
        ((F.col("traj_id") * 9973 + 31) % E
         + F.col("seq") * ((F.col("traj_id") * 48271 + 3) % 9 - 4)
         + (F.col("id") * 40503 + 13) % 65 - 32).alias("y"),
    ).localCheckpoint()
    calib = _quick_calibration(CPUS)
    t0 = time.time()
    trips = segment_trips(pts, gap=1000)
    agg = trips.agg(
        F.count("*").alias("n_trips"),
        F.sum("n_points").alias("pts"),
        F.max("n_points").alias("max_trip_len")).collect()[0]
    wall = time.time() - t0
    return {
        "metric": "trip_segmentation_points_per_sec",
        "value": round(n_traj * L / wall),
        "unit": "points/sec",
        "points": n_traj * L, "trajectories": n_traj,
        "wall_sec": round(wall, 2),
        "n_trips": agg.n_trips, "points_check": agg.pts,
        "max_trip_len": agg.max_trip_len,
        "heaviest_stages": _stage_skew(),
        "calibration": calib,
    }


def run_union(n: int = 20_000_000) -> dict:
    """Klee's measure at scale (round 5): exact union area of n small
    integer boxes (sides 1..16 — dedup footprints / GPS error boxes)
    plus 200 planted LARGE boxes (sides ~2-4k) at depth 10 (1024x1024
    grid, cell edge 64). The large boxes exercise the full-cover
    short-circuit: every cell they fully cover skips the slab sweep,
    so big geometry costs O(cells covered), never O(clips^2).
    Dashboards: clips-per-cell histogram (the per-cell quadratic the
    depth choice bounds) + n_full_cells + task skew."""
    from pyspark.sql import functions as F

    from optimizing_spark.config import Box2
    from optimizing_spark.operators import measure
    from optimizing_spark.session import get_spark

    E, depth = 65536, 10
    world = Box2(0.0, 0.0, float(E), float(E))
    spark = get_spark("union_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    small = spark.range(n, numPartitions=CPUS * 2).select(
        ((F.col("id") * 7919 + 17) % E).alias("x_min"),
        ((F.col("id") * 9973 + 31) % E).alias("y_min"),
        ((F.col("id") * 104729) % 16 + 1).alias("_w"),
        ((F.col("id") * 48271) % 16 + 1).alias("_h"),
    ).select(
        "x_min", "y_min",
        (F.col("x_min") + F.col("_w")).alias("x_max"),
        (F.col("y_min") + F.col("_h")).alias("y_max"))
    big = spark.range(200).select(
        ((F.col("id") * 2654435761 + 11) % (E - 4096)).alias("x_min"),
        ((F.col("id") * 40503 + 13) % (E - 4096)).alias("y_min"),
        ((F.col("id") * 31) % 2048 + 2048).alias("_w"),
        ((F.col("id") * 37) % 2048 + 2048).alias("_h"),
    ).select(
        "x_min", "y_min",
        (F.col("x_min") + F.col("_w")).alias("x_max"),
        (F.col("y_min") + F.col("_h")).alias("y_max"))
    boxes = small.unionByName(big)
    boxes.count()  # warm input
    calib = _quick_calibration(CPUS)
    t0 = time.time()
    area = measure.union_area(boxes, world, depth=depth) \
        .collect()[0]["union_area"]
    wall = time.time() - t0
    skew = _stage_skew()
    # clip + full-cover dashboards (recomputed outside the timed run)
    per_cell = measure.union_area(boxes, world, depth=depth,
                                  per_cell=True)
    edge = E >> depth
    n_cells = per_cell.count()
    n_full = per_cell.filter(F.col("area") == edge * edge).count()
    from optimizing_spark.operators.tiling import explode_covering_cells
    clips = explode_covering_cells(
        boxes.withColumn("_cx1", F.col("x_max") - 1)
        .withColumn("_cy1", F.col("y_max") - 1),
        world, depth, "x_min", "y_min", "_cx1", "_cy1")
    hist = clips.groupBy("cell_x", "cell_y").count().agg(
        F.count("*").alias("cells"), F.sum("count").alias("total"),
        F.expr("percentile_approx(count, 0.5)").alias("p50"),
        F.expr("percentile_approx(count, 0.99)").alias("p99"),
        F.max("count").alias("mx")).collect()[0]
    return {
        "metric": "union_area_boxes_per_sec",
        "value": round(n / wall),
        "unit": "boxes/sec",
        "boxes": n, "big_boxes": 200, "depth": depth,
        "wall_sec": round(wall, 2),
        "union_area": int(area),
        "world_area": E * E,
        "covered_frac": round(area / (E * E), 4),
        "occupied_cells": n_cells,
        "full_cover_cells": n_full,
        "clips_per_cell": {
            "total_clips": int(hist["total"]),
            "p50": int(hist["p50"]), "p99": int(hist["p99"]),
            "max": int(hist["mx"]),
        },
        "heaviest_stages": skew,
        "calibration": calib,
    }


def run_snap(n: int = 20_000_000, m: int = 200_000) -> dict:
    """Map-matching at scale (round 5): n GPS points snapped to their
    nearest of m road segments (length <= ~1024) within max_d=256 —
    the snap_join cells plan at auto depth (cell edge 256, r=1): the
    segment side explodes to its dilated-bbox cells, the 20M-point
    side keeps its ONE home cell and never fans out, candidates meet
    in one equi-shuffle, hash argmin per point. Dashboards: per-cell
    candidate histogram + snapped fraction + task skew."""
    from pyspark.sql import functions as F

    from optimizing_spark.config import Box2
    from optimizing_spark.operators import joins
    from optimizing_spark.operators.tiling import explode_covering_cells
    from optimizing_spark.session import get_spark

    E, max_d = 65536, 256
    world = Box2(0.0, 0.0, float(E), float(E))
    spark = get_spark("snap_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    pts = spark.range(n, numPartitions=CPUS * 2).select(
        F.col("id").alias("point_id"),
        ((F.col("id") * 7919 + 17) % E).alias("px"),
        ((F.col("id") * 9973 + 31) % E).alias("py"),
    )
    segs = spark.range(m).select(
        F.col("id").alias("seg_id"),
        ((F.col("id") * 2654435761 + 11) % E).alias("x1"),
        ((F.col("id") * 40503 + 13) % E).alias("y1"),
    ).select(
        "seg_id", "x1", "y1",
        (F.col("x1") + (F.col("seg_id") * 31 + 5) % 2049 - 1024).alias("x2"),
        (F.col("y1") + (F.col("seg_id") * 37 + 9) % 2049 - 1024).alias("y2"),
    )
    pts.count()  # warm input
    calib = _quick_calibration(CPUS)
    t0 = time.time()
    snapped = joins.snap_join(pts, segs, max_d, world).count()
    wall = time.time() - t0
    skew = _stage_skew()
    depth = joins._ring_grid(world, max_d, None, who="run_snap")[0]
    cx, cy = joins._cell_sql(world, depth, "px", "py")
    p_cells = pts.selectExpr(f"{cx} AS cell_x", f"{cy} AS cell_y")
    s_cells = explode_covering_cells(
        segs.withColumn("_s_min_x", F.least("x1", "x2") - max_d)
        .withColumn("_s_min_y", F.least("y1", "y2") - max_d)
        .withColumn("_s_max_x", F.greatest("x1", "x2") + max_d)
        .withColumn("_s_max_y", F.greatest("y1", "y2") + max_d),
        world, depth, "_s_min_x", "_s_min_y", "_s_max_x", "_s_max_y")
    hist = _cell_candidate_hist(p_cells, s_cells)
    return {
        "metric": "snap_join_points_per_sec",
        "value": round(n / wall),
        "unit": "points/sec",
        "points": n, "segments": m, "max_d": max_d, "depth": depth,
        "wall_sec": round(wall, 2),
        "snapped_points": snapped,
        "snapped_frac": round(snapped / n, 4),
        "cell_candidates": hist,
        "heaviest_stages": skew,
        "calibration": calib,
    }


def run_st(n: int = 20_000_000) -> dict:
    """Spatio-temporal pair join at scale (round 5): n events over the
    65536^2 world and a 30-day second clock, pairs within d=256 AND
    t=3600s through st_pair_join — ONE (cell_x, cell_y, tb)
    equi-shuffle, spatial ring r=1 x time ring {-1,0,1} (fan-out 27).
    Dashboards: per-(cell,bucket) key histogram + task skew."""
    from pyspark.sql import functions as F

    from optimizing_spark.config import Box2
    from optimizing_spark.operators import joins
    from optimizing_spark.session import get_spark

    E, d, t, tspan = 65536, 256, 3600, 30 * 86400
    world = Box2(0.0, 0.0, float(E), float(E))
    spark = get_spark("st_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    ev = spark.range(n, numPartitions=CPUS * 2).select(
        F.col("id").alias("event_id"),
        ((F.col("id") * 7919 + 17) % E).alias("x"),
        ((F.col("id") * 9973 + 31) % E).alias("y"),
        ((F.col("id") * 104729 + 7) % tspan).alias("tsec"),
    )
    ev.count()  # warm input
    calib = _quick_calibration(CPUS)
    t0 = time.time()
    pairs = joins.st_pair_join(ev, d, t, world).count()
    wall = time.time() - t0
    skew = _stage_skew()
    depth = joins._ring_grid(world, d, None, who="run_st")[0]
    cx, cy = joins._cell_sql(world, depth, "x", "y")
    keys = ev.selectExpr(
        f"{cx} AS cell_x", f"{cy} AS cell_y", f"tsec div {t} AS tb")
    hist = keys.groupBy("cell_x", "cell_y", "tb").count().agg(
        F.count("*").alias("keys"),
        F.expr("percentile_approx(count, 0.5)").alias("p50"),
        F.expr("percentile_approx(count, 0.99)").alias("p99"),
        F.max("count").alias("mx")).collect()[0]
    return {
        "metric": "st_pair_join_events_per_sec",
        "value": round(n / wall),
        "unit": "events/sec",
        "events": n, "d": d, "t_sec": t, "depth": depth,
        "wall_sec": round(wall, 2),
        "pairs": pairs,
        "key_histogram": {
            "occupied_keys": int(hist["keys"]),
            "rows_per_key_p50": int(hist["p50"]),
            "rows_per_key_p99": int(hist["p99"]),
            "rows_per_key_max": int(hist["mx"]),
        },
        "heaviest_stages": skew,
        "calibration": calib,
    }


def run_stscale(n: int = 24_000_000) -> dict:
    """N -> 4N scaling for the round-5 flagship spatio-temporal pair
    join: the SAME st_pair_join job (n events, d=256, t=3600 s) at
    local[8] and local[32], best-of-3, with the pure-CPU host
    calibration the raw ratio must be read against (this VM's cores
    downclock under wide load). The north-rule criterion is >= 0.8
    throughput scaling efficiency between the two cluster sizes."""
    from pyspark.sql import SparkSession, functions as F

    from optimizing_spark.config import Box2
    from optimizing_spark.operators import joins
    from optimizing_spark.session import get_spark

    E, d, t, tspan = 65536, 256, 3600, 30 * 86400
    world = Box2(0.0, 0.0, float(E), float(E))
    lo, hi = SCALING_LEVELS
    results = {}
    for cores in (lo, hi):
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        spark = get_spark(f"stscale_{cores}", cores=cores,
                          shuffle_partitions=max(32, cores * 2))
        ev = spark.range(n, numPartitions=cores * 2).select(
            F.col("id").alias("event_id"),
            ((F.col("id") * 7919 + 17) % E).alias("x"),
            ((F.col("id") * 9973 + 31) % E).alias("y"),
            ((F.col("id") * 104729 + 7) % tspan).alias("tsec"),
        )
        ev.count()  # warm input + JIT
        iters, pairs = [], None
        for _ in range(SCALING_REPEATS):
            t0 = time.time()
            pairs = joins.st_pair_join(ev, d, t, world).count()
            iters.append(time.time() - t0)
        best = min(iters)
        results[cores] = {
            "sec": round(best, 3),
            "all_iters_sec": [round(x, 3) for x in iters],
            "events_per_sec": round(n / best),
            "pairs": pairs,
        }
        spark.stop()
    assert results[lo]["pairs"] == results[hi]["pairs"]
    speedup = results[lo]["sec"] / results[hi]["sec"]
    eff = speedup / (hi / lo)
    calib = _host_calibration((lo, hi))
    return {
        "metric": f"st_scaling_efficiency_{lo}_to_{hi}",
        "value": round(eff, 3),
        "unit": "ratio",
        "events": n,
        "repeats": SCALING_REPEATS,
        "per_level": results,
        "speedup": round(speedup, 3),
        "host_calibration": calib,
        "efficiency_vs_attainable": round(
            speedup / calib["attainable_speedup"], 3),
    }


def run_coverage(n: int = 20_000_000, keys: int = 100_000) -> dict:
    """Interval union at scale (round 5): 20M closed integer intervals
    over 100k keys (~200 intervals/key, ~37% inter-interval overlap)
    through temporal.interval_union — ONE key shuffle drives the sort,
    running-max island flags and per-island aggregates. Reports merge
    compression (inputs per island) and the heaviest-stage skew."""
    from pyspark.sql import functions as F

    from optimizing_spark.operators.temporal import interval_union
    from optimizing_spark.session import get_spark

    span = 2_000_000
    spark = get_spark("coverage_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    iv = spark.range(n, numPartitions=CPUS * 2).select(
        F.pmod(F.xxhash64("id"), keys).alias("user_id"),
        F.pmod(F.xxhash64("id", F.lit(3)), span).alias("t0"),
        (F.pmod(F.xxhash64("id", F.lit(3)), span)
         + F.pmod(F.xxhash64("id", F.lit(5)), 4_000)).alias("t1"))
    iv.count()  # warm input
    calib = _quick_calibration(CPUS)
    t0 = time.time()
    stats = interval_union(iv, "user_id").agg(
        F.count("*").alias("islands"),
        F.sum("n_merged").alias("inputs"),
        F.max("n_merged").alias("max_merged"),
        F.sum(F.col("m_t1") - F.col("m_t0") + 1).alias("covered"),
    ).collect()[0]
    wall = time.time() - t0
    skew = _stage_skew()
    return {
        "metric": "interval_union_intervals_per_sec",
        "value": round(n / wall),
        "unit": "intervals/sec",
        "intervals": n, "keys": keys,
        "wall_sec": round(wall, 2),
        "islands": int(stats["islands"]),
        "inputs_per_island": round(stats["inputs"] / stats["islands"], 2),
        "max_merged": int(stats["max_merged"]),
        "covered_units": int(stats["covered"]),
        "heaviest_stages": skew,
        "calibration": calib,
    }


def run_distfield(n: int = 20_000_000) -> dict:
    """Geodesic distance transform at scale (round 5): the occupied
    depth-10 lattice (1024x1024 cells) of a 1-in-12 thinning of n
    points (~81% site occupancy — supercritical, connected), seeded at
    ~8.6k hash-selected cells, BFS to the max_rounds=32 cap. The
    dashboard is the per-round frontier-size profile — each round is
    embarrassingly parallel over the frontier, and the round count is
    governed by seed spacing (geometry), not data volume."""
    from pyspark.sql import functions as F

    from optimizing_spark.operators.raster import distance_transform
    from optimizing_spark.session import get_spark

    E, depth = 65536, 10
    shift = 16 - depth
    spark = get_spark("distfield_bench", cores=CPUS,
                      shuffle_partitions=max(64, CPUS * 2),
                      extra={"spark.ui.enabled": "true"})
    # xxhash64-decorrelated coordinates: a thinned LCG pair is a 1-D
    # curve on the torus (gcd structure), which has NO 4-adjacency —
    # the hash makes the occupied set a true ~81%-density site lattice
    pts = spark.range(n, numPartitions=CPUS * 2).filter(
        F.col("id") % 12 == 0).select(
        F.shiftright(F.pmod(F.xxhash64("id"), E), shift).alias("px"),
        F.shiftright(F.pmod(F.xxhash64("id", F.lit(7)), E), shift)
        .alias("py"),
    )
    occ = pts.distinct().localCheckpoint()
    n_occ = occ.count()
    seeds = occ.filter((F.col("px") * 31 + F.col("py")) % 97 == 0)
    calib = _quick_calibration(CPUS)
    t0 = time.time()
    field = distance_transform(occ, seeds, max_rounds=32)
    prof = {int(r["dist"]): int(r["cnt"]) for r in
            field.groupBy("dist").agg(F.count("*").alias("cnt"))
            .collect()}
    wall = time.time() - t0
    settled = sum(prof.values())
    return {
        "metric": "distfield_cells_per_sec",
        "value": round(settled / wall),
        "unit": "cells/sec",
        "points": n, "depth": depth, "max_rounds": 32,
        "wall_sec": round(wall, 2),
        "occupied_cells": n_occ,
        "settled_cells": settled,
        "settled_frac": round(settled / n_occ, 4),
        "rounds_run": max(prof) if prof else 0,
        "frontier_profile": {str(k): prof[k] for k in sorted(prof)},
        "calibration": calib,
    }


def run_hexscale() -> dict:
    """North-rule scaling criterion tied to the metric's OWN pipeline:
    the hex tile-x3 + ring join at local[N] vs local[4N] over the same
    parquet, throughput at both + efficiency, host calibration
    attached (same protocol as --scaling)."""
    from pyspark.sql import SparkSession

    path = _ensure_hex_parquet()
    lo, hi = SCALING_LEVELS
    results = {}
    for cores in (lo, hi):
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        spark = _session(cores)
        _hex_job(spark, path)  # warm-up
        iters = []
        for _ in range(SCALING_REPEATS):
            t0 = time.time()
            _hex_job(spark, path)
            iters.append(time.time() - t0)
        best = min(iters)
        results[cores] = {
            "sec": round(best, 3),
            "all_iters_sec": [round(x, 3) for x in iters],
            "docs_per_sec": round(HEXSCALE_DOCS / best),
        }
        spark.stop()
    speedup = results[lo]["sec"] / results[hi]["sec"]
    eff = speedup / (hi / lo)
    calib = _host_calibration((lo, hi))
    return {
        "metric": f"hex_scaling_efficiency_{lo}_to_{hi}",
        "value": round(eff, 3),
        "unit": "ratio",
        "docs": HEXSCALE_DOCS,
        "repeats": SCALING_REPEATS,
        "per_level": results,
        "speedup": round(speedup, 3),
        "host_calibration": calib,
        "efficiency_vs_attainable": round(speedup / calib["attainable_speedup"], 3),
    }


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        print(json.dumps(run_scaling()))
    elif "--refscale" in sys.argv:
        print(json.dumps(run_refscale()))
    elif "--lshstats" in sys.argv:
        print(json.dumps(run_lshstats()))
    elif "--skew" in sys.argv:
        print(json.dumps(run_skew()))
    elif "--zorder" in sys.argv:
        print(json.dumps(run_zorder()))
    elif "--sketch" in sys.argv:
        print(json.dumps(run_sketch()))
    elif "--render" in sys.argv:
        print(json.dumps(run_render()))
    elif "--curate" in sys.argv:
        print(json.dumps(run_curate()))
    elif "--bloom" in sys.argv:
        print(json.dumps(run_bloom()))
    elif "--seg" in sys.argv:
        print(json.dumps(run_seg()))
    elif "--poly" in sys.argv:
        print(json.dumps(run_poly()))
    elif "--hull" in sys.argv:
        print(json.dumps(run_hull()))
    elif "--closest" in sys.argv:
        print(json.dumps(run_closest()))
    elif "--autocorr" in sys.argv:
        print(json.dumps(run_autocorr()))
    elif "--hilbert" in sys.argv:
        print(json.dumps(run_hilbert()))
    elif "--segseg" in sys.argv:
        print(json.dumps(run_segseg()))
    elif "--trips" in sys.argv:
        print(json.dumps(run_trips()))
    elif "--ripley" in sys.argv:
        print(json.dumps(run_ripley()))
    elif "--traj" in sys.argv:
        print(json.dumps(run_traj()))
    elif "--stscale" in sys.argv:
        print(json.dumps(run_stscale()))
    elif "--coverage" in sys.argv:
        print(json.dumps(run_coverage()))
    elif "--distfield" in sys.argv:
        print(json.dumps(run_distfield()))
    elif "--union" in sys.argv:
        print(json.dumps(run_union()))
    elif "--snap" in sys.argv:
        print(json.dumps(run_snap()))
    elif "--st" in sys.argv:
        print(json.dumps(run_st()))
    elif "--hexscale" in sys.argv:
        print(json.dumps(run_hexscale()))
    elif "--hex" in sys.argv:
        print(json.dumps(run_hex()))
    else:
        print(json.dumps(run_headline_calibrated()))
