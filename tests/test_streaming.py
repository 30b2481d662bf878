"""Structured-streaming variants: stream results must equal the batch
results on the same data (exactness of the stateless tile projections;
windowed counts with watermark; stateful ring counts)."""

import os

import pytest
from pyspark.sql import functions as F

from optimizing_spark.functions import cells as C
from optimizing_spark.functions.geocode import geocode
from optimizing_spark.sources import datagen
from optimizing_spark.streaming import cells_stream as CS


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("docs_stream") / "docs")
    datagen.spark_table(spark, "documents", 800, partitions=4).write.parquet(p)
    return p


def test_stream_tile_equals_batch(spark, docs_dir):
    schema = datagen.DOCS_SCHEMA
    stream = spark.readStream.schema(schema).parquet(docs_dir)
    tiled = CS.stream_tile(stream).select("doc_id", "qt_depth", "qt_code")
    q = tiled.writeStream.format("memory").queryName("tiled_mem") \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.table("tiled_mem").toPandas().sort_values("doc_id").reset_index(drop=True)

    batch = C.assign_quadtree_pow2(geocode(spark.read.parquet(docs_dir), how="jvm")) \
        .select("doc_id", "qt_depth", "qt_code").toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    assert len(got) == 800
    assert (got.qt_code.to_numpy() == batch.qt_code.to_numpy()).all()
    assert (got.qt_depth.to_numpy() == batch.qt_depth.to_numpy()).all()


def test_streaming_windowed_cell_counts(spark, docs_dir):
    schema = datagen.DOCS_SCHEMA
    stream = spark.readStream.schema(schema).parquet(docs_dir)
    # deterministic event time derived from the doc hash
    tiled = CS.stream_tile(stream).withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.pmod(F.xxhash64("doc_id"), F.lit(100))))
    counts = CS.streaming_cell_counts(tiled, window="10 seconds", watermark="1 minute")
    q = counts.writeStream.format("memory").queryName("cell_counts_mem") \
        .outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.table("cell_counts_mem")
    # append mode emits only closed windows; with availableNow the final
    # watermark closes all but the last — compare against batch on the
    # emitted subset
    batch = (
        CS.stream_tile(spark.read.parquet(docs_dir))
        .withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.pmod(F.xxhash64("doc_id"), F.lit(100))))
        .groupBy(F.window("ts", "10 seconds"), "qt_depth", "qt_code")
        .agg(F.count("*").alias("n_docs"))
    )
    g = got.select("window", "qt_depth", "qt_code", "n_docs").toPandas()
    b = batch.select("window", "qt_depth", "qt_code", "n_docs").toPandas()
    bmap = {(str(r.window), r.qt_depth, r.qt_code): r.n_docs for r in b.itertuples()}
    assert len(g) > 0
    for r in g.itertuples():
        assert bmap[(str(r.window), r.qt_depth, r.qt_code)] == r.n_docs


def test_ring_state_counts(spark, docs_dir):
    schema = datagen.DOCS_SCHEMA
    stream = spark.readStream.schema(schema).parquet(docs_dir)
    tiled = CS.stream_tile(stream).withColumn(
        "cell_x", F.shiftright(F.col("ix"), 12).cast("int")).withColumn(
        "cell_y", F.shiftright(F.col("iy"), 12).cast("int"))
    fn, out_schema, state_schema = CS.ring_state_counts(tiled)
    from pyspark.sql.streaming.state import GroupStateTimeout

    res = tiled.groupBy("cell_x", "cell_y").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.ProcessingTimeTimeout)
    q = res.writeStream.format("memory").queryName("ring_state_mem") \
        .outputMode("update").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.table("ring_state_mem").toPandas()
    assert len(got) > 0
    # evictions MAY fire between micro-batches (TTL is wall-clock); the
    # invariant is: every reported running count is positive and never
    # exceeds the cell's true total, and non-evicted cells reach it.
    batch = (
        CS.stream_tile(spark.read.parquet(docs_dir))
        .withColumn("cell_x", F.shiftright(F.col("ix"), 12).cast("int"))
        .withColumn("cell_y", F.shiftright(F.col("iy"), 12).cast("int"))
        .groupBy("cell_x", "cell_y").count().toPandas()
    )
    bmap = {(r.cell_x, r.cell_y): r["count"] for _, r in batch.iterrows()}
    assert (got.n_docs > 0).all()
    agg = got.groupby(["cell_x", "cell_y"]).n_docs.max()
    for (cx, cy), n in agg.items():
        assert n <= bmap[(cx, cy)]
    live_total = got[~got.evicted].groupby(["cell_x", "cell_y"]).n_docs.max().sum()
    evicted_total = got[got.evicted].n_docs.sum()
    assert live_total + evicted_total >= sum(bmap.values())


def test_streaming_exact_dedup_equals_batch_survivor_set(spark, docs_dir):
    """Streaming dedup must keep exactly one row per distinct text, and
    the surviving TEXT set must equal the batch exact_dedup's (arrival
    order may pick a different representative doc_id — the content set
    is the invariant)."""
    from optimizing_spark.operators import dedup as DD

    schema = datagen.DOCS_SCHEMA
    text = F.expr("concat_ws(' ', transform(spans, s -> s.text))")
    stream = spark.readStream.schema(schema).parquet(docs_dir) \
        .withColumn("text", text).withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.pmod(F.xxhash64("doc_id"), F.lit(100))))
    out = CS.streaming_exact_dedup(stream)
    q = out.writeStream.format("memory").queryName("dedup_mem") \
        .outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.table("dedup_mem").toPandas()

    batch = DD.exact_dedup(
        spark.read.parquet(docs_dir).withColumn("text", text)).toPandas()
    assert len(got) == len(batch)  # one survivor per distinct text
    assert set(got.text) == set(batch.text)
    assert got.text.nunique() == len(got)  # no duplicate slipped through


def test_ring_state_ttl_eviction_fires(spark, tmp_path):
    """Drive ring_state_counts through a REAL ProcessingTime trigger
    sequence (not availableNow): a cell that goes quiet past its TTL
    must produce an evicted=True row from the timeout path
    (state.hasTimedOut -> remove) in a later micro-batch — the unload
    rule (WorldPartition.hpp:206-212) under wall-clock timeouts."""
    import threading
    import time

    from pyspark.sql.streaming.state import GroupStateTimeout

    src = str(tmp_path / "ttl_src")

    def feed(cx, cy, n):
        spark.createDataFrame(
            [(cx, cy, i) for i in range(n)], "cell_x int, cell_y int, doc_id long"
        ).coalesce(1).write.mode("append").parquet(src)

    def rows(cx, cy):
        got = spark.table("ttl_mem").toPandas()
        return got[(got.cell_x == cx) & (got.cell_y == cy)]

    def poll(cond, deadline):
        while time.time() < deadline:
            hit = cond()
            if len(hit):
                return hit
            time.sleep(0.5)
        return None

    feed(1, 1, 5)  # the cell that will go quiet
    stream = spark.readStream.schema(
        "cell_x int, cell_y int, doc_id long").parquet(src)
    fn, out_schema, state_schema = CS.ring_state_counts(stream, ttl_ms=3000)
    res = stream.groupBy("cell_x", "cell_y").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.ProcessingTimeTimeout)
    q = res.writeStream.format("memory").queryName("ttl_mem") \
        .outputMode("update").trigger(processingTime="1 second").start()
    stop = threading.Event()

    def heartbeat(period=1.0):
        # heartbeat traffic on ANOTHER cell only, on a fixed schedule:
        # a slow feed write shortens the next wait instead of pushing
        # every later beat back, so the live cell never goes quiet for
        # the 3 s TTL while the test polls
        due = time.time()
        while not stop.wait(max(0.0, due - time.time())):
            feed(2, 2, 1)
            due += period

    beat = threading.Thread(target=heartbeat, daemon=True)
    beat.start()
    try:
        deadline = time.time() + 90
        evicted = poll(lambda: rows(1, 1).query("evicted"), deadline)
        assert evicted is not None, "TTL eviction never fired"
        # the eviction row reports the full count the cell had loaded
        assert evicted.n_docs.iloc[0] == 5
        # the quiet cell was updated (non-evicted) before the eviction
        pre = rows(1, 1).query("not evicted")
        assert len(pre) >= 1 and (pre.n_docs == 5).all()
        # the live cell kept accumulating, never evicted mid-traffic
        live = poll(lambda: rows(2, 2), deadline)
        assert live is not None, "heartbeat cell never reached the sink"
        assert not live.evicted.any()
    finally:
        stop.set()
        beat.join(timeout=60)
        q.stop()
    assert not beat.is_alive()


def test_streaming_hll_registers_finalize_equals_batch(spark, tmp_path):
    """The windowed streaming register state, finalized in batch, must
    equal the batch sketch on the same rows — the register table is the
    exact same state either way (merge = min is order/batching-free)."""
    from optimizing_spark.functions import sketches as SK
    from optimizing_spark.streaming import cells_stream as CS

    src = str(tmp_path / "hll_src")
    # 12 windows, keys with duplicates; ts spread 120s so the final
    # watermark (max event time - 1 min) closes the first ~6 windows
    rows = spark.range(600).select(
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") % 120)).alias("ts"),
        (F.col("id") % 180).cast("string").alias("k"))
    rows.repartition(4).write.parquet(src)

    stream = spark.readStream.schema("ts timestamp, k string").parquet(src)
    regs = CS.streaming_hll_registers(
        stream, "k", window="10 seconds", watermark="1 minute")
    q = regs.writeStream.format("memory").queryName("hll_regs_mem") \
        .outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = SK.hll_finalize(spark.table("hll_regs_mem"), ["window"]) \
        .toPandas()
    assert len(got) > 0  # append mode emits the watermark-closed windows
    batch = SK.hll_distinct(
        spark.read.parquet(src).withColumn(
            "window", F.window("ts", "10 seconds")),
        ["window"], "k").toPandas()
    bmap = {str(r.window): r.hll_distinct for r in batch.itertuples()}
    for r in got.itertuples():
        assert bmap[str(r.window)] == r.hll_distinct


def test_streaming_cms_counters_equal_batch_sketch(spark, tmp_path):
    """The windowed streaming CMS state must equal batch cms_build on
    the same rows per window (counters merge by add — batching-free),
    and finalize to the same point estimates."""
    from optimizing_spark.functions import sketches as SK
    from optimizing_spark.streaming import cells_stream as CS

    src = str(tmp_path / "cms_src")
    # every 13th item NULL: the stream must exclude them exactly like
    # batch cms_build (concat_ws would otherwise hash the bare "i:"
    # prefix and inflate arbitrary counters)
    rows = spark.range(600).select(
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") % 120)).alias("ts"),
        F.when(F.col("id") % 13 == 0, F.lit(None).cast("string"))
         .otherwise(F.concat(F.lit("it"), (F.col("id") % 50))).alias("it"))
    rows.repartition(4).write.parquet(src)

    stream = spark.readStream.schema("ts timestamp, it string").parquet(src)
    q = CS.streaming_cms_counters(stream, "it", window="10 seconds",
                                  watermark="1 minute", d=4, w=64) \
        .writeStream.format("memory").queryName("cms_mem") \
        .outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.table("cms_mem").withColumn(
        "wkey", F.col("window.start").cast("string"))
    grows = got.collect()
    assert len(grows) > 0
    emitted = {r["wkey"] for r in grows}
    g = {(r["wkey"], r["i"], r["bucket"]): r["n"] for r in grows}

    batch_src = spark.read.parquet(src).withColumn(
        "window", F.window("ts", "10 seconds")).withColumn(
        "wkey", F.col("window.start").cast("string"))
    # batch counters per window: group the cell explode by (wkey, i, b)
    from optimizing_spark.functions.sketches import _cms_keys
    b = {(r["wkey"], r["i"], r["bucket"]): r["n"]
         for r in batch_src.filter(F.col("it").isNotNull()).select(
             "wkey", F.explode(_cms_keys(F.col("it"), 4, 64)).alias("_c"))
         .groupBy("wkey", F.col("_c.i").alias("i"),
                  F.col("_c.bucket").alias("bucket"))
         .agg(F.count("*").alias("n")).collect()
         if r["wkey"] in emitted}
    assert g == b
    # finalize one emitted window's counters: estimates >= exact counts
    wkey = sorted(emitted)[0]
    counters = got.filter(F.col("wkey") == wkey).select("i", "bucket", "n")
    win_rows = batch_src.filter(
        (F.col("wkey") == wkey) & F.col("it").isNotNull())
    probes = win_rows.select("it").distinct()
    est = {r["it"]: r["cms_est"]
           for r in SK.cms_estimate(counters, probes, "it",
                                    d=4, w=64).collect()}
    exact = {r["it"]: r["n"] for r in win_rows.groupBy("it")
             .agg(F.count("*").alias("n")).collect()}
    assert all(est[k] >= v for k, v in exact.items())


def test_streaming_time_join_equals_batch(spark, tmp_path):
    """Stream-stream inner join (same key, event times within ±bound)
    must produce exactly the batch join's pair set on the same files."""
    from optimizing_spark.streaming import cells_stream as CS

    lsrc, rsrc = str(tmp_path / "tj_l"), str(tmp_path / "tj_r")
    clicks = spark.range(200).select(
        F.col("id").alias("click_id"), (F.col("id") % 7).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") * 13) % 900).alias("ts"))
    buys = spark.range(60).select(
        (F.col("id") + 1000).alias("buy_id"), (F.col("id") % 7).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") * 31) % 900).alias("ts"))
    clicks.repartition(3).write.parquet(lsrc)
    buys.repartition(3).write.parquet(rsrc)

    sl = spark.readStream.schema(
        "click_id long, user_id long, ts timestamp").parquet(lsrc)
    sr = spark.readStream.schema(
        "buy_id long, user_id long, ts timestamp").parquet(rsrc)
    out = CS.streaming_time_join(sl, sr, bound_seconds=60)
    q = out.writeStream.format("memory").queryName("tj_mem") \
        .outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {(r["l_click_id"], r["r_buy_id"])
           for r in spark.table("tj_mem").collect()}

    bl, br = spark.read.parquet(lsrc), spark.read.parquet(rsrc).withColumnsRenamed(
        {"ts": "r_ts", "user_id": "r_user"})
    want = {(r["click_id"], r["buy_id"]) for r in bl.join(
        br, (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 60 SECONDS"))
        & (F.col("r_ts") <= F.col("ts") + F.expr("INTERVAL 60 SECONDS"))
    ).collect()}
    assert got == want and len(want) > 50


def test_streaming_snapshot_sink_equals_batch_appends(spark, tmp_path):
    """foreachBatch -> snapshot commits: a 3-micro-batch run produces
    3 append versions whose read_changes union equals the batch rows,
    every version stays time-travelable, and a replayed batch_id is
    skipped (exactly-once via the snapshot log)."""
    from optimizing_spark.plans import snapshots as SN
    from optimizing_spark.streaming.cells_stream import snapshot_sink

    src = str(tmp_path / "snap_src")
    root = str(tmp_path / "tables")
    chunks = []
    for i in range(3):
        df = spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("obj_id"),
            F.pmod(F.col("id") * 7919, F.lit(1 << 16)).alias("ix"))
        df.coalesce(1).write.parquet(src, mode="append")
        chunks.append(df)

    stream = spark.readStream.schema("obj_id long, ix bigint") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = stream.writeStream.foreachBatch(
        snapshot_sink(spark, root, "ev")) \
        .option("checkpointLocation", str(tmp_path / "ckpt")) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)

    log = SN.snapshot_log(root, "ev")
    assert len(log) == 3
    assert all(e["operation"] == "append" for e in log)
    assert sorted(e["meta"]["batch_id"] for e in log) == [0, 1, 2]

    cur = SN.read_snapshot(spark, root, "ev")
    assert cur.count() == 300
    got = sorted(r.obj_id for r in cur.collect())
    assert got == list(range(300))
    # incremental read over the streamed commits == the later batches
    delta = sorted(r.obj_id for r in
                   SN.read_changes(spark, root, "ev", from_version=1)
                   .collect())
    assert len(delta) == 200 and min(delta) >= 100
    # time travel to the first micro-batch
    assert SN.read_snapshot(spark, root, "ev", version=1).count() == 100

    # a replayed batch is skipped, not double-committed
    sink = snapshot_sink(spark, root, "ev")
    sink(chunks[2], 2)
    assert len(SN.snapshot_log(root, "ev")) == 3
    # but a new batch id commits
    sink(chunks[0].limit(10), 3)
    assert SN.read_snapshot(spark, root, "ev").count() == 310


def test_streaming_hex_counts_equal_batch(spark, docs_dir):
    """Hex binning streams: windowed (hq, hr) counters over the doc
    stream equal the batch hex assignment on the same rows."""
    from optimizing_spark.functions import cells as FC

    schema = datagen.DOCS_SCHEMA
    stream = spark.readStream.schema(schema).parquet(docs_dir).withColumn(
        "ts", F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(F.xxhash64("doc_id"), F.lit(100))))
    counts = CS.streaming_hex_counts(stream, window="10 seconds",
                                     watermark="1 minute")
    q = counts.writeStream.format("memory").queryName("hex_counts_mem") \
        .outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.table("hex_counts_mem")

    g0 = geocode(spark.read.parquet(docs_dir).withColumn(
        "ts", F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(F.xxhash64("doc_id"), F.lit(100)))),
        how="jvm")
    hq, hr = FC.hex_cell(F.col("ix"), F.col("iy"))
    batch = (
        g0.select("ts", hq.alias("hq"), hr.alias("hr"))
        .groupBy(F.window("ts", "10 seconds"), "hq", "hr")
        .agg(F.count("*").alias("n_docs"))
    )
    g = got.select("window", "hq", "hr", "n_docs").toPandas()
    b = batch.select("window", "hq", "hr", "n_docs").toPandas()
    bmap = {(str(r.window), r.hq, r.hr): r.n_docs for r in b.itertuples()}
    assert len(g) > 0
    for r in g.itertuples():
        assert bmap[(str(r.window), r.hq, r.hr)] == r.n_docs


def test_streaming_distance_join_equals_batch(spark, tmp_path):
    """Stream-stream distance-band join (cell equi-key + ring explode
    + watermark time bound) must produce exactly the batch pair set:
    pairs within Euclidean d AND within the event-time bound."""
    from optimizing_spark.config import Box2

    world = Box2(0.0, 0.0, 4096.0, 4096.0)
    d = 200
    lsrc, rsrc = str(tmp_path / "sd_l"), str(tmp_path / "sd_r")
    la = spark.range(300).select(
        F.col("id").alias("a_id"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(4096)).alias("x"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(4096)).alias("y"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") * 13) % 300).alias("ts"))
    rb = spark.range(300).select(
        (F.col("id") + 9000).alias("b_id"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(4096)).alias("x"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(4)), F.lit(4096)).alias("y"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") * 31) % 300).alias("ts"))
    la.repartition(3).write.parquet(lsrc)
    rb.repartition(3).write.parquet(rsrc)

    sl = spark.readStream.schema(
        "a_id long, x bigint, y bigint, ts timestamp").parquet(lsrc)
    sr = spark.readStream.schema(
        "b_id long, x bigint, y bigint, ts timestamp").parquet(rsrc)
    out = CS.streaming_distance_join(sl, sr, d=d, world=world,
                                     bound_seconds=60)
    q = out.writeStream.format("memory").queryName("sdj_mem") \
        .outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {(r["l_a_id"], r["r_b_id"], r["dist2"])
           for r in spark.table("sdj_mem").collect()}

    bl = spark.read.parquet(lsrc)
    br = spark.read.parquet(rsrc).withColumnsRenamed(
        {"x": "rx", "y": "ry", "ts": "rts"})
    dist2 = ((F.col("x") - F.col("rx")) * (F.col("x") - F.col("rx"))
             + (F.col("y") - F.col("ry")) * (F.col("y") - F.col("ry")))
    want = {(r["a_id"], r["b_id"], r["d2"]) for r in bl.crossJoin(br).filter(
        (dist2 <= d * d)
        & (F.col("rts") >= F.col("ts") - F.expr("INTERVAL 60 SECONDS"))
        & (F.col("rts") <= F.col("ts") + F.expr("INTERVAL 60 SECONDS"))
    ).select("a_id", "b_id", dist2.alias("d2")).collect()}
    assert got == want and len(want) > 5


def test_streaming_hex_ring_join_equals_batch(spark, tmp_path):
    """Stream-stream hex-ring join (same-or-adjacent hex cell within
    the time bound) must equal the batch hex kring pair set."""
    lsrc, rsrc = str(tmp_path / "sh_l"), str(tmp_path / "sh_r")
    la = spark.range(250).select(
        F.col("id").alias("a_id"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(5)), F.lit(8192)).alias("x"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(6)), F.lit(8192)).alias("y"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") * 7) % 240).alias("ts"))
    rb = spark.range(250).select(
        (F.col("id") + 5000).alias("b_id"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(8192)).alias("x"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(8)), F.lit(8192)).alias("y"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") * 11) % 240).alias("ts"))
    la.repartition(3).write.parquet(lsrc)
    rb.repartition(3).write.parquet(rsrc)

    sl = spark.readStream.schema(
        "a_id long, x bigint, y bigint, ts timestamp").parquet(lsrc)
    sr = spark.readStream.schema(
        "b_id long, x bigint, y bigint, ts timestamp").parquet(rsrc)
    out = CS.streaming_hex_ring_join(sl, sr, bound_seconds=60)
    q = out.writeStream.format("memory").queryName("shr_mem") \
        .outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {(r["l_a_id"], r["r_b_id"]) for r in spark.table("shr_mem").collect()}

    bl = spark.read.parquet(lsrc)
    br = spark.read.parquet(rsrc).withColumnsRenamed(
        {"x": "rx", "y": "ry", "ts": "rts"})
    lhq, lhr = C.hex_cell(F.col("x"), F.col("y"))
    rhq, rhr = C.hex_cell(F.col("rx"), F.col("ry"))
    dq = lhq - rhq
    dr = lhr - rhr
    adjacent = (
        ((dq == 0) & (dr == 0))
        | ((F.abs(dq) == 2) & (dr == 0))
        | ((F.abs(dq) == 1) & (F.abs(dr) == 1))
    )
    want = {(r["a_id"], r["b_id"]) for r in bl.crossJoin(br).filter(
        adjacent
        & (F.col("rts") >= F.col("ts") - F.expr("INTERVAL 60 SECONDS"))
        & (F.col("rts") <= F.col("ts") + F.expr("INTERVAL 60 SECONDS"))
    ).select("a_id", "b_id").collect()}
    assert got == want and len(want) > 5


def test_streaming_frontier_equals_batch(spark, tmp_path):
    """Running hull AND skyline per group (frontier_state_fn): after
    the stream drains — forced through MULTIPLE micro-batches with
    maxFilesPerTrigger=1 — the frontier with the max upd counter per
    group equals the batch operator on the same rows, for both kinds.
    State is only the current frontier, never the point history."""
    from optimizing_spark.operators import hull as HL
    from optimizing_spark.operators import skyline as SKY

    src = str(tmp_path / "frontier_pts")
    pts = spark.range(4000).select(
        (F.col("id") % 4).alias("grp"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(5)), F.lit(65536)).alias("x"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(6)), F.lit(65536)).alias("y"))
    pts.repartition(4).write.parquet(src)
    batch_pts = spark.read.parquet(src)

    for kind, batch_op in (("hull", HL.convex_hull),
                           ("skyline", SKY.skyline)):
        stream = spark.readStream.schema("grp long, x bigint, y bigint") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        out = CS.streaming_frontier(stream, kind=kind)
        name = f"frontier_{kind}_mem"
        q = out.writeStream.format("memory").queryName(name) \
            .outputMode("update").trigger(availableNow=True).start()
        q.awaitTermination(120)
        got = spark.table(name).toPandas()
        # multiple micro-batches actually happened
        assert got.upd.max() >= 2, kind
        last = got[got.upd == got.groupby("grp").upd.transform("max")]
        want = batch_op(batch_pts, "grp").toPandas()
        for g in range(4):
            gw = want[want.grp == g]
            gl = last[last.grp == g]
            assert set(zip(gl.x, gl.y)) == set(zip(gw.x, gw.y)), (kind, g)
            if kind == "hull":  # ring order matches the batch hull too
                assert list(zip(gl.sort_values("seq").x,
                                gl.sort_values("seq").y)) == \
                    list(zip(gw.sort_values("seq").x,
                             gw.sort_values("seq").y)), g


def test_streaming_wsample_equals_batch(spark, tmp_path):
    """Running weighted sample per group (wsample_state_fn): after the
    stream drains across MULTIPLE micro-batches, the max-upd sample per
    group equals operators/sampling.weighted_sample on the same rows —
    ids, weights, order AND the IEEE priorities bit-for-bit. State is
    only the current top-k, never the stream history."""
    from optimizing_spark.operators.sampling import weighted_sample

    src = str(tmp_path / "ws_rows")
    rows = spark.range(3000).select(
        (F.col("id") % 4).alias("grp"),
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(9)), F.lit(997)).alias("w"))
    rows.repartition(4).write.parquet(src)
    batch_rows = spark.read.parquet(src)

    stream = spark.readStream.schema("grp long, doc_id long, w bigint") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    out = CS.streaming_wsample(stream, k=20)
    q = out.writeStream.format("memory").queryName("wsample_mem") \
        .outputMode("update").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.table("wsample_mem").toPandas()
    assert got.upd.max() >= 2  # multiple micro-batches actually happened
    last = got[got.upd == got.groupby("grp").upd.transform("max")]
    for g in range(4):
        want = weighted_sample(
            batch_rows.filter(F.col("grp") == g), "w", "doc_id", k=20
        ).select("doc_id", "w", "priority").toPandas()
        gl = last[last.grp == g]
        assert list(zip(gl.doc_id, gl.w, gl.priority)) == \
            list(zip(want.doc_id, want.w, want.priority)), g


def test_streaming_trips_equals_batch(spark, tmp_path):
    """Streaming trip segmentation (trips_state_fn): feed seq-monotone
    micro-batches (one file per batch, written in seq order so the
    FileStreamSource's mtime ordering preserves the contract) and the
    CLOSED trips emitted by the stream must equal
    operators/trajectory.segment_trips on the same rows minus each
    trajectory's final (still-open) trip. State is only the open trip,
    never the point history."""
    import time as _t

    from optimizing_spark.operators.trajectory import segment_trips

    src = str(tmp_path / "trip_pts")
    n, n_traj = 50, 6

    def pts_range(lo, hi):
        return [
            (tid, s,
             10 * s + (tid * 31 + s * 48271) % 7 + 500 * ((s + tid) // 9),
             5 * s + (tid * 17 + s * 69621) % 7)
            for tid in range(n_traj) for s in range(lo, hi)
        ]

    schema = "traj_id long, seq long, x long, y long"
    for lo, hi in ((0, 17), (17, 34), (34, n)):
        spark.createDataFrame(pts_range(lo, hi), schema) \
            .coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.2)  # distinct mtimes -> deterministic batch order

    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = CS.streaming_trips(stream, gap=60).writeStream \
        .format("memory").queryName("trips_mem") \
        .outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {tuple(int(v) for v in row)
           for row in spark.table("trips_mem").collect()}

    batch = segment_trips(
        spark.createDataFrame(pts_range(0, n), schema), gap=60).collect()
    last_trip = {}
    for r in batch:
        last_trip[r.traj_id] = max(last_trip.get(r.traj_id, -1), r.trip)
    want = {tuple(int(v) for v in r) for r in batch
            if r.trip < last_trip[r.traj_id]}
    assert len(got) > n_traj  # breaks really happened across batches
    assert got == want


def test_streaming_islands_equals_batch(spark, tmp_path):
    """Running interval union per key (islands_state_fn): after the
    stream drains across MULTIPLE micro-batches, the max-upd island
    set per key equals operators/temporal.interval_union on the same
    rows — islands, order and n_merged counts exactly. State is only
    the current disjoint island set, never the interval history."""
    from optimizing_spark.operators.temporal import interval_union

    src = str(tmp_path / "island_rows")
    rows = spark.range(4000).select(
        (F.col("id") % 5).alias("user_id"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(20_000)).alias("t0"),
        (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(20_000))
         + F.pmod(F.xxhash64("id", F.lit(5)), F.lit(400))).alias("t1"),
    )
    rows.repartition(4).write.parquet(src)
    batch_rows = spark.read.parquet(src)

    stream = spark.readStream.schema("user_id long, t0 long, t1 long") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    out = CS.streaming_islands(stream)
    q = out.writeStream.format("memory").queryName("islands_mem") \
        .outputMode("update").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.table("islands_mem").toPandas()
    assert got.upd.max() >= 2  # multiple micro-batches actually happened
    last = got[got.upd == got.groupby("user_id").upd.transform("max")]
    for g in range(5):
        want = interval_union(
            batch_rows.filter(F.col("user_id") == g), "user_id"
        ).orderBy("m_t0").toPandas()
        gl = last[last.user_id == g].sort_values("m_t0")
        assert list(zip(gl.m_t0, gl.m_t1, gl.n_merged)) == \
            list(zip(want.m_t0, want.m_t1, want.n_merged)), g


def test_streaming_snap_equals_batch(spark, tmp_path):
    """Stream-static map-matching (streaming_snap_join): streamed GPS
    points against a static segment table, drained across MULTIPLE
    micro-batches — the per-point nearest segment and IEEE d2 equal
    batch joins.snap_join on the same rows exactly (shared
    snap_exprs/snap_candidates_raw algebra). State is the in-flight
    (point_id, ts) aggregation groups, watermark-bounded."""
    import numpy as np

    from optimizing_spark.config import Box2
    from optimizing_spark.operators.joins import snap_join

    world = Box2(0.0, 0.0, 65536.0, 65536.0)
    src = str(tmp_path / "snap_pts")
    pts = spark.range(600).select(
        F.col("id").alias("point_id"),
        F.pmod(F.xxhash64("id"), F.lit(65536)).alias("px"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(65536)).alias("py"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)")
        .alias("ts"))
    pts.repartition(4).write.parquet(src)
    batch_pts = spark.read.parquet(src)
    segs = spark.range(150).select(
        F.col("id").alias("seg_id"),
        F.pmod(F.xxhash64("id", F.lit(5)), F.lit(65536)).alias("x1"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(65536)).alias("y1"),
    ).select(
        "seg_id", "x1", "y1",
        (F.col("x1") + F.pmod(F.xxhash64("seg_id", F.lit(11)), F.lit(2049))
         - 1024).alias("x2"),
        (F.col("y1") + F.pmod(F.xxhash64("seg_id", F.lit(13)), F.lit(2049))
         - 1024).alias("y2"),
    ).cache()
    segs.count()

    stream = spark.readStream.schema(
        "point_id long, px long, py long, ts timestamp") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    # watermark wider than the data's time span: files stream in mtime
    # order (not event order), so a tight watermark would late-drop
    # earlier points — eviction isn't what this test verifies
    out = CS.streaming_snap_join(stream, segs, max_d=4000, world=world,
                                 watermark="1 hour")
    q = out.writeStream.format("memory").queryName("snap_mem") \
        .outputMode("update").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.table("snap_mem").toPandas()
    got = {int(r.point_id): (int(r.seg_id), float(r.d2))
           for r in got.itertuples()}
    want_df = snap_join(batch_pts.drop("ts"), segs, 4000, world).toPandas()
    want = {int(r.point_id): (int(r.seg_id), float(r.d2))
            for r in want_df.itertuples()}
    assert len(want) > 400  # non-trivial coverage
    assert got == want
