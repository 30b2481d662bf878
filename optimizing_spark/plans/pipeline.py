"""The north-rule document pipeline: interleaved docs -> geocode ->
cell tiling -> spatial joins -> per-cell aggregates, with the span
payload carried opaque end to end.

This is the E1 flow of the reference (generate -> world-partition
insert -> per-frame ring load + viewport search, SURVEY.md §3)
re-expressed over the input_hint document table:

    docs(doc_id, spans) --geocode--> +(ix, iy, sx, sy)
        --assign_quadtree_pow2--> +(qt_depth, qt_code, cell_prefix)
        --layout.write_clustered--> cell-clustered table
        --joins / aggregates--> results

All stages are narrow projections except the clustered write's
repartition on cell_prefix (one shuffle) and whatever join the caller
runs. Skew handling: cells whose row count exceeds max_rows_per_cell
are re-encoded one level deeper (adaptive refinement, the reference's
capacity rule at cluster scale) — and the residual hot cells get a
salt column for downstream joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import POW2_WORLD_BITS
from ..functions import cells as C
from ..functions.geocode import geocode


def tile_documents(docs: DataFrame, how: str = "jvm", max_node_depth: int = 4) -> DataFrame:
    """docs(doc_id, spans) -> + geocode + quadtree cell columns + the
    depth-<=2 ``cell_prefix`` a clustered write partitions by (the
    WorldPartition two-level design: coarse cell, then Morton order
    within)."""
    g = geocode(docs, how=how)
    t = C.assign_quadtree_pow2(g, max_node_depth=max_node_depth)
    return t.withColumn(
        "cell_prefix",
        C.prefix_at_depth(F.col("qt_code"), F.col("qt_depth"),
                          F.least(F.col("qt_depth"), F.lit(2))),
    )


def refine_hot_cells(
    tiled: DataFrame,
    max_rows_per_cell: int,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew handling (north_star: 'max-objects-per-node -> max-rows-per-
    cell before resolution refinement'): count rows per (qt_depth,
    qt_code); rows in cells over the threshold get a salt column for
    salted repartition/joins; others salt 0. Returns tiled + (hot,
    salt). The deeper-re-encode path is tile_octree_capacity for exact
    reference semantics; here hotness is resolved by salting because
    static-quadtree cell identity must be preserved."""
    counts = tiled.groupBy("qt_depth", "qt_code").agg(F.count("*").alias("_cnt"))
    out = tiled.join(F.broadcast(counts.filter(F.col("_cnt") > max_rows_per_cell)),
                     ["qt_depth", "qt_code"], "left")
    return (
        out.withColumn("hot", F.col("_cnt").isNotNull())
        .withColumn(
            "salt",
            F.when(F.col("hot"),
                   F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets))).otherwise(F.lit(0)),
        )
        .drop("_cnt")
    )


def docs_cell_histogram(tiled: DataFrame) -> DataFrame:
    return tiled.groupBy("qt_depth", "qt_code").agg(F.count("*").alias("n_docs"))


def docs_range_query(tiled: DataFrame, boxes: DataFrame) -> DataFrame:
    """Viewport search over geocoded docs: broadcast point-in-box join
    on the doc anchor point (ix, iy) — the E1 draw loop."""
    pred = (
        (F.col("ix") >= F.col("min_x")) & (F.col("ix") <= F.col("max_x"))
        & (F.col("iy") >= F.col("min_y")) & (F.col("iy") <= F.col("max_y"))
    )
    return tiled.join(F.broadcast(boxes), pred)


def refresh_cell_histogram(
    spark,
    root: str,
    docs_table: str,
    hist_table: str,
    how: str = "jvm",
    max_node_depth: int = 4,
):
    """Incrementally maintain the per-cell histogram of a
    snapshot-versioned documents table (plans/snapshots).

    The 100 TB consumer pattern: per commit, tile ONLY the appended
    delta (snapshots.read_changes — scans just the new dirs) and merge
    its counts into the stored aggregate, instead of re-tiling the
    table. The refreshed histogram is itself committed as a snapshot
    of ``hist_table`` whose log meta records the source version
    watermark (``src_version``) — so refresh is idempotent, resumable
    after a crash (the watermark only advances when the new histogram
    is durably committed), and auditable (meta.mode says whether the
    refresh was incremental or full).

    Falls back to a FULL re-aggregation when the source chain since
    the watermark crosses a non-append commit (delete/overwrite/
    rollback: "what changed" is not a union of deltas).

    Returns the SnapshotInfo of the refreshed histogram (the current
    one unchanged if the watermark is already at the source tip).
    """
    from . import snapshots as SN

    src_v = SN.current_version(root, docs_table)
    if src_v is None:
        raise FileNotFoundError(f"no snapshots for {docs_table!r} under {root}")
    log = SN.snapshot_log(root, hist_table)
    last = log[-1] if log else None
    prev_v = (last.get("meta") or {}).get("src_version") if last else None

    def hist_of(docs: DataFrame) -> DataFrame:
        return docs_cell_histogram(
            tile_documents(docs.select("doc_id", "spans"), how=how,
                           max_node_depth=max_node_depth))

    if prev_v == src_v:
        return SN.SnapshotInfo(
            table=hist_table, version=last["version"],
            operation=last["operation"], rows=last["rows"],
            data_dirs=last["data_dirs"], parent=last.get("parent"),
            meta=last.get("meta") or {})

    mode = "full"
    if prev_v is not None:
        try:
            delta = SN.read_changes(
                spark, root, docs_table, from_version=prev_v,
                to_version=src_v)
            mode = "incremental"
        except (ValueError, FileNotFoundError):
            # ValueError: non-append commit in range; FileNotFoundError:
            # the watermark version was expired from the source log
            # (expire_snapshots). Either way the delta union is not
            # reconstructible -> full recompute.
            delta = None
    if mode == "incremental":
        old = SN.read_snapshot(spark, root, hist_table)
        new_hist = (
            old.unionByName(hist_of(delta))
            .groupBy("qt_depth", "qt_code")
            .agg(F.sum("n_docs").alias("n_docs"))
        )
    else:
        new_hist = hist_of(SN.read_snapshot(spark, root, docs_table,
                                            version=src_v))
    return SN.commit_snapshot(
        spark, new_hist, root, hist_table, operation="overwrite",
        meta={"src_version": src_v, "mode": mode, "from_version": prev_v})
