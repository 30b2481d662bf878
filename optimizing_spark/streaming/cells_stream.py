"""Structured-streaming restatement of the reference's frame loop:
the per-frame cell load/unload lifecycle (WorldPartition::update,
hpp:194-213) becomes a streaming aggregation whose state is the set of
"loaded" cells, and the viewport search becomes a stream-static join
against the tiled object table.

- ``stream_tile``: tile a stream of (doc_id, spans) micro-batches with
  the same geocode+quadtree projections as the batch path (stateless —
  pure projection, so streaming semantics are trivially exact).
- ``streaming_cell_counts``: windowed per-cell doc counts with a
  watermark — late data handling the frame loop never had.
- ``ring_state_counts``: applyInPandasWithState custom stateful
  operator tracking per-cell "loaded" state with TTL eviction — the
  unload path (Chebyshev distance > 1 -> unload) as state timeout.

Tests drive these with the rate / memory sinks; production would read
Kafka and write Iceberg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions.geocode import geocode


def stream_tile(stream_docs: DataFrame, max_node_depth: int = 4) -> DataFrame:
    """Stateless geocode+tile of a streaming docs source — identical
    projections to plans.pipeline.tile_documents (no repartition)."""
    g = geocode(stream_docs, how="jvm")
    return C.assign_quadtree_pow2(g, max_node_depth=max_node_depth)


def streaming_cell_counts(
    tiled_stream: DataFrame,
    ts_col: str = "ts",
    window: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Per-cell tumbling-window counts with late-data watermark."""
    return (
        tiled_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col("qt_depth"), F.col("qt_code"))
        .agg(F.count("*").alias("n_docs"))
    )


def streaming_hex_counts(
    stream_docs: DataFrame,
    ts_col: str = "ts",
    window: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Hex-cell windowed counts over a streaming docs source — the
    H3-analog of streaming_cell_counts: geocode is stateless and
    hex_cell (functions/cells.py) is a pure closed-form expression, so
    the streaming aggregation state is exactly the per-(window, hq,
    hr) counters and the result equals the batch hex binning on the
    same rows."""
    g = geocode(stream_docs, how="jvm")
    hq, hr = C.hex_cell(F.col("ix"), F.col("iy"))
    return (
        g.select(F.col(ts_col), hq.alias("hq"), hr.alias("hr"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), "hq", "hr")
        .agg(F.count("*").alias("n_docs"))
    )


def streaming_exact_dedup(
    stream_docs: DataFrame,
    text: str = "text",
    ts_col: str = "ts",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming exact dedup for the training-data pipeline: first
    arrival per content hash survives; dedup state is BOUNDED by the
    event-time watermark (dropDuplicatesWithinWatermark), so state
    never grows past one watermark interval of distinct hashes — the
    scale requirement batch exact_dedup (operators/dedup.py) meets by
    being a grouped one-shot. A duplicate arriving later than the
    watermark can re-admit its text: the standard bounded-state trade,
    documented here rather than hidden."""
    h = stream_docs.withColumn("_fp", F.md5(F.col(text)))
    return h.withWatermark(ts_col, watermark) \
        .dropDuplicatesWithinWatermark(["_fp"]).drop("_fp")


def streaming_hll_registers(
    stream: DataFrame,
    key: str,
    ts_col: str = "ts",
    window: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Windowed HLL distinct-count SKETCH STATE over a stream: one
    min-agg per (window, register) — the register table of
    functions/sketches.hll_registers kept incrementally. Spark allows
    only one stateful aggregation per streaming query, so the estimate
    is NOT computed here: registers are the output (bounded at 2^p
    rows per window regardless of stream volume, exactly why the
    sketch — not the distinct key set — is the streamable state), and
    ``sketches.hll_finalize`` turns the sink's register table into
    estimates in batch. Because register merge = min, registers from
    restarts, replays, or parallel jobs compose for free."""
    from ..functions import sketches as SK

    h = SK.hash60(key)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window),
                 (h % SK.HLL_M).alias("_j"))
        .agg(F.min(F.shiftright(h, SK.HLL_P)).alias("_mw"))
    )


def streaming_time_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts_col: str = "ts",
    bound_seconds: int = 300,
    watermark: str = "1 minute",
) -> DataFrame:
    """Stream-stream inner join: pairs with the same ``on`` key whose
    event times lie within ±``bound_seconds`` — the streaming
    counterpart of operators/temporal.interval_join with a FIXED time
    bound. The bound is not a simplification but the state contract:
    Spark can only run a stream-stream join when the condition limits
    how long a row can still match, so watermark + bound let it evict
    buffered rows; an unbounded interval join has unbounded state by
    definition (run it in batch). Output prefixes left/right columns
    ``l_``/``r_``."""
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    b = f"INTERVAL {int(bound_seconds)} SECONDS"
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{ts_col}") >= F.expr(f"l.{ts_col} - {b}"))
        & (F.col(f"r.{ts_col}") <= F.expr(f"l.{ts_col} + {b}"))
    )
    j = l.join(r, cond)
    return j.select(
        *[F.col(f"l.{c}").alias(f"l_{c}") for c in left.columns],
        *[F.col(f"r.{c}").alias(f"r_{c}") for c in right.columns],
    )


def streaming_distance_join(
    left: DataFrame,
    right: DataFrame,
    d: int,
    world,
    depth: int | None = None,
    ts_col: str = "ts",
    bound_seconds: int = 60,
    watermark: str = "1 minute",
) -> DataFrame:
    """Stream-stream SPATIAL join on the cell index — the spatial twin
    of streaming_time_join: pairs (one row from each stream) whose
    points lie within Euclidean distance ``d`` (closed, exact integer
    d^2 residual) AND whose event times lie within ±``bound_seconds``.

    The cell index is what makes this streamable: the left stream
    keeps its single coarse cell, the right stream explodes to the
    Chebyshev-<=r neighbor ring around its cell (r=1 when depth is
    auto-picked so cell_edge ~ d, exactly the batch
    operators.joins.distance_join shape / WorldPartition.hpp:194-213
    load ring), and candidates meet in a (cell_x, cell_y) EQUI-join —
    so the join state is hash-partitioned by cell, never a buffered
    cross product. The watermark + time bound is the state contract
    (same as streaming_time_join): it bounds how long a buffered row
    can still match, letting Spark evict state; the spatial predicate
    alone could never expire anything. Both explodes are stateless
    projections, so streaming output equals the batch
    distance-join + time-bound pair set on the same rows.

    Output prefixes left/right columns ``l_``/``r_`` and carries the
    exact integer ``dist2``.
    """
    from ..operators.joins import _cell_sql, _ring_grid

    depth, _, _, _, r = _ring_grid(world, d, depth,
                                   who="streaming_distance_join")
    cx, cy = _cell_sql(world, depth, "x", "y")
    lc = (
        left.withWatermark(ts_col, watermark)
        .withColumn("cell_x", F.expr(cx))
        .withColumn("cell_y", F.expr(cy))
        .alias("l")
    )
    rc = C.neighbor_cells(right.withWatermark(ts_col, watermark), cx, cy,
                          C.square_offsets(r)).alias("r")
    b = f"INTERVAL {int(bound_seconds)} SECONDS"
    # long cast: squaring 32-bit coordinate deltas overflows under
    # ANSI mode — same guard as the batch distance_join
    _lx, _ly = F.col("l.x").cast("long"), F.col("l.y").cast("long")
    _rx, _ry = F.col("r.x").cast("long"), F.col("r.y").cast("long")
    dist2 = (
        (_lx - _rx) * (_lx - _rx) + (_ly - _ry) * (_ly - _ry)
    )
    cond = (
        (F.col("l.cell_x") == F.col("r.cell_x"))
        & (F.col("l.cell_y") == F.col("r.cell_y"))
        & (F.col(f"r.{ts_col}") >= F.expr(f"l.{ts_col} - {b}"))
        & (F.col(f"r.{ts_col}") <= F.expr(f"l.{ts_col} + {b}"))
        & (dist2 <= F.lit(int(d) * int(d)))
    )
    j = lc.join(rc, cond)
    return j.select(
        *[F.col(f"l.{c}").alias(f"l_{c}") for c in left.columns],
        *[F.col(f"r.{c}").alias(f"r_{c}") for c in right.columns],
        dist2.alias("dist2"),
    )


def streaming_hex_ring_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str = "ts",
    bound_seconds: int = 60,
    watermark: str = "1 minute",
) -> DataFrame:
    """Stream-stream hex-ring join: pairs whose points land in the
    SAME or ADJACENT hexagonal cell (functions.cells.hex_cell, the H3
    analog) within ±``bound_seconds`` — the streaming form of the
    batch hex kring join (O17's load ring is inherently incremental:
    each arriving point matches the ring of cells around it). The
    right stream explodes to its own cell plus the 6 hex neighbors
    (cells.HEX_RING), candidates meet in a (hq, hr) equi-join,
    watermark + time bound evict state. Output carries l_/r_ prefixed
    columns plus the shared (hq, hr) ring cell."""
    hq_l, hr_l = C.hex_cell(F.col("x"), F.col("y"))
    lc = (
        left.withWatermark(ts_col, watermark)
        .withColumn("hq", hq_l).withColumn("hr", hr_l)
        .alias("l")
    )
    hq_r, hr_r = C.hex_cell(F.col("x"), F.col("y"))
    rc = C.neighbor_cells(
        right.withWatermark(ts_col, watermark)
        .withColumns({"hq": hq_r, "hr": hr_r}),
        "hq", "hr", C.HEX_RING, out=("hq", "hr"),
    ).alias("r")
    b = f"INTERVAL {int(bound_seconds)} SECONDS"
    cond = (
        (F.col("l.hq") == F.col("r.hq"))
        & (F.col("l.hr") == F.col("r.hr"))
        & (F.col(f"r.{ts_col}") >= F.expr(f"l.{ts_col} - {b}"))
        & (F.col(f"r.{ts_col}") <= F.expr(f"l.{ts_col} + {b}"))
    )
    j = lc.join(rc, cond)
    return j.select(
        *[F.col(f"l.{c}").alias(f"l_{c}") for c in left.columns],
        *[F.col(f"r.{c}").alias(f"r_{c}") for c in right.columns],
        F.col("l.hq").alias("hq"), F.col("l.hr").alias("hr"),
    )


def streaming_cms_counters(
    stream: DataFrame,
    item: str,
    ts_col: str = "ts",
    window: str = "10 seconds",
    watermark: str = "30 seconds",
    d: int | None = None,
    w: int | None = None,
) -> DataFrame:
    """Windowed Count-Min counters over a stream — the frequency twin
    of streaming_hll_registers: the CMS counter table IS the sketch's
    mergeable state (counters merge by ADD, so the windowed streaming
    SUM-agg keeps exactly the batch cms_build state), bounded at d*w
    rows per window regardless of stream volume. Point queries run in
    batch over the sink via sketches.cms_estimate."""
    from ..functions import sketches as SK

    d = SK.CMS_D if d is None else d
    w = SK.CMS_W if w is None else w
    # NULL items must never reach the hash (same mandatory exclusion
    # as batch cms_build: concat_ws silently drops the NULL and would
    # count the bare "i:" prefix, inflating arbitrary counters and
    # breaking streaming-state == batch-sketch equality)
    return (
        stream.withWatermark(ts_col, watermark)
        .filter(F.col(item).isNotNull())
        .select(F.col(ts_col),
                F.explode(SK._cms_keys(F.col(item), d, w)).alias("_c"))
        .groupBy(F.window(F.col(ts_col), window),
                 F.col("_c.i").alias("i"),
                 F.col("_c.bucket").alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


def ring_state_counts(
    tiled_stream: DataFrame, ttl_batches: int = 3, ttl_ms: int | None = None
):
    """Custom stateful op: per coarse cell, a running doc count that is
    EVICTED if the cell goes quiet (the unload rule as state TTL).
    ``ttl_ms`` overrides the default ttl_batches * 10 s wall-clock
    timeout (tests use a short TTL to observe real evictions).

    Returns (func, schema pair) usable with applyInPandasWithState on
    groupBy(cell). Kept as a builder so batch tests can also exercise
    the transition function directly.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = "cell_x int, cell_y int, n_docs long, evicted boolean"
    state_schema = "n long, quiet int"

    def fn(key, pdfs, state: GroupState):
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
        if state.hasTimedOut:
            n, _q = state.get
            state.remove()
            yield pd.DataFrame(
                {"cell_x": [key[0]], "cell_y": [key[1]], "n_docs": [n], "evicted": [True]}
            )
            return
        n, quiet = state.get if state.exists else (0, 0)
        n += n_new
        state.update((n, 0 if n_new else quiet + 1))
        state.setTimeoutDuration(ttl_ms if ttl_ms is not None
                                 else ttl_batches * 10_000)
        yield pd.DataFrame(
            {"cell_x": [key[0]], "cell_y": [key[1]], "n_docs": [n], "evicted": [False]}
        )

    return fn, out_schema, state_schema


def frontier_state_fn(kind: str = "hull"):
    """Running convex hull / skyline per group as a custom stateful
    operator (round 5: the streaming twin of operators/hull.py and
    operators/skyline.py). Both reductions are MERGEABLE —
    hull(state ∪ batch) == hull(hull(state) ∪ batch), and a dominated
    point stays dominated — so the state is only the CURRENT frontier
    (dozens of rows), never the history. Each micro-batch folds its
    new points through the same exact integer NumPy kernel the batch
    operators use and emits the full updated frontier with a
    monotonically increasing ``upd`` counter (update-mode semantics:
    the frontier with the max ``upd`` per group is current).

    Returns (fn, out_schema, state_schema) for
    ``groupBy(grp).applyInPandasWithState(...)`` — builder form so
    batch tests can drive the transition function directly, like
    ring_state_counts."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    from ..operators.hull import _hull_of_arrays
    from ..operators.skyline import _skyline_arrays

    if kind not in ("hull", "skyline"):
        raise ValueError(f"unknown frontier kind: {kind!r}")

    out_schema = "grp long, seq int, x long, y long, upd long"
    state_schema = "xs array<bigint>, ys array<bigint>, upd bigint"

    def fn(key, pdfs, state: GroupState):
        new_x, new_y = [], []
        for pdf in pdfs:
            new_x.append(pdf.x.to_numpy(np.int64))
            new_y.append(pdf.y.to_numpy(np.int64))
        if state.exists:
            xs, ys, upd = state.get
            new_x.append(np.asarray(xs, dtype=np.int64))
            new_y.append(np.asarray(ys, dtype=np.int64))
        else:
            upd = 0
        x = np.concatenate(new_x) if new_x else np.empty(0, np.int64)
        y = np.concatenate(new_y) if new_y else np.empty(0, np.int64)
        if kind == "hull":
            ring = _hull_of_arrays(x, y)
            fx = np.array([p[0] for p in ring], dtype=np.int64)
            fy = np.array([p[1] for p in ring], dtype=np.int64)
        else:
            pts = _skyline_arrays(x, y)
            fx, fy = pts[:, 0], pts[:, 1]
        upd += 1
        state.update(([int(v) for v in fx], [int(v) for v in fy], upd))
        yield pd.DataFrame({
            "grp": np.full(len(fx), np.int64(key[0])),
            "seq": np.arange(len(fx), dtype=np.int32),
            "x": fx, "y": fy,
            "upd": np.full(len(fx), np.int64(upd)),
        })

    return fn, out_schema, state_schema


def streaming_frontier(pts_stream: DataFrame, kind: str = "hull") -> DataFrame:
    """Wire frontier_state_fn onto a (grp, x, y) stream: one running
    hull/skyline per group, state bounded by the frontier size."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    fn, out_schema, state_schema = frontier_state_fn(kind)
    return pts_stream.groupBy("grp").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def streaming_snap_join(
    points_stream: DataFrame,
    segments: DataFrame,
    max_d: int,
    world,
    depth: int | None = None,
    ts_col: str = "ts",
    watermark: str = "1 minute",
) -> DataFrame:
    """Stream-static map-matching: each streamed GPS point snaps to
    its nearest STATIC road segment within max_d — the streaming form
    of operators/joins.snap_join, sharing its exact algebra
    (joins.snap_exprs) and candidate shape (joins.snap_candidates_raw:
    the static segment side explodes its dilated bboxes to cells once;
    each streamed point keeps its ONE home cell, so the stream-static
    equi-join is stateless on the stream side).

    The per-point argmin is the only stateful step: a
    watermark-bounded streaming aggregation keyed on (point_id, ts) —
    each point occurs once in the stream, so the group closes when the
    watermark passes its event time and the state is bounded by the
    in-flight window, never the stream history. Update mode emits each
    point's nearest segment in its arrival micro-batch (a point occurs
    once, so the first emit is final); append mode defers to watermark
    advance. Choose `watermark` wider than the source's event-time
    disorder — points older than the watermark are late-dropped, the
    standard streaming-aggregation contract. Output == batch snap_join
    on the same rows (same keep/d2/argmin algebra)."""
    from ..operators.joins import snap_candidates_raw, snap_exprs

    keep, d2 = snap_exprs(max_d)
    cand = snap_candidates_raw(
        points_stream.withWatermark(ts_col, watermark),
        segments, max_d, world, depth)
    return (
        cand.select("point_id", F.col(ts_col), d2.alias("_d2"), "seg_id")
        .filter(keep)
        .groupBy("point_id", ts_col)
        .agg(F.min(F.struct(F.col("_d2"), F.col("seg_id"))).alias("_m"))
        .select("point_id", F.col("_m.seg_id").alias("seg_id"),
                F.col("_m._d2").alias("d2"))
    )


def islands_state_fn():
    """Running interval union per key — the streaming twin of
    operators/temporal.interval_union (round 5). Island merging is one
    more MERGEABLE frontier reduction: merge(islands(state) ∪ batch)
    == merge(raw history ∪ batch), and per-island counts ADD, so the
    state is only the current disjoint island set (t0s, t1s, ns) —
    never the interval history. Each micro-batch folds its intervals
    (weight 1) with the state islands (weight n) through the exact
    batch algebra (sort by (t0, t1), running-max ends, new island when
    t0 > prevmax + 1) and emits the full updated island set with a
    monotone ``upd`` counter (update-mode semantics, like
    frontier_state_fn).

    Returns (fn, out_schema, state_schema) for
    ``groupBy(user_id).applyInPandasWithState(...)``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = "user_id long, m_t0 long, m_t1 long, n_merged long, upd long"
    state_schema = "t0s array<bigint>, t1s array<bigint>, ns array<bigint>, upd bigint"

    def _merge(t0, t1, n):
        order = np.lexsort((t1, t0))
        t0, t1, n = t0[order], t1[order], n[order]
        ends = np.maximum.accumulate(t1)
        new = np.ones(len(t0), dtype=bool)
        new[1:] = t0[1:] > ends[:-1] + 1
        starts = np.flatnonzero(new)
        m_t0 = t0[starts]
        m_t1 = np.maximum.reduceat(t1, starts)
        m_n = np.add.reduceat(n, starts)
        return m_t0, m_t1, m_n

    def fn(key, pdfs, state: GroupState):
        t0p, t1p, nsp = [], [], []
        for pdf in pdfs:
            t0p.append(pdf.t0.to_numpy(np.int64))
            t1p.append(pdf.t1.to_numpy(np.int64))
            nsp.append(np.ones(len(pdf), dtype=np.int64))
        if state.exists:
            st0, st1, sns, upd = state.get
            t0p.append(np.asarray(st0, dtype=np.int64))
            t1p.append(np.asarray(st1, dtype=np.int64))
            nsp.append(np.asarray(sns, dtype=np.int64))
        else:
            upd = 0
        t0 = np.concatenate(t0p) if t0p else np.empty(0, np.int64)
        t1 = np.concatenate(t1p) if t1p else np.empty(0, np.int64)
        ns = np.concatenate(nsp) if nsp else np.empty(0, np.int64)
        m_t0, m_t1, m_n = _merge(t0, t1, ns)
        upd += 1
        state.update(([int(v) for v in m_t0], [int(v) for v in m_t1],
                      [int(v) for v in m_n], upd))
        yield pd.DataFrame({
            "user_id": np.full(len(m_t0), np.int64(key[0])),
            "m_t0": m_t0, "m_t1": m_t1, "n_merged": m_n,
            "upd": np.full(len(m_t0), np.int64(upd)),
        })

    return fn, out_schema, state_schema


def streaming_islands(iv_stream: DataFrame) -> DataFrame:
    """Wire islands_state_fn onto a (user_id, t0, t1) stream: one
    running interval union per key, state bounded by the island count
    (which merging can only shrink), never the interval history."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    fn, out_schema, state_schema = islands_state_fn()
    return iv_stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def wsample_state_fn(k: int, salt: str = "ws"):
    """Running weight-proportional sample per group — the streaming
    twin of operators/sampling.weighted_sample (priority sampling).
    The priority is a PURE function of (salt, key, w), so top-k by
    priority is one more mergeable frontier reduction:
    topk(state ∪ batch) == topk(topk(state) ∪ batch); the state is
    only the current k (ids, ws) — never the stream history. Each
    micro-batch recomputes priorities with the exact replay of the
    batch operator's md5 uniform (hash60) and IEEE arithmetic, so the
    drained stream equals the batch sample bit-for-bit, priorities
    included. Duplicate ids within a fold collapse to their first
    occurrence, making the fold idempotent under at-least-once
    re-delivery of a row.

    Returns (fn, out_schema, state_schema) for
    ``groupBy(grp).applyInPandasWithState(...)`` — builder form so
    batch tests can drive the transition function directly."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = "grp long, doc_id long, w long, priority double, upd long"
    state_schema = "ids array<bigint>, ws array<bigint>, upd bigint"
    scale = np.float64(1 << 60)

    def _priorities(ids: np.ndarray, ws: np.ndarray) -> np.ndarray:
        pr = np.empty(len(ids), dtype=np.float64)
        for i in range(len(ids)):
            h = int(hashlib.md5(
                f"{salt}:{ids[i]}".encode()).hexdigest()[:15], 16)
            pr[i] = np.float64(ws[i]) * scale / np.float64(h + 1)
        return pr

    def fn(key, pdfs, state: GroupState):
        ids_parts, ws_parts = [], []
        for pdf in pdfs:
            ids_parts.append(pdf.doc_id.to_numpy(np.int64))
            ws_parts.append(pdf.w.to_numpy(np.int64))
        if state.exists:
            sids, sws, upd = state.get
            ids_parts.append(np.asarray(sids, dtype=np.int64))
            ws_parts.append(np.asarray(sws, dtype=np.int64))
        else:
            upd = 0
        ids = np.concatenate(ids_parts) if ids_parts \
            else np.empty(0, np.int64)
        ws = np.concatenate(ws_parts) if ws_parts \
            else np.empty(0, np.int64)
        _, first = np.unique(ids, return_index=True)
        ids, ws = ids[first], ws[first]
        pr = _priorities(ids, ws)
        # priority desc, id asc — the batch operator's exact order
        order = np.lexsort((ids, -pr))[:k]
        ids, ws, pr = ids[order], ws[order], pr[order]
        upd += 1
        state.update(([int(v) for v in ids], [int(v) for v in ws], upd))
        yield pd.DataFrame({
            "grp": np.full(len(ids), np.int64(key[0])),
            "doc_id": ids, "w": ws, "priority": pr,
            "upd": np.full(len(ids), np.int64(upd)),
        })

    return fn, out_schema, state_schema


def streaming_wsample(
    stream: DataFrame, k: int, salt: str = "ws"
) -> DataFrame:
    """Wire wsample_state_fn onto a (grp, doc_id, w) stream: one
    running weighted sample per group, O(k) state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    fn, out_schema, state_schema = wsample_state_fn(k, salt)
    return stream.groupBy("grp").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def trips_state_fn(gap: int):
    """Streaming trip segmentation per trajectory (round 5: the
    streaming twin of operators/trajectory.segment_trips). State is
    ONLY the currently-open trip — (trip index, running count,
    seq bounds, start point, last point, bbox): 12 scalars per
    trajectory, never the point history. Each micro-batch sorts its
    new points by seq, folds them through the identical exact-integer
    break test (step² > gap², strict), and emits the trips it CLOSED
    (append-mode semantics: a trip row is final the moment the break
    that closes it arrives). The still-open trip stays in state.

    Contract (same as any per-key running segmentation): points
    arrive seq-monotone per trajectory ACROSS micro-batches; within a
    batch any order is fine (sorted here).

    Returns (fn, out_schema, state_schema) for
    ``groupBy(traj_id).applyInPandasWithState(...)`` — builder form so
    batch tests can drive the transition function directly."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    g2 = gap * gap
    out_schema = ("traj_id long, trip long, n_points long, seq_lo long, "
                  "seq_hi long, min_x long, max_x long, min_y long, "
                  "max_y long, net_disp2 long")
    state_schema = ("trip bigint, n bigint, seq_lo bigint, seq_hi bigint, "
                    "sx bigint, sy bigint, lx bigint, ly bigint, "
                    "mnx bigint, mxx bigint, mny bigint, mxy bigint")
    cols = ["traj_id", "trip", "n_points", "seq_lo", "seq_hi",
            "min_x", "max_x", "min_y", "max_y", "net_disp2"]

    def fn(key, pdfs, state: GroupState):
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames).sort_values("seq")
        seqs = pdf["seq"].to_numpy(np.int64)
        xs = pdf["x"].to_numpy(np.int64)
        ys = pdf["y"].to_numpy(np.int64)
        closed = []
        if state.exists:
            (trip, n, seq_lo, seq_hi, sx, sy, lx, ly,
             mnx, mxx, mny, mxy) = (int(v) for v in state.get)
            live = True
        else:
            trip = n = seq_lo = seq_hi = 0
            sx = sy = lx = ly = mnx = mxx = mny = mxy = 0
            live = False
        for i in range(len(seqs)):
            s, x, y = int(seqs[i]), int(xs[i]), int(ys[i])
            if live:
                dx, dy = x - lx, y - ly
                if dx * dx + dy * dy > g2:
                    closed.append(
                        (int(key[0]), trip, n, seq_lo, seq_hi,
                         mnx, mxx, mny, mxy,
                         (lx - sx) ** 2 + (ly - sy) ** 2))
                    trip += 1
                    n, seq_lo = 1, s
                    sx, sy, mnx, mxx, mny, mxy = x, y, x, x, y, y
                else:
                    n += 1
                    mnx, mxx = min(mnx, x), max(mxx, x)
                    mny, mxy = min(mny, y), max(mxy, y)
            else:
                live = True
                n, seq_lo = 1, s
                sx, sy, mnx, mxx, mny, mxy = x, y, x, x, y, y
            seq_hi, lx, ly = s, x, y
        state.update((trip, n, seq_lo, seq_hi, sx, sy, lx, ly,
                      mnx, mxx, mny, mxy))
        if closed:
            yield pd.DataFrame(closed, columns=cols).astype("int64")

    return fn, out_schema, state_schema


def streaming_trips(pts_stream: DataFrame, gap: int) -> DataFrame:
    """Wire trips_state_fn onto a (traj_id, seq, x, y) stream: closed
    trips emit as final append rows, O(1) state per trajectory."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    fn, out_schema, state_schema = trips_state_fn(gap)
    return pts_stream.groupBy("traj_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


def snapshot_sink(spark, root: str, table: str,
                  partition_by: list[str] | None = None):
    """foreachBatch sink committing each micro-batch as an APPEND
    snapshot version (plans.snapshots) — streaming output gains time
    travel, incremental read_changes, and IVM for free, because a
    micro-batch IS a delta commit.

    Exactly-once across restarts: Structured Streaming may REPLAY a
    micro-batch after a crash (at-least-once delivery into
    foreachBatch); the sink records batch_id in the snapshot meta and
    SKIPS any batch_id <= the table's max committed one — the snapshot
    log doubles as the idempotence ledger (the standard
    foreachBatch + transactional-table recipe, re-expressed on the
    engine's own snapshot layer).

    Usage::

        q = (df.writeStream.foreachBatch(
                 snapshot_sink(spark, root, "events_hist"))
             .trigger(availableNow=True).start())
    """
    from ..plans import snapshots as SN

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        log = SN.snapshot_log(root, table)
        committed = [e["meta"].get("batch_id") for e in log
                     if e.get("meta") and "batch_id" in e["meta"]]
        if committed and batch_id <= max(committed):
            return  # replayed batch -> already committed, skip
        SN.commit_snapshot(spark, batch_df, root, table,
                           operation="append", partition_by=partition_by,
                           meta={"batch_id": int(batch_id)})

    return _sink
