"""Deterministic synthetic sources (FIXTURES.md F1-F5).

Every value is a pure function of (seed, row_id) via splitmix64 —
no RNG state, no wall clock — so the same table materializes
identically at any parallelism / partitioning. Two access paths share
one vectorized NumPy core:

- ``*_pandas(n, seed)``: driver-side ground truth for oracles/tests.
- ``*_spark(spark, n, seed)``: distributed via ``spark.range(n)`` +
  ``mapInPandas`` (Arrow-batched; each task derives its rows from the
  ``id`` range it receives — scale-free, shuffle-free).

Distributions mirror the reference's own generators so oracles see the
reference's native workloads:
- spatial_objects: main.cpp:16-33 (world 800x50x600, sizes U[0,10])
- quadtree_objects: .Test/QuadTree.cpp:351-365 (world 100000^2,
  sizes U[0.1, 100])
- query_boxes: player-view boxes 50x10x50 (WorldPartition.hpp:105-106)
  and screen rects (.Test/QuadTree.cpp:367)
- documents: BASELINE.json input_hint interleaved text+media spans
- rays: scaled-down camera grid of Raytracing.hpp:417-499
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..config import DEMO_WORLD, QT_BENCH_WORLD

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant set)."""
    with np.errstate(over="ignore"):
        z = (x.astype(np.uint64) + _GOLDEN) * np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(30)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
        z ^= z >> np.uint64(27)  # extra fold for avalanche on small inputs
        z *= np.uint64(0x2545F4914F6CDD1D)
        z ^= z >> np.uint64(33)
    return z


def _h(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Independent hash stream per (seed, stream)."""
    with np.errstate(over="ignore"):
        base = ids.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B1) \
            + np.uint64(stream) * np.uint64(0x85EBCA77C2B2AE63)
    return splitmix64(base)


def _u01(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Uniform float64 in [0, 1)."""
    return (_h(ids, seed, stream) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


# ---------------------------------------------------------------------------
# F2: spatial_objects (3D demo mirror, main.cpp:16-33)
# ---------------------------------------------------------------------------

SPATIAL_SCHEMA = T.StructType(
    [T.StructField("obj_id", T.LongType())]
    + [T.StructField(c, T.DoubleType()) for c in
       ("x", "y", "z", "vel_x", "vel_y", "vel_z", "size_x", "size_y", "size_z")]
    + [T.StructField(c, T.IntegerType()) for c in ("colour_r", "colour_g", "colour_b", "colour_a")]
)


def spatial_objects_pandas(n: int, seed: int = 42, ids: np.ndarray | None = None) -> pd.DataFrame:
    i = np.arange(n, dtype=np.uint64) if ids is None else ids.astype(np.uint64)
    w = DEMO_WORLD
    return pd.DataFrame(
        {
            "obj_id": i.astype(np.int64),
            "x": _u01(i, seed, 1) * (w.max_x - w.min_x) + w.min_x,
            "y": _u01(i, seed, 2) * (w.max_y - w.min_y) + w.min_y,
            "z": _u01(i, seed, 3) * (w.max_z - w.min_z) + w.min_z,
            "vel_x": _u01(i, seed, 4) * 10.0,
            "vel_y": _u01(i, seed, 5) * 10.0,
            "vel_z": _u01(i, seed, 6) * 10.0,
            "size_x": _u01(i, seed, 7) * 10.0,
            "size_y": _u01(i, seed, 8) * 10.0,
            "size_z": _u01(i, seed, 9) * 10.0,
            "colour_r": (_h(i, seed, 10) % np.uint64(256)).astype(np.int32),
            "colour_g": (_h(i, seed, 11) % np.uint64(256)).astype(np.int32),
            "colour_b": (_h(i, seed, 12) % np.uint64(256)).astype(np.int32),
            "colour_a": np.full(len(i), 255, dtype=np.int32),
        }
    )


# ---------------------------------------------------------------------------
# F3: quadtree_objects (2D bench mirror, .Test/QuadTree.cpp:351-365)
# ---------------------------------------------------------------------------

QT_SCHEMA = T.StructType(
    [T.StructField("obj_id", T.LongType())]
    + [T.StructField(c, T.DoubleType()) for c in ("x", "y", "size_x", "size_y")]
)


def quadtree_objects_pandas(n: int, seed: int = 42, ids: np.ndarray | None = None) -> pd.DataFrame:
    i = np.arange(n, dtype=np.uint64) if ids is None else ids.astype(np.uint64)
    w = QT_BENCH_WORLD
    return pd.DataFrame(
        {
            "obj_id": i.astype(np.int64),
            "x": _u01(i, seed, 21) * (w.max_x - w.min_x),
            "y": _u01(i, seed, 22) * (w.max_y - w.min_y),
            "size_x": 0.1 + _u01(i, seed, 23) * 99.9,
            "size_y": 0.1 + _u01(i, seed, 24) * 99.9,
        }
    )


# ---------------------------------------------------------------------------
# F4: query_boxes
# ---------------------------------------------------------------------------

QUERY_SCHEMA = T.StructType(
    [T.StructField("query_id", T.LongType())]
    + [T.StructField(c, T.DoubleType())
       for c in ("min_x", "min_y", "min_z", "max_x", "max_y", "max_z")]
)


def query_boxes_pandas(
    q: int, seed: int = 42, extent=(50.0, 10.0, 50.0), world=DEMO_WORLD,
    ids: np.ndarray | None = None,
) -> pd.DataFrame:
    """Player-view style boxes: hash-uniform center, fixed extent
    (Partition::draw box, WorldPartition.hpp:105-106)."""
    i = np.arange(q, dtype=np.uint64) if ids is None else ids.astype(np.uint64)
    cx = _u01(i, seed, 31) * (world.max_x - world.min_x) + world.min_x
    cy = _u01(i, seed, 32) * (world.max_y - world.min_y) + world.min_y
    cz = _u01(i, seed, 33) * (world.max_z - world.min_z) + world.min_z
    ex, ey, ez = (e * 0.5 for e in extent)
    return pd.DataFrame(
        {
            "query_id": i.astype(np.int64),
            "min_x": cx - ex, "min_y": cy - ey, "min_z": cz - ez,
            "max_x": cx + ex, "max_y": cy + ey, "max_z": cz + ez,
        }
    )


QUERY2D_SCHEMA = T.StructType(
    [T.StructField("query_id", T.LongType())]
    + [T.StructField(c, T.DoubleType()) for c in ("min_x", "min_y", "max_x", "max_y")]
)


def query_rects_pandas(
    q: int, seed: int = 42, extent=(800.0, 600.0), world=QT_BENCH_WORLD,
    ids: np.ndarray | None = None,
) -> pd.DataFrame:
    """Viewport-style rects (rScreen, .Test/QuadTree.cpp:367)."""
    i = np.arange(q, dtype=np.uint64) if ids is None else ids.astype(np.uint64)
    x = _u01(i, seed, 41) * (world.max_x - world.min_x - extent[0])
    y = _u01(i, seed, 42) * (world.max_y - world.min_y - extent[1])
    return pd.DataFrame(
        {
            "query_id": i.astype(np.int64),
            "min_x": x, "min_y": y,
            "max_x": x + extent[0], "max_y": y + extent[1],
        }
    )


# ---------------------------------------------------------------------------
# F1: documents (interleaved text+media spans, BASELINE.json input_hint)
# ---------------------------------------------------------------------------

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)

_KINDS = ("text", "image", "audio", "video")


def interleaved_documents_pandas(n: int, seed: int = 42, ids: np.ndarray | None = None) -> pd.DataFrame:
    """Interleaved documents: 1-8 spans each; text spans carry text,
    media spans carry a media_ref; offsets strictly increasing."""
    i = np.arange(n, dtype=np.uint64) if ids is None else ids.astype(np.uint64)
    n_spans = (_h(i, seed, 51) % np.uint64(8)).astype(np.int64) + 1
    max_s = int(n_spans.max()) if len(i) else 0
    # vectorize over the span axis: (rows, max_s) grids
    kind_h = np.stack([_h(i, seed, 60 + j) for j in range(max_s)], axis=1) if max_s else np.zeros((len(i), 0), dtype=np.uint64)
    pay_h = np.stack([_h(i, seed, 90 + j) for j in range(max_s)], axis=1) if max_s else kind_h
    len_h = (np.stack([_h(i, seed, 120 + j) for j in range(max_s)], axis=1) % np.uint64(64)).astype(np.int64) + 1 if max_s else kind_h

    spans: list[list[dict]] = []
    for r in range(len(i)):
        row = []
        off = 0
        for j in range(n_spans[r]):
            k = _KINDS[int(kind_h[r, j] % np.uint64(4))]
            h = int(pay_h[r, j])
            if k == "text":
                row.append({"kind": k, "text": f"t-{h:016x}", "media_ref": "", "offset": off})
            else:
                row.append({"kind": k, "text": "", "media_ref": f"m-{h:016x}", "offset": off})
            off += int(len_h[r, j])
        spans.append(row)
    return pd.DataFrame({"doc_id": [f"doc-{int(v):012d}" for v in i], "spans": spans})


# ---------------------------------------------------------------------------
# F5: rays (camera grid, scaled from Raytracing.hpp:417-499)
# ---------------------------------------------------------------------------

RAYS_SCHEMA = T.StructType(
    [
        T.StructField("ray_id", T.LongType()),
        T.StructField("px", T.IntegerType()),
        T.StructField("py", T.IntegerType()),
        T.StructField("sample_id", T.IntegerType()),
    ]
    + [T.StructField(c, T.DoubleType())
       for c in ("origin_x", "origin_y", "origin_z", "dir_x", "dir_y", "dir_z")]
)


def rays_pandas(
    width: int = 64, height: int = 64, samples: int = 4, seed: int = 42,
    ids: np.ndarray | None = None,
) -> pd.DataFrame:
    """One row per (px, py, sample): pinhole camera at (50,52,295.6)
    looking down -z (Raytracing.hpp camera model, simplified; jitter is
    hash-derived, not MT19937 — FIXTURES.md F5) with the reference's
    TENT filter warp (Raytracing.hpp:473-477): r = 2u; d = sqrt(r)-1
    if r < 1 else 1-sqrt(2-r) — triangular sample density in [-1, 1)
    peaked at the pixel center."""
    total = width * height * samples
    i = np.arange(total, dtype=np.uint64) if ids is None else ids.astype(np.uint64)
    ii = i.astype(np.int64)
    sample = ii % samples
    pix = ii // samples
    px = pix % width
    py = pix // width

    def tent(u: np.ndarray) -> np.ndarray:
        r = 2.0 * u
        return np.where(r < 1.0, np.sqrt(r) - 1.0, 1.0 - np.sqrt(2.0 - r))

    jx = 0.5 * tent(_u01(i, seed, 71))
    jy = 0.5 * tent(_u01(i, seed, 72))
    # normalized device coords in [-1, 1] with jitter
    u = ((px + 0.5 + jx) / width - 0.5) * 2.0
    v = ((py + 0.5 + jy) / height - 0.5) * 2.0
    dx = u * 0.5135
    dy = -v * 0.5135
    dz = np.full(total, -1.0)
    norm = np.sqrt(dx * dx + dy * dy + dz * dz)
    return pd.DataFrame(
        {
            "ray_id": ii,
            "px": px.astype(np.int32),
            "py": py.astype(np.int32),
            "sample_id": sample.astype(np.int32),
            "origin_x": np.full(total, 50.0),
            "origin_y": np.full(total, 52.0),
            "origin_z": np.full(total, 295.6),
            "dir_x": dx / norm,
            "dir_y": dy / norm,
            "dir_z": dz / norm,
        }
    )


# ---------------------------------------------------------------------------
# Distributed wrappers: spark.range + mapInPandas over the same cores
# ---------------------------------------------------------------------------

_GEN = {
    "spatial_objects": (spatial_objects_pandas, SPATIAL_SCHEMA),
    "quadtree_objects": (quadtree_objects_pandas, QT_SCHEMA),
    "query_boxes": (query_boxes_pandas, QUERY_SCHEMA),
    "query_rects": (query_rects_pandas, QUERY2D_SCHEMA),
    "documents": (interleaved_documents_pandas, DOCS_SCHEMA),
}


def spark_table(
    spark: SparkSession, name: str, n: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic generation: each Arrow batch derives its
    rows from the ``id`` values it receives, so output is identical at
    any partitioning (scale-free; no shuffle, no driver materialize)."""
    fn, schema = _GEN[name]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy(dtype=np.uint64)
            yield fn(len(ids), seed, ids=ids)

    rng = spark.range(0, n, numPartitions=partitions) if partitions else spark.range(0, n)
    return rng.mapInPandas(gen, schema)


def _documents_arrow_batch(ids: np.ndarray, seed: int) -> "object":
    """Vectorized Arrow construction of the documents batch — identical
    values to interleaved_documents_pandas (same hash streams), but
    built from flat numpy arrays + one ListArray, no per-row Python."""
    import pyarrow as pa

    n = len(ids)
    n_spans = (_h(ids, seed, 51) % np.uint64(8)).astype(np.int64) + 1
    total = int(n_spans.sum())
    parent = np.repeat(np.arange(n), n_spans)
    starts = np.concatenate([[0], np.cumsum(n_spans)[:-1]])
    j = np.arange(total) - np.repeat(starts, n_spans)

    pid = ids[parent]

    def hs(base_stream: int) -> np.ndarray:
        # _h's formula with a per-element stream array (stream = base + j)
        with np.errstate(over="ignore"):
            s = (base_stream + j).astype(np.uint64)
            return splitmix64(pid.astype(np.uint64)
                              + np.uint64(seed) * np.uint64(0x9E3779B1)
                              + s * np.uint64(0x85EBCA77C2B2AE63))

    kind_h = hs(60)
    pay_h = hs(90)
    len_h = (hs(120) % np.uint64(64)).astype(np.int64) + 1

    kind_idx = (kind_h % np.uint64(4)).astype(np.int64)
    kinds = np.array(_KINDS)[kind_idx]
    hexes = np.char.mod("%016x", pay_h)
    is_text = kind_idx == 0
    texts = np.where(is_text, np.char.add("t-", hexes), "")
    media = np.where(~is_text, np.char.add("m-", hexes), "")
    # offset = exclusive per-doc prefix sum of span lengths
    g_cum = np.concatenate([[0], np.cumsum(len_h)[:-1]])
    doc_base = g_cum[starts]
    offsets_in_doc = (g_cum - np.repeat(doc_base, n_spans)).astype(np.int32)

    span_struct = pa.StructArray.from_arrays(
        [
            pa.array(kinds, type=pa.string()),
            pa.array(texts, type=pa.string()),
            pa.array(media, type=pa.string()),
            pa.array(offsets_in_doc, type=pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    list_offsets = pa.array(np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32))
    spans_arr = pa.ListArray.from_arrays(list_offsets, span_struct)
    doc_ids = pa.array([f"doc-{int(v):012d}" for v in ids], type=pa.string())
    return pa.RecordBatch.from_arrays([doc_ids, spans_arr], names=["doc_id", "spans"])


def documents_spark_fast(
    spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed documents generator via mapInArrow — same output as
    spark_table(..., 'documents', ...) but ~50x faster to materialize
    (no Python dict per span)."""

    def gen(batches):
        for b in batches:
            ids = b.column("id").to_numpy().astype(np.uint64)
            yield _documents_arrow_batch(ids, seed)

    rng = spark.range(0, n, numPartitions=partitions) if partitions else spark.range(0, n)
    return rng.mapInArrow(gen, DOCS_SCHEMA)


def camera_rays_pandas(
    width: int = 256, height: int = 256, subpixels: int = 2,
    samples: int = 16, seed: int = 42, ids: np.ndarray | None = None,
    fov: float = 0.5135,
) -> pd.DataFrame:
    """The reference's EXACT camera model (Raytracing.hpp:135-162
    calibrate + :445-492 render loop; main.cpp:43-50 config): pinhole at
    (50, 50, 300) looking along normalize((0, -0.042612, -1)), fov
    0.5135, a subpixels x subpixels block per pixel, ``samples`` rays
    per subpixel, tent-filter jitter (:473-477), ray origin pushed 140
    units along the unnormalized direction (:487). The MT19937 uniform
    stream is replaced by the splitmix hash stream (FIXTURES.md F5 —
    the one documented RNG deviation).

    One row per (px, py, sy, sx, s); sample_id = (sy*subpixels+sx) *
    samples + s, so sample_id // samples recovers the subpixel for the
    reference's clamp-then-quarter pixel accumulation."""
    spp = subpixels * subpixels * samples
    total = width * height * spp
    i = np.arange(total, dtype=np.uint64) if ids is None else ids.astype(np.uint64)
    ii = i.astype(np.int64)
    sample_id = ii % spp
    pix = ii // spp
    px = pix % width
    py = pix // width
    sub = sample_id // samples
    sy = sub // subpixels
    sx = sub % subpixels

    # camera axes (Raytracing.hpp:156-161)
    oz = np.array([0.0, -0.042612, -1.0])
    oz = oz / np.sqrt((oz * oz).sum())
    ax = np.array([width * fov / height, 0.0, 0.0])
    ay = np.cross(ax, oz)
    ay = ay / np.sqrt((ay * ay).sum()) * fov
    pos = np.array([50.0, 50.0, 300.0])

    def tent(u: np.ndarray) -> np.ndarray:
        r = 2.0 * u
        return np.where(r < 1.0, np.sqrt(r) - 1.0, 1.0 - np.sqrt(2.0 - r))

    dx = tent(_u01(i, seed, 81))
    dy = tent(_u01(i, seed, 82))
    cu = ((sx + 0.5 + dx) / subpixels + px) / width - 0.5
    cv = ((sy + 0.5 + dy) / subpixels + py) / height - 0.5
    ddx = ax[0] * cu + ay[0] * cv + oz[0]
    ddy = ax[1] * cu + ay[1] * cv + oz[1]
    ddz = ax[2] * cu + ay[2] * cv + oz[2]
    norm = np.sqrt(ddx * ddx + ddy * ddy + ddz * ddz)
    return pd.DataFrame(
        {
            "ray_id": ii,
            "px": px.astype(np.int32),
            "py": py.astype(np.int32),
            "sample_id": sample_id.astype(np.int32),
            "origin_x": pos[0] + ddx * 140.0,
            "origin_y": pos[1] + ddy * 140.0,
            "origin_z": pos[2] + ddz * 140.0,
            "dir_x": ddx / norm,
            "dir_y": ddy / norm,
            "dir_z": ddz / norm,
        }
    )


def camera_rays_spark(
    spark: SparkSession, width: int = 256, height: int = 256,
    subpixels: int = 2, samples: int = 16, seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    total = width * height * subpixels * subpixels * samples

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy(dtype=np.uint64)
            yield camera_rays_pandas(width, height, subpixels, samples,
                                     seed, ids=ids)

    rng = spark.range(0, total, numPartitions=partitions) if partitions \
        else spark.range(0, total)
    return rng.mapInPandas(gen, RAYS_SCHEMA)


def cornell_scene_pandas() -> pd.DataFrame:
    """The reference Cornell scene (init_cornell_box,
    Raytracing.hpp:350-414) as the engine's scalar-gray scene table:
    six 1e5-radius wall spheres, the mirror (SPECULAR r=22.5), the
    glass sphere (REFRACTION r=17.5), the 600-radius light, and the
    CUBE (min corner (35,25,60), extent 10 — carried as shape='CUBE'
    with (cx,cy,cz)=min corner, radius=extent, matching
    SpatialObject.getBoundingBox = BoundaryBox(position, size)).
    RGB emission/albedo collapse to their channel MEAN (the engine's
    documented gray convention; RGB = the same plan three times)."""
    A = 1e5  # anchor / wall radius

    def gray(r, g, b):
        return (r + g + b) / 3.0

    rows = [
        # obj_id, cx, cy, cz, radius, emit, albedo, material, shape
        (0, 50.0, A, 81.6, A, 0.0, 0.75, "DIFFUSE", "SPHERE"),        # floor
        (1, 50.0, -A + 81.6, 81.6, A, 0.0, 0.75, "DIFFUSE", "SPHERE"),  # ceiling
        (2, A + 1.0, 40.8, 81.6, A, 0.0, gray(0.75, 0.25, 0.25), "DIFFUSE", "SPHERE"),  # left
        (3, 50.0, 40.8, A, A, 0.0, gray(0.25, 0.75, 0.25), "DIFFUSE", "SPHERE"),        # back
        (4, -A + 99.0, 40.8, 81.6, A, 0.0, 0.25, "DIFFUSE", "SPHERE"),  # right
        (5, 50.0, 40.8, -A + 170.0, A, 0.0, 0.0, "DIFFUSE", "SPHERE"),  # front
        (6, 30.0, 30.0, 40.0, 22.5, 0.0, 1.0, "SPECULAR", "SPHERE"),    # mirror
        (7, 75.0, 40.0, 75.0, 17.5, 0.0, 1.0, "REFRACTION", "SPHERE"),  # glass
        (8, 50.0, 600.0 + 81.6 - 0.27, 81.6, 600.0, 15.0, 0.0, "DIFFUSE", "SPHERE"),  # light
        (9, 35.0, 25.0, 60.0, 10.0, 0.0, gray(0.8, 0.8, 0.2), "DIFFUSE", "CUBE"),     # cube
    ]
    return pd.DataFrame(rows, columns=[
        "obj_id", "cx", "cy", "cz", "radius", "emit", "albedo",
        "material", "shape"])
