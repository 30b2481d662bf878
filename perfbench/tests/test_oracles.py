"""Each oracle accepts an independently computed answer and catches a
deliberately corrupted one."""

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pytest

from perfbench import inputs, oracles, trace, workloads


@pytest.fixture(scope="module")
def objects_wl(tmp_path_factory):
    """Both request workloads over one generated object table (no Spark)."""
    work = str(tmp_path_factory.mktemp("work"))
    out = {}
    for cls in (workloads.RangeQueries, workloads.KnnQueries):
        wl = cls(None, work, 11, trace.Tracer())
        wl.generate()
        out[cls.__name__] = wl
    return out


def brute_range(objects, queries):
    x0, y0 = objects["min_x"].to_numpy(), objects["min_y"].to_numpy()
    x1, y1 = objects["max_x"].to_numpy(), objects["max_y"].to_numpy()
    out = {}
    for q in queries.to_pylist():
        n = int(((q["min_x"] < x1) & (q["max_x"] >= x0) & (q["min_y"] < y1) & (q["max_y"] >= y0)).sum())
        if n:
            out[q["query_id"]] = n
    return out


def test_range_oracle(objects_wl):
    wl = objects_wl["RangeQueries"]
    good = {i: brute_range(wl.objects, wl.batch_queries(i)) for i in (0, 1)}
    assert wl.failures(good) == set()
    bad = dict(good)
    qid = next(iter(good[1]))
    bad[1] = {**good[1], qid: good[1][qid] + 1}
    assert wl.failures(bad) == {1}
    missing = dict(good)
    missing[0] = dict(list(good[0].items())[1:])
    assert wl.failures(missing) == {0}


def brute_knn(objects, queries, k):
    x, y, ids = objects["x"].to_numpy(), objects["y"].to_numpy(), objects["obj_id"].to_numpy()
    out = []
    for q in queries.to_pylist():
        d2 = (x - q["x"]) ** 2 + (y - q["y"]) ** 2
        order = np.lexsort((ids, d2))[:k]
        out += [(q["query_id"], int(ids[j]), float(d2[j]), r + 1) for r, j in enumerate(order)]
    return out


def test_knn_oracle(objects_wl):
    wl = objects_wl["KnnQueries"]
    good = brute_knn(wl.objects, wl.batch_queries(3), inputs.KNN_K)
    assert wl.failures({3: good}) == set()
    q, obj, d2, rank = good[0]
    swapped = [(q, obj, d2, rank + 1)] + [good[1][:3] + (rank,)] + good[2:]
    assert wl.failures({3: swapped}) == {3}
    assert wl.failures({3: good[:-1]}) == {3}


def reference_cell(ix, iy, sx, sy, world_bits=16, max_depth=4):
    """Loop twin of the quadtree descent: go one level down while the box
    [i, i+s) stays inside one child."""
    depth, code = 0, 0
    for d in range(1, max_depth + 1):
        sh = world_bits - d
        if ix >> sh != (ix + sx) >> sh or iy >> sh != (iy + sy) >> sh:
            break
        if ix + sx >= 1 << world_bits or iy + sy >= 1 << world_bits:
            break
        depth = d
        code = code * 4 + ((ix >> sh) & 1) + 2 * ((iy >> sh) & 1)
    return depth, code


def write_tiled(path, rows):
    depth_code = [reference_cell(*r) for r in rows]
    prefix = [c >> 2 * (d - min(d, 2)) for d, c in depth_code]
    t = pa.table({
        "ix": [r[0] for r in rows], "iy": [r[1] for r in rows],
        "sx": [r[2] for r in rows], "sy": [r[3] for r in rows],
        "qt_depth": [d for d, _ in depth_code], "qt_code": [c for _, c in depth_code],
        "cell_prefix": prefix,
    })
    ds.write_dataset(t, str(path), format="parquet", partitioning=["cell_prefix"],
                     partitioning_flavor="hive")
    hist = {}
    for dc in depth_code:
        hist[dc] = hist.get(dc, 0) + 1
    return t, [(d, c, n) for (d, c), n in hist.items()]


def test_tile_oracle(tmp_path):
    rng = np.random.default_rng(0)
    rows = [(int(rng.integers(0, 65536)), int(rng.integers(0, 65536)),
             int(rng.integers(1, 98)), int(rng.integers(1, 98))) for _ in range(500)]
    t, hist = write_tiled(tmp_path / "good", rows)
    assert oracles.tile_ok(str(tmp_path / "good"), hist, len(rows))
    assert not oracles.tile_ok(str(tmp_path / "good"), hist, len(rows) + 1)
    assert not oracles.tile_ok(str(tmp_path / "good"), hist[1:], len(rows))

    codes = t["qt_code"].to_numpy().copy()
    codes[7] ^= 1
    bad = t.set_column(t.schema.get_field_index("qt_code"), "qt_code", pa.array(codes))
    ds.write_dataset(bad, str(tmp_path / "bad"), format="parquet", partitioning=["cell_prefix"],
                     partitioning_flavor="hive")
    assert not oracles.tile_ok(str(tmp_path / "bad"), hist, len(rows))
