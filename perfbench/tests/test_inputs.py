"""Seeded inputs: the same seed writes byte-identical files, another
seed writes different ones."""

import numpy as np
import pytest

from perfbench import inputs

MAKERS = {
    "objects": lambda seed: inputs.objects_part(seed, 1),
    "range_queries": inputs.range_batches,
    "knn_queries": inputs.knn_batches,
}


def written(tmp_path, name, seed, tag):
    path = tmp_path / f"{name}-{seed}-{tag}.parquet"
    inputs.write(MAKERS[name](seed), str(path))
    return path.read_bytes()


@pytest.mark.parametrize("name", sorted(MAKERS))
def test_same_seed_same_bytes(tmp_path, name):
    assert written(tmp_path, name, 5, "a") == written(tmp_path, name, 5, "b")


@pytest.mark.parametrize("name", sorted(MAKERS))
def test_other_seed_other_bytes(tmp_path, name):
    assert written(tmp_path, name, 5, "a") != written(tmp_path, name, 6, "a")


def test_object_table_shape():
    t = inputs.objects_part(3, 0)
    (hx, hy), (vx, vy) = inputs.regions(3)
    x0, y0 = t["min_x"].to_numpy(), t["min_y"].to_numpy()
    x1, y1 = t["max_x"].to_numpy(), t["max_y"].to_numpy()
    in_void = (x1 >= vx) & (x0 < vx + inputs.VOID_EDGE) & (y1 >= vy) & (y0 < vy + inputs.VOID_EDGE)
    assert not in_void.any()
    hot = (x0 >= hx) & (x0 < hx + inputs.HOT_EDGE) & (y0 >= hy) & (y0 < hy + inputs.HOT_EDGE)
    # 30% planted there, plus the uniform rows that fall in it
    assert 0.30 < hot.mean() < 0.36
    assert x1.max() < inputs.WORLD and y1.max() < inputs.WORLD
    assert np.all((x1 - x0 >= 1) & (x1 - x0 <= inputs.MAX_EXTENT))
