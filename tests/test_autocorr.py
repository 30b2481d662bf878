"""Moran's I / Geary's C (operators/autocorr) vs the textbook float
formulas in NumPy, plus the sign conventions that make the statistics
meaningful (checkerboard → dispersed, blocks → clustered) and the
degenerate NULLs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from optimizing_spark.operators.autocorr import spatial_autocorr

# binary queen weights, spelled out independently of the package
STAR = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
QUEEN = [o for o in STAR if o != (0, 0)]


def _textbook(cells):
    """Float Moran/Geary straight from the definitions (binary
    8-adjacency, ordered pairs)."""
    vals = {(cx, cy): x for cx, cy, x in cells}
    xs = np.array([x for _, _, x in cells], dtype=np.float64)
    n = len(xs)
    mean = xs.mean()
    den = ((xs - mean) ** 2).sum()
    w = num_i = num_c = 0.0
    for (cx, cy), xi in vals.items():
        for dx, dy in QUEEN:
            xj = vals.get((cx + dx, cy + dy))
            if xj is None:
                continue
            w += 1
            num_i += (xi - mean) * (xj - mean)
            num_c += (xi - xj) ** 2
    if w == 0 or den == 0:
        return None, None
    return (n / w) * num_i / den, ((n - 1) / (2 * w)) * num_c / den


def _run(spark, cells):
    df = spark.createDataFrame(cells, "cx long, cy long, n long")
    return spatial_autocorr(df, val="n").collect()[0]


def test_matches_textbook_random(spark):
    rng = np.random.default_rng(5)
    pts = {(int(cx), int(cy)) for cx, cy in
           zip(rng.integers(0, 12, 90), rng.integers(0, 12, 90))}
    cells = [(cx, cy, int(rng.integers(1, 50))) for cx, cy in sorted(pts)]
    row = _run(spark, cells)
    want_i, want_c = _textbook(cells)
    assert row.moran_i == pytest.approx(want_i, rel=1e-12)
    assert row.geary_c == pytest.approx(want_c, rel=1e-12)
    assert row.n_cells == len(cells)
    # components really are the exact re-centered integers
    xs = [x for _, _, x in cells]
    n, s = len(xs), sum(xs)
    m = s // n
    assert (row.m, row.r) == (m, s - n * m)
    assert row.q1 == sum((x - m) ** 2 for x in xs)


def test_checkerboard_dispersed_blocks_clustered(spark):
    # checkerboard: negative autocorrelation — only mildly so under
    # QUEEN weights (the 4 diagonal neighbors share the color; rook
    # contiguity would give I near -1)
    board = [(cx, cy, 10 if (cx + cy) % 2 == 0 else 1)
             for cx in range(8) for cy in range(8)]
    r = _run(spark, board)
    assert r.moran_i < 0 and r.geary_c > 1
    # two homogeneous blocks: strong positive autocorrelation
    blocks = [(cx, cy, 10 if cx < 4 else 1)
              for cx in range(8) for cy in range(8)]
    r2 = _run(spark, blocks)
    assert r2.moran_i > 0.5 and 0 <= r2.geary_c < 0.5
    # textbook parity on both patterned fields too
    for cells, row in ((board, r), (blocks, r2)):
        wi, wc = _textbook(cells)
        assert row.moran_i == pytest.approx(wi, rel=1e-12)
        assert row.geary_c == pytest.approx(wc, rel=1e-12)


def test_degenerate_null_constant_field(spark):
    cells = [(cx, cy, 7) for cx in range(4) for cy in range(4)]
    r = _run(spark, cells)
    assert r.q1 == 0 and r.r == 0  # constant field: zero variance
    assert r.moran_i is None and r.geary_c is None
    assert r.w_pairs > 0  # pairs exist, variance doesn't


def test_degenerate_null_no_neighbors(spark):
    # cells spaced 3 apart: no 8-adjacency anywhere -> W = 0
    cells = [(3 * i, 0, i + 1) for i in range(5)]
    r = _run(spark, cells)
    assert r.w_pairs == 0 and r.moran_i is None and r.geary_c is None
    assert r.n_cells == 5
    assert (r.p1, r.p2, r.num_geary) == (0, 0, 0)


# ---------------------------------------------------------------------------
# Getis-Ord Gi*
# ---------------------------------------------------------------------------

def _textbook_gstar(cells):
    """Float Gi* straight from Ord & Getis 1995 (binary queen weights
    including self, occupied cells only)."""
    vals = {(cx, cy): x for cx, cy, x in cells}
    xs = np.array([x for _, _, x in cells], dtype=np.float64)
    n = len(xs)
    mean = xs.mean()
    s = np.sqrt((xs ** 2).mean() - mean ** 2)
    out = {}
    for (cx, cy), _ in vals.items():
        nbr = [vals[(cx + dx, cy + dy)] for dx, dy in STAR
               if (cx + dx, cy + dy) in vals]
        w = len(nbr)
        den = s * np.sqrt((n * w - w * w) / (n - 1))
        out[(cx, cy)] = (sum(nbr) - mean * w) / den if den > 0 else None
    return out


def test_gstar_matches_textbook(spark):
    from optimizing_spark.operators.autocorr import getis_ord_gstar

    rng = np.random.default_rng(9)
    pts = {(int(cx), int(cy)) for cx, cy in
           zip(rng.integers(0, 10, 70), rng.integers(0, 10, 70))}
    cells = [(cx, cy, int(rng.integers(1, 40))) for cx, cy in sorted(pts)]
    df = spark.createDataFrame(cells, "cx long, cy long, n long")
    got = {(r.cx, r.cy): r for r in getis_ord_gstar(df).collect()}
    want = _textbook_gstar(cells)
    assert set(got) == set(want)
    for k, r in got.items():
        assert r.z == pytest.approx(want[k], rel=1e-12), k


def test_gstar_hot_spot_detected(spark):
    from optimizing_spark.operators.autocorr import getis_ord_gstar

    # flat field of 5s with a planted 3x3 block of 50s: the block
    # center is the hottest cell and clears the classic |z| > 2.58 bar
    cells = [(cx, cy, 50 if 3 <= cx <= 5 and 3 <= cy <= 5 else 5)
             for cx in range(9) for cy in range(9)]
    df = spark.createDataFrame(cells, "cx long, cy long, n long")
    rows = {(r.cx, r.cy): r.z for r in getis_ord_gstar(df).collect()}
    hottest = max(rows, key=lambda k: rows[k])
    assert hottest == (4, 4)
    assert rows[(4, 4)] > 2.58
    # far corner is below-mean surroundings -> negative z
    assert rows[(0, 0)] < 0


def test_gstar_degenerate_nulls(spark):
    from optimizing_spark.operators.autocorr import getis_ord_gstar

    # constant field: A = 0 -> every z NULL, components exact
    cells = [(cx, cy, 7) for cx in range(4) for cy in range(4)]
    df = spark.createDataFrame(cells, "cx long, cy long, n long")
    rows = getis_ord_gstar(df).collect()
    assert len(rows) == 16 and all(r.z is None for r in rows)
    # 2x2 lattice: every cell neighbors every cell (W_i = N) -> B = 0
    tiny = spark.createDataFrame(
        [(0, 0, 1), (0, 1, 5), (1, 0, 9), (1, 1, 2)],
        "cx long, cy long, n long")
    trows = getis_ord_gstar(tiny).collect()
    assert len(trows) == 4 and all(r.z is None for r in trows)
    assert all(r.w_i == 4 for r in trows)
