"""cells.neighbor_cells, the one neighbour-shift primitive: its column
contract, the cell set of each offset list, and its build cost in
Py4J round trips."""

import pytest

from optimizing_spark.functions import cells as C
from optimizing_spark.operators import raster


def test_offset_sets():
    assert C.square_offsets(0) == [(0, 0)]
    assert sorted(C.square_offsets(2)) == sorted(
        (dx, dy) for dx in range(-2, 3) for dy in range(-2, 3))
    assert sorted(C.QUEEN8) == sorted(
        (dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0))
    assert sorted(C.ROOK4) == [(-1, 0), (0, -1), (0, 1), (1, 0)]
    assert sorted(C.HEX_RING) == sorted(
        [(0, 0), (2, 0), (-2, 0), (1, 1), (1, -1), (-1, 1), (-1, -1)])
    for offs in (C.square_offsets(3), C.QUEEN8, C.ROOK4, C.HEX_RING):
        assert len(set(offs)) == len(offs)


@pytest.mark.parametrize("offsets", [
    C.square_offsets(0), C.square_offsets(2), C.QUEEN8, C.ROOK4, C.HEX_RING,
], ids=["square0", "square2", "queen8", "rook4", "hex_ring"])
def test_neighbor_cells_contract(spark, offsets):
    """df's columns minus ``out`` are kept, ``out`` is replaced by the
    home cell (SQL text over df) plus each offset, once per offset."""
    rows = [(1, 10, 20, -5, "a"), (2, 0, 0, 7, "b")]
    df = spark.createDataFrame(rows, "id long, hx long, hy long, cell_x long, tag string")
    got = C.neighbor_cells(df, "hx + 1", "hy * 2", offsets)
    assert got.columns == ["id", "hx", "hy", "tag", "cell_x", "cell_y"]
    want = sorted(
        (i, hx, hy, tag, hx + 1 + dx, hy * 2 + dy)
        for i, hx, hy, _, tag in rows for dx, dy in offsets)
    assert sorted(map(tuple, got.collect())) == want

    named = C.neighbor_cells(df, "hx", "hy", offsets, out=("nx", "ny"))
    assert named.columns == ["id", "hx", "hy", "cell_x", "tag", "nx", "ny"]
    assert named.count() == len(rows) * len(offsets)


def test_neighbor_cells_plan_is_one_generate(spark):
    df = spark.createDataFrame([(1, 2)], "cx int, cy int")
    plan = C.neighbor_cells(df, "cx", "cy", C.square_offsets(4)) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate inline") == 1, plan


def test_focal_sum_plan_build_gateway_budget(spark, monkeypatch):
    """Building a radius-4 focal_sum stays within a fixed Py4J command
    budget: the 81 offsets are SQL text in one Generate, not 81 Column
    structs (about 6,650 commands). py4j memory-release commands are
    left out, as in the range_join budget test."""
    ras = spark.createDataFrame([(0, 0, 1), (1, 0, 2)], "px int, py int, n int")
    raster.focal_sum(ras, radius=4)  # one-time lookups
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    raster.focal_sum(ras, radius=4)
    monkeypatch.undo()
    assert 0 < len(sent) <= 60, len(sent)
