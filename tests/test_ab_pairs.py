"""scripts/ab_pairs.py over canned benchmark result lines (no Spark)."""

import json

from scripts import ab_pairs

E2E = [{"name": "op_p50_s", "better": "lower"},
       {"name": "rows_per_s", "better": "higher"}]


def _result(p50, rps, failed=0):
    return {"correct": failed == 0, "attempted": 40, "failed": failed,
            "metrics": {"op_p50_s": {"value": p50, "unit": "s"},
                        "rows_per_s": {"value": rps, "unit": "1/s"}}}


def test_last_json_reads_the_final_line():
    out = "tile_ingest: op_p50_s=1.8 s\n{\"deployment\": {}}\n" \
        + json.dumps(_result(1.5, 9.0)) + "\n\n"
    assert ab_pairs.last_json(out) == _result(1.5, 9.0)
    assert ab_pairs.last_json("Traceback ...\nValueError: boom") is None
    assert ab_pairs.last_json("") is None


def test_seeds_and_alternating_order():
    assert ab_pairs.parse_seeds("51-55") == [51, 52, 53, 54, 55]
    assert ab_pairs.parse_seeds("7") == [7]
    calls = []
    pairs = ab_pairs.run_pairs([1, 2, 3], lambda side, seed: calls.append((side, seed)) or seed)
    assert calls == [("parent", 1), ("change", 1), ("change", 2), ("parent", 2),
                     ("parent", 3), ("change", 3)]
    assert pairs == [{"parent": s, "change": s} for s in (1, 2, 3)]


def test_summary_medians_spread_wins_and_failures():
    pairs = [
        {"parent": _result(2.0, 10.0), "change": _result(1.0, 20.0)},
        {"parent": _result(1.0, 20.0), "change": _result(2.0, 10.0, failed=1)},
        {"parent": _result(3.0, 30.0), "change": _result(1.5, 40.0)},
        {"parent": _result(4.0, 40.0), "change": None},
    ]
    lines = ab_pairs.summarize(pairs, E2E)
    p50 = next(ln for ln in lines if ln.startswith("op_p50_s"))
    # parent 1, 2, 3, 4: median 2.5, inclusive quartiles 1.75-3.25, 4/1
    assert "2.5 [1.75-3.25] x4.000" in p50
    # change 1, 1.5, 2 (the fourth run failed): median 1.5, 2/1
    assert "1.5 [1.25-1.75] x2.000" in p50
    assert p50.endswith("2/3")
    assert next(ln for ln in lines if ln.startswith("rows_per_s")).endswith("2/3")
    assert "failed parent: 0 0 0 0" in lines
    assert "failed change: 0 1 0 -" in lines
