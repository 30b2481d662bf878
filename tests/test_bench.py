"""bench.py's refusal rule and mode registry (no Spark session)."""

import os
import subprocess
import sys

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLEAN = {"q_a": [1.00, 1.10, 1.39], "q_b": [0.50, 0.52, 0.51]}


def test_refusal_accepts_clean_runs():
    assert bench.refusal(CLEAN, {"q_a": 0.0, "q_b": 0.01}, cpus=4) is None


def test_refusal_refuses_repeat_spread_over_limit():
    runs = dict(CLEAN, q_b=[0.50, 0.71, 0.55])  # max/min 1.42
    why = bench.refusal(runs, {"q_a": 0.0, "q_b": 0.0}, cpus=4)
    assert why is not None and why.startswith("q_b: repeat max/min 1.42")


def test_refusal_refuses_host_steal_over_two_percent():
    # q_a ran 3.49 s on 4 CPUs: the cap is 0.02 * 4 * 3.49 = 0.279 s
    assert bench.refusal(CLEAN, {"q_a": 0.27, "q_b": 0.0}, cpus=4) is None
    why = bench.refusal(CLEAN, {"q_a": 0.29, "q_b": 0.0}, cpus=4)
    assert why is not None and why.startswith("q_a: host steal 0.29 s")


def test_unknown_mode_exits_nonzero_without_spark():
    p = subprocess.run([sys.executable, "-X", "importtime", "bench.py", "nosuchmode"],
                       cwd=ROOT, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    usage = [ln for ln in p.stderr.splitlines() if ln.startswith("usage:")]
    assert usage and all(m in usage[0] for m in
                         ("headline", "scaling", "refscale", "skew", "lshstats"))
    # -X importtime lists every imported module: no pyspark, so no JVM
    assert "pyspark" not in p.stderr
    assert p.stdout == ""


def test_mode_names_and_exit_status(monkeypatch):
    monkeypatch.setitem(bench.MODES, "scaling", lambda: {"metric": "m", "value": 1})
    monkeypatch.setitem(bench.MODES, "headline", lambda: {"metric": "m", "refused": "why"})
    assert bench.main(["--scaling"]) == 0
    assert bench.main(["scaling"]) == 0
    assert bench.main([]) == 1
    assert bench.main(["scaling", "skew"]) == 2
