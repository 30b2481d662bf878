"""A/B the benchmark between two checkouts in alternating pairs.

    python scripts/ab_pairs.py PARENT_DIR CHANGE_DIR --workload W --seeds A-B

Each seed in A..B is one pair: the benchmark command of BENCHMARK.json
(``python3 perfbench/run.py --workload W --seed S --seconds 20 --trace
0``) runs once in each checkout, one run at a time. The side that runs
first flips from pair to pair, so a drift in the host's load falls on
both sides alike. A run's result is the last line of its output.

For every end-to-end metric of BENCHMARK.json it prints each side's
median, quartiles (q1-q3) and max/min spread, and in how many pairs the
change beat the parent; then each side's failed operations per run. A
run that exits non-zero or prints no result counts as failed (``-``).
Each run's full output goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def last_json(output: str) -> dict | None:
    lines = [ln for ln in output.splitlines() if ln.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def run_pairs(seeds: list[int], run) -> list[dict]:
    """One {side: result} per seed; run(side, seed) -> result or None.
    The parent runs first on even pair indices, the change on odd."""
    pairs = []
    for i, seed in enumerate(seeds):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        pairs.append({side: run(side, seed) for side in order})
    return pairs


def _value(result: dict | None, metric: str) -> float | None:
    m = (result or {}).get("metrics", {}).get(metric)
    return m["value"] if m else None


def _stats(xs: list[float]) -> str:
    if not xs:
        return "-"
    q1, q2, q3 = (statistics.quantiles(xs, n=4, method="inclusive")
                  if len(xs) > 1 else (xs[0],) * 3)
    spread = max(xs) / min(xs) if min(xs) > 0 else float("inf")
    return f"{q2:.4g} [{q1:.4g}-{q3:.4g}] x{spread:.3f}"


def summarize(pairs: list[dict], end_to_end: list[dict]) -> list[str]:
    """Report lines: a row per end-to-end metric, then the failures."""
    out = [f"{'metric':<12} {'better':<7} {'parent median [q1-q3] max/min':<40}"
           f"{'change median [q1-q3] max/min':<40}change wins"]
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [_value(p[s], name) for p in pairs] for s in SIDES}
        both = [(a, b) for a, b in zip(vals["parent"], vals["change"])
                if a is not None and b is not None]
        wins = sum((b < a) if lower else (b > a) for a, b in both)
        out.append(f"{name:<12} {m['better']:<7} "
                   + "".join(f"{_stats([v for v in vals[s] if v is not None]):<39} "
                             for s in SIDES)
                   + f"{wins}/{len(both)}")
    for s in SIDES:
        failed = [str(p[s]["failed"]) if p[s] else "-" for p in pairs]
        out.append(f"failed {s}: {' '.join(failed)}")
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds, help="A-B, inclusive")
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    dirs = dict(zip(SIDES, (a.parent_dir, a.change_dir)))

    def run(side: str, seed: int) -> dict | None:
        cmd = [*bench["command"], "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        print(f"== {side} seed {seed}: {' '.join(cmd)}", file=sys.stderr, flush=True)
        p = subprocess.run(cmd, cwd=dirs[side], capture_output=True, text=True)
        print(p.stdout + p.stderr, file=sys.stderr, flush=True)
        return last_json(p.stdout) if p.returncode == 0 else None

    pairs = run_pairs(a.seeds, run)
    print(f"{a.workload}: {len(pairs)} pairs, seeds {a.seeds[0]}-{a.seeds[-1]}")
    print("\n".join(summarize(pairs, bench["end_to_end"])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
