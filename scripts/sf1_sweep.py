"""sf1 sweep — the 100x-gate-scale evidence run (round-4 verdict #8).

Builds a deterministic sf1-shaped dataset (10x sf0.1 = 100x the sf0.01
driver gate) by replicating every sf0.1 table 10 times with per-copy
key offsets that PRESERVE referential integrity (each copy's orders
reference that copy's customers, lineitems that copy's orders/parts/
suppliers, events that copy's users). No external data: every byte
derives from the driver's own sf0.1 parquet. The derived spatial
geometry (sources/derived.py) scales naturally: coordinates are
key-arithmetic mod 65536, so new keys => new well-spread positions.

Then runs every `__spark_entry__.queries()` entry at sf1, recording
per-query wall time of writing the whole result to the ``noop`` sink,
disk bytes spilled by that run (from the session's event log, parsed
by ``perfbench.eventlog``) and result rows (counted after the timed
run) — plus a DuckDB oracle value-compare on a
WHITELIST of queries whose DuckDB side stays tractable at sf1
(the cap the round-4 verdict sanctions: q_curate's DuckDB twin alone
took 604 s at sf0.1; recursive-CTE / window-unroll twins scale worse
than linearly, so the oracle pass at sf1 covers the cheap half and
sf0.01/sf0.1 remain the full-coverage gates).

SKIPPED at sf1 (documented, by design): q_embed_neardup — the all-pairs
exact CONTROL for the LSH path (the O29 analog); its plan is O(N^2) by
construction and the round-4 verdict pins it to gate scale.

Usage:
    python scripts/sf1_sweep.py build            # materialize /tmp/sf1 (once)
    python scripts/sf1_sweep.py run              # sweep every query + JSON report
    python scripts/sf1_sweep.py run q_snap ...   # sweep only the named queries
"""

from __future__ import annotations

import json
import os
import sys
import shutil
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.eventlog import EventLog, read_events  # noqa: E402
from perfbench.trace import tag  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF01", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SF1", "/tmp/sf1")
COPIES = 10
EVENTLOG = os.path.join(ROOT, ".bench_work", "sf1_sweep", "eventlog")

# per-copy key offsets: stride > max key at sf0.1, clean powers of 10
OFFSETS: dict[str, dict[str, int]] = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": 100_000},
    "supplier": {"s_suppkey": 10_000},
    "part": {"p_partkey": 100_000},
    "orders": {"o_orderkey": 1_000_000, "o_custkey": 100_000},
    "lineitem": {"l_orderkey": 1_000_000, "l_partkey": 100_000,
                 "l_suppkey": 10_000},
    "events": {"event_id": 1_000_000, "user_id": 10_000},
    "documents": {"doc_id": 10_000},
    "embeddings": {"vec_id": 10_000},
}

SKIP = {
    "q_embed_neardup": "all-pairs exact control (O29 analog), "
                       "O(N^2) by design — pinned to gate scale",
    "q_ripley": "gate radii (250..3000) are density-pinned: at sf1 "
                "r_max=3000 means ~9.9k neighbours/point = 7.4B "
                "materialized pairs. The scale evidence is BENCH.md's "
                "bench --ripley row (20M points, radii 4..16)",
    "q_visibility": "the dense 8192-edge subworld fold makes sight "
                    "density scale with n: at sf1 d=400 means ~11k "
                    "sight candidates/point = ~8B pairs. The scale "
                    "evidence for its building blocks is BENCH.md's "
                    "bench --ripley (distance_join) and bench --segseg "
                    "(crossing join, 2.37B candidates) rows",
}

# queries whose DuckDB twin stays tractable at sf1 (no recursive CTE,
# no window-unrolled capacity insert, no LSH band replay)
ORACLE_WHITELIST = [
    "q_cell_counts", "q_pip_join", "q_zonal", "q_ring_count",
    "q_hourly_events", "q_monthly_orders", "q_top_customers",
    "q_token_count", "q_quality", "q_lang_guess", "q_exact_dedup",
    "q_hex_counts", "q_agg_wide", "q_sample", "q_top_tokens",
    "q_sessionize", "q_json_extract", "q_spans", "q_trips", "q_od",
]


def build() -> None:
    from pyspark.sql import functions as F

    from optimizing_spark.session import get_spark

    spark = get_spark("sf1_build", cores=int(os.environ.get(
        "SPARK_GRAFT_CPUS", "32")))
    os.makedirs(DST, exist_ok=True)
    for t, offs in OFFSETS.items():
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        if not offs:  # dimension tables stay as-is
            out = src
        else:
            dtypes = dict(src.dtypes)
            rep = src.withColumn(
                "_copy", F.explode(F.sequence(F.lit(0), F.lit(COPIES - 1))))
            out = rep.select(
                *[(F.col(c) + F.col("_copy") * offs[c]).cast(dtypes[c])
                  .alias(c) if c in offs else F.col(c)
                  for c in src.columns])
        out.repartition(max(4, out.rdd.getNumPartitions())) \
            .write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
        print(f"built {t}: {spark.read.parquet(f'{DST}/{t}.parquet').count()} rows",
              flush=True)
    spark.stop()


def run(names: list[str] | None = None) -> dict:
    """Sweep the named queries (all when ``names`` is empty) and
    oracle-check the whitelisted ones among them."""
    import duckdb

    import __spark_entry__ as entry
    from tests.compare_harness import compare
    from optimizing_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shutil.rmtree(EVENTLOG, ignore_errors=True)
    os.makedirs(EVENTLOG)
    spark = get_spark("sf1_sweep", cores=cpus,
                      shuffle_partitions=max(64, cpus * 2),
                      extra={"spark.eventLog.enabled": "true", "spark.eventLog.dir": EVENTLOG,
                             "spark.eventLog.compress": "false"})
    sc = spark.sparkContext
    con = duckdb.connect()
    for t in OFFSETS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{DST}/{t}.parquet/*.parquet'")

    qs, osql = entry.queries(), entry.oracle_sql()
    if names:
        qs = {n: qs[n] for n in names}
    report: dict = {"sf": 1.0, "dir": DST, "cpus": cpus,
                    "skipped": SKIP, "queries": {}, "oracle_checked": {}}
    fails, ops = 0, {}
    for op, (name, fn) in enumerate(qs.items()):
        if name in SKIP:
            continue
        sc.setJobGroup(tag(op, 0), name)
        t0 = time.time()
        try:
            fn(spark, DST).write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            rows = fn(spark, DST).count()
            report["queries"][name] = {"rows": rows, "wall_sec": round(wall, 2)}
            ops[name] = op
            print(f"ok    {name}: rows={rows} ({wall:.1f}s)", flush=True)
        except Exception as ex:  # noqa: BLE001
            fails += 1
            report["queries"][name] = {
                "error": str(ex).splitlines()[0][:300]}
            print(f"FAIL  {name}: {str(ex).splitlines()[0][:200]}", flush=True)
    sc.setLocalProperty("spark.jobGroup.id", None)
    for name in ORACLE_WHITELIST:
        if name not in osql or name not in qs or name in SKIP:
            continue
        try:
            got = qs[name](spark, DST).toArrow().to_pandas()
            t0 = time.time()
            want = con.execute(osql[name]).arrow().to_pandas()
            ok, why = compare(got, want)
            report["oracle_checked"][name] = {
                "ok": ok, "why": why,
                "duck_sec": round(time.time() - t0, 2)}
            if not ok:
                fails += 1
            print(f"{'ok' if ok else 'FAIL'}  oracle {name}: {why}",
                  flush=True)
        except Exception as ex:  # noqa: BLE001
            fails += 1
            report["oracle_checked"][name] = {
                "ok": False, "why": str(ex).splitlines()[0][:300]}
            print(f"FAIL  oracle {name}: {str(ex).splitlines()[0][:200]}",
                  flush=True)
    spark.stop()  # flushes the event log
    stats = EventLog(read_events(EVENTLOG)).op_stats()
    for name, op in ops.items():  # None, not 0, when the log holds no job of the run
        report["queries"][name]["disk_spill_mb"] = (
            round(stats[op].spill_bytes / 1e6, 1) if op in stats else None)
    report["failures"] = fails
    report["total_wall_sec"] = round(sum(
        q.get("wall_sec", 0) for q in report["queries"].values()), 1)
    return report


if __name__ == "__main__":
    if "build" in sys.argv:
        build()
    else:
        print(json.dumps(run([a for a in sys.argv[1:] if a != "run"])))
