"""Per-layer metrics of the traced run and the table that prints them.

Each op-level figure is computed per traced op and reported as the
median over traced ops. Layer times come from span self time
(``trace.self_times``); Spark figures come from the event log
(``eventlog.EventLog.op_stats``).
"""

from __future__ import annotations

import os
import statistics

from . import eventlog, trace

SINKS = ("exec.collect", "plans.write_clustered")

# name -> (unit, layer, end-to-end metric it should move, workloads)
METRICS = {
    "session.start_s": ("s", "session", "setup_s", "all"),
    "session.warmup_s": ("s", "session", "setup_s", "all"),
    "sources.gen_s": ("s", "sources", "setup_s", "all"),
    "sources.build_s": ("s", "sources", "op_p50_s", "range_queries"),
    "scan.bytes_read": ("bytes", "sources", "op_p50_s", "range_queries"),
    "scan.rows_read": ("count", "sources", "op_p50_s", "range_queries"),
    "functions.build_s": ("s", "functions", "op_p50_s", "range_queries"),
    "operators.build_s": ("s", "operators", "op_p50_s", "knn_queries, range_queries"),
    "operators.build_sql_execs": ("count", "operators", "op_p50_s", "knn_queries"),
    "operators.build_jobs": ("count", "operators", "op_p50_s", "knn_queries"),
    "joins.fanout": ("ratio", "operators", "op_p90_s", "range_queries, knn_queries"),
    "joins.pair_yield": ("ratio", "operators", "op_p90_s", "range_queries, knn_queries"),
    "plans.build_s": ("s", "plans", "rows_per_s", "tile_ingest"),
    "plans.write_s": ("s", "plans", "rows_per_s", "tile_ingest"),
    "write.bytes": ("bytes", "plans", "rows_per_s", "tile_ingest"),
    "write.files": ("count", "plans", "rows_per_s", "tile_ingest"),
    "exec.sink_s": ("s", "exec", "rows_per_s", "tile_ingest"),
    "exec.sql_execs": ("count", "exec", "op_p50_s", "all"),
    "exec.jobs": ("count", "exec", "op_p50_s", "all"),
    "exec.stages": ("count", "exec", "op_p50_s", "all"),
    "exec.tasks": ("count", "exec", "op_p50_s", "all"),
    "exec.executor_cpu_s": ("s", "exec", "rows_per_s", "tile_ingest"),
    "exec.executor_run_s": ("s", "exec", "rows_per_s", "tile_ingest"),
    "exec.gc_s": ("s", "exec", "peak_rss_mb", "all"),
    "exec.shuffle_write_bytes": ("bytes", "exec", "rows_per_s", "tile_ingest"),
    "exec.shuffle_read_bytes": ("bytes", "exec", "rows_per_s", "tile_ingest"),
    "exec.spill_bytes": ("bytes", "exec", "peak_rss_mb", "all"),
    "exec.task_skew": ("ratio", "exec", "op_p90_s", "range_queries"),
    "exec.result_bytes": ("bytes", "exec", "peak_rss_mb", "all"),
    "driver.self_s": ("s", "driver", "op_p50_s", "knn_queries, range_queries"),
    "op_p90_s": ("s", "end-to-end", "-", "all"),
    "trace.op_p50_s": ("s", "trace", "-", "all"),
    "trace.overhead": ("ratio", "trace", "-", "all"),
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def op_metrics(spans: list[dict], stats: eventlog.OpStats, pairs_out: int,
               candidates: int | None) -> dict[str, float]:
    """Layer figures of one op from its spans and its Spark stats."""
    selft = trace.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    layer_self: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        if s["name"] not in SINKS:
            layer_self[layer] = layer_self.get(layer, 0.0) + selft[s["id"]]

    def dur(names) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

    def under_operators(sid: int) -> bool:
        while sid is not None:
            if by_id[sid]["name"].startswith("operators."):
                return True
            sid = by_id[sid]["parent"]
        return False

    op = next(s for s in spans if s["name"] == "op")
    sql = trace.union_length(stats.sql_intervals, op["start"], op["end"])
    join_candidates = stats.join_rows if candidates is None else candidates
    return {
        "sources.build_s": layer_self.get("sources", 0.0),
        "scan.bytes_read": stats.scan_bytes,
        "scan.rows_read": stats.scan_rows,
        "functions.build_s": layer_self.get("functions", 0.0),
        "operators.build_s": layer_self.get("operators", 0.0),
        "operators.build_sql_execs": sum(n for sid, n in stats.execs_by_span.items() if under_operators(sid)),
        "operators.build_jobs": sum(n for sid, n in stats.jobs_by_span.items() if under_operators(sid)),
        "joins.fanout": _ratio(stats.generated_rows, stats.generate_input_rows),
        "joins.pair_yield": _ratio(pairs_out, join_candidates),
        "plans.build_s": layer_self.get("plans", 0.0),
        "plans.write_s": dur(("plans.write_clustered",)),
        "write.bytes": stats.write_bytes,
        "write.files": stats.write_files,
        "exec.sink_s": dur(SINKS),
        "exec.sql_execs": stats.sql_execs,
        "exec.jobs": stats.jobs,
        "exec.stages": stats.stages,
        "exec.tasks": stats.tasks,
        "exec.executor_cpu_s": stats.executor_cpu_s,
        "exec.executor_run_s": stats.executor_run_s,
        "exec.gc_s": stats.gc_s,
        "exec.shuffle_write_bytes": stats.shuffle_write_bytes,
        "exec.shuffle_read_bytes": stats.shuffle_read_bytes,
        "exec.spill_bytes": stats.spill_bytes,
        "exec.task_skew": stats.task_skew,
        "exec.result_bytes": stats.result_bytes,
        "driver.self_s": (op["end"] - op["start"]) - sql,
    }


def per_layer(work: str, spans: list[dict], wl, pairs_out: dict[int, int], run: dict,
              traced_times, plain_times, untraced_p50):
    """(metrics {name: (value, unit)}, printable table) of a traced run;
    ``run`` holds the run-level figures (set-up parts, op_p90_s)."""
    stats = eventlog.EventLog(eventlog.read_events(os.path.join(work, "eventlog"))).op_stats()
    spans_of: dict[int, list[dict]] = {}
    for s in spans:
        spans_of.setdefault(s["op"], []).append(s)
    candidates = getattr(wl, "candidate_pairs", None)
    per_op = [op_metrics(ss, stats.get(op, eventlog.OpStats()), pairs_out.get(op, 0),
                         candidates(op) if candidates else None)
              for op, ss in sorted(spans_of.items())]
    values = {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}
    values.update(run)
    traced_p50 = statistics.median(traced_times)
    plain_p50 = statistics.median(plain_times) if plain_times else traced_p50
    values["trace.op_p50_s"] = traced_p50
    values["trace.overhead"] = _ratio(traced_p50, plain_p50) - 1.0
    metrics = {k: (values[k], METRICS[k][0]) for k in METRICS}

    lines = [f"per-layer medians over {len(per_op)} traced ops "
             f"({len(plain_times)} untraced ops in the same session)",
             f"{'metric':28s} {'value':>14s} {'unit':6s} {'layer':10s} {'moves':12s} on"]
    for k, (unit, layer, moves, on) in METRICS.items():
        lines.append(f"{k:28s} {values[k]:14.6g} {unit:6s} {layer:10s} {moves:12s} {on}")
    lines.append(f"tracing overhead: traced op p50 {traced_p50:.4f} s vs {plain_p50:.4f} s "
                 f"untraced in this session ({values['trace.overhead']:+.1%})")
    if untraced_p50:
        lines.append(f"tracing overhead vs the last untraced run's op_p50_s {untraced_p50:.4f} s: "
                     f"{traced_p50 / untraced_p50 - 1:+.1%}")
    return metrics, "\n".join(lines)
