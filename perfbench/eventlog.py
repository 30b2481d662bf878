"""Spark event-log parser for the traced run.

Jobs and SQL executions carry the job group that was set when they
started (``trace.tag``: op id and innermost span id); stages and tasks
belong to their job. ``op_stats`` sums, per op, what Spark recorded:
job/stage/task counts, task metrics, SQL-execution intervals and the
SQL metrics of each execution's final (adaptive) plan.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from .trace import parse_tag

_SQL = "org.apache.spark.sql.execution.ui."
ROWS = "number of output rows"
JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


def read_events(path: str):
    """Events of one application: a plain log file, or a directory
    holding one (rolling ``eventlog_v2_*`` layout included)."""
    if os.path.isdir(path):
        files = [f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
                 if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))]
        files.sort(key=lambda f: (os.path.dirname(f), _part_no(f)))
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _part_no(f: str) -> int:
    parts = os.path.basename(f).split("_")
    return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0


@dataclass
class OpStats:
    """What Spark recorded for one op (all attributed via job group)."""

    sql_execs: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    scan_bytes: int = 0
    scan_rows: int = 0
    task_skew: float = 1.0
    write_bytes: int = 0
    write_files: int = 0
    generated_rows: int = 0
    generate_input_rows: int = 0
    join_rows: int = 0
    sql_intervals: list = field(default_factory=list)
    jobs_by_span: dict = field(default_factory=lambda: defaultdict(int))
    execs_by_span: dict = field(default_factory=lambda: defaultdict(int))


class EventLog:
    def __init__(self, events):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.execs: dict[int, dict] = {}
        self.accums: dict[int, float] = defaultdict(float)
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {"group": props.get("spark.jobGroup.id")}
                for sid in e["Stage IDs"]:
                    self.stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                for acc in info.get("Accumulables", []):
                    update = _number(acc.get("Update"))
                    if update is not None:
                        self.accums[acc["ID"]] += update
                self.tasks[e["Stage ID"]].append(
                    {"dur": info["Finish Time"] - info["Launch Time"], "m": e.get("Task Metrics") or {}})
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                self.execs[e["executionId"]] = {"group": e.get("jobGroupId"), "start": e["time"] / 1e3,
                                                "end": None, "plan": e["sparkPlanInfo"]}
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                if e["executionId"] in self.execs:
                    self.execs[e["executionId"]]["plan"] = e["sparkPlanInfo"]
            elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                if e["executionId"] in self.execs:
                    self.execs[e["executionId"]]["end"] = e["time"] / 1e3
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    self.accums[acc_id] += value

    def _metric(self, node: dict, name: str) -> float:
        for m in node.get("metrics", []):
            if m["name"] == name:
                return self.accums.get(m["accumulatorId"], 0)
        return 0

    def _has_rows(self, node: dict) -> bool:
        return any(m["name"] == ROWS for m in node.get("metrics", []))

    def _generate_input(self, node: dict, inner: set) -> float:
        """Rows entering a chain of Generate nodes: the first node below it
        with a row count that is not itself a Generate."""
        total = 0.0
        for child in node["children"]:
            if child["nodeName"] == "Generate":
                inner.add(id(child))
                total += self._generate_input(child, inner)
            elif self._has_rows(child):
                total += self._metric(child, ROWS)
            else:
                total += self._generate_input(child, inner)
        return total

    def plan_metrics(self, plan: dict) -> dict[str, float]:
        """Cell fan-out, join output, scan and write totals of one final plan."""
        nodes, todo = [], [plan]
        while todo:
            n = todo.pop()
            nodes.append(n)
            todo.extend(n["children"])
        inner: set = set()
        chains = []
        for n in nodes:
            if n["nodeName"] == "Generate":
                chains.append((n, self._generate_input(n, inner)))
        out = {"generated_rows": 0.0, "generate_input_rows": 0.0, "join_rows": 0.0,
               "write_bytes": 0.0, "write_files": 0.0, "scan_bytes": 0.0}
        for n, rows_in in chains:
            if id(n) not in inner:
                out["generated_rows"] += self._metric(n, ROWS)
                out["generate_input_rows"] += rows_in
        for n in nodes:
            if n["nodeName"] in JOIN_NODES and _has_generate(n):
                out["join_rows"] += self._metric(n, ROWS)
            out["write_bytes"] += self._metric(n, "written output")
            out["write_files"] += self._metric(n, "number of written files")
            out["scan_bytes"] += self._metric(n, "size of files read")
        return out

    def op_stats(self) -> dict[int, OpStats]:
        ops: dict[int, OpStats] = defaultdict(OpStats)
        for ex in self.execs.values():
            t = parse_tag(ex["group"])
            if t is None:
                continue
            s = ops[t[0]]
            s.sql_execs += 1
            s.execs_by_span[t[1]] += 1
            s.sql_intervals.append((ex["start"], ex["end"] if ex["end"] is not None else ex["start"]))
            for k, v in self.plan_metrics(ex["plan"]).items():
                setattr(s, k, getattr(s, k) + int(v))
        stages_of: dict[int, list[int]] = defaultdict(list)
        for stage, job in self.stage_job.items():
            stages_of[job].append(stage)
        for job_id, job in self.jobs.items():
            t = parse_tag(job["group"])
            if t is None:
                continue
            s = ops[t[0]]
            s.jobs += 1
            s.jobs_by_span[t[1]] += 1
            for stage in stages_of[job_id]:
                tasks = self.tasks.get(stage, [])
                if not tasks:
                    continue
                s.stages += 1
                s.tasks += len(tasks)
                durs = [x["dur"] for x in tasks]
                med = statistics.median(durs)
                if len(durs) > 1 and med > 0:
                    s.task_skew = max(s.task_skew, max(durs) / med)
                for x in tasks:
                    m = x["m"]
                    sr = m.get("Shuffle Read Metrics", {})
                    s.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    s.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                    s.gc_s += m.get("JVM GC Time", 0) / 1e3
                    s.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    s.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    s.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    s.result_bytes += m.get("Result Size", 0)
                    s.scan_rows += m.get("Input Metrics", {}).get("Records Read", 0)
        return dict(ops)


def _number(v) -> float | None:
    """Task accumulator updates: numbers, or decimal strings for SQL metrics."""
    if isinstance(v, (int, float)):
        return v
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def _has_generate(node: dict) -> bool:
    todo = list(node["children"])
    while todo:
        n = todo.pop()
        if n["nodeName"] == "Generate":
            return True
        todo.extend(n["children"])
    return False
