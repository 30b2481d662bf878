"""End-to-end benchmark of the optimizing_spark engine.

    python3 perfbench/run.py --workload range_queries --seed 1 --seconds 12 --trace 0

Run from the repository root. One closed-loop client on local[nproc]
sends one op at a time. Set-up (session start, seeded input generation,
discarded warm-up ops filling WARMUP_S) is timed as ``setup_s``. The
measured phase runs ops until their summed time reaches ``--seconds``.
``op_p50_s`` and ``rows_per_s`` use the measured ops during which the
host stole at most DISTURBED_STEAL of the machine's CPU time, or all of
them when fewer than MIN_UNDISTURBED qualify. After the loop every op's
answer is checked against an oracle, outside the timed window.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also records
the Spark event log, job-group tags and Python spans on every other
measured op; the ops in between give an in-session untraced baseline for
the tracing overhead. It prints the per-layer table and metrics.

Every line but the last is informational; the last line is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Scratch files go under .bench_work/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
WORKLOAD_NAMES = ("tile_ingest", "range_queries", "knn_queries")
WARMUP_S = 20.0
# An op is disturbed when the host stole more than this share of the VM's
# CPU capacity (nproc x op time) while it ran.
DISTURBED_STEAL = 0.02
MIN_UNDISTURBED = 5
SHUFFLE_PARTITIONS = 8
DRIVER_MEM_MB = 4096


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seed < 0 or a.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return a


# --- /proc helpers ---------------------------------------------------------

def _read(path: str) -> str:
    try:
        with open(path, "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:
        return ""


def _pids() -> list[int]:
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def spark_jvms() -> list[int]:
    return [p for p in _pids() if p != os.getpid()
            and "org.apache.spark.deploy.SparkSubmit" in _read(f"/proc/{p}/cmdline")]


def _ppid_state(pid: int) -> tuple[int, str] | None:
    stat = _read(f"/proc/{pid}/stat")
    if not stat:
        return None
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[1]), fields[0]


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in _pids():
        ps = _ppid_state(p)
        if ps:
            children.setdefault(ps[0], []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids) -> float:
    total_kb = 0
    for p in pids:
        for line in _read(f"/proc/{p}/status").splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


def steal_s() -> float:
    """CPU time stolen from this VM by its host, summed over CPUs."""
    fields = _read("/proc/stat").split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _alive(pid: int) -> bool:
    ps = _ppid_state(pid)
    return ps is not None and ps[1] != "Z"


def wait_gone(pids, timeout: float) -> None:
    """Wait for pids to end; SIGKILL what is left at the timeout."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


# --- deployment ------------------------------------------------------------

def driver_mem_mb() -> int:
    """The pinned heap, lowered to a third of RAM on smaller hosts."""
    for line in _read("/proc/meminfo").splitlines():
        if line.startswith("MemTotal:"):
            return min(DRIVER_MEM_MB, int(line.split()[1]) // 1024 // 3)
    return DRIVER_MEM_MB


def pin_deployment(work: str, trace: bool) -> tuple[int, dict[str, str]]:
    """Environment and Spark conf of every run; returns (cores, extra conf)."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{driver_mem_mb()}m",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "TMPDIR": tmp,
    })
    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": logdir,
                      "spark.eventLog.compress": "false"})
    return cores, extra


def stop_spark(spark) -> None:
    """Stop the session, end its JVM (it exits when its stdin closes) and
    wait for the JVM and its Python workers."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = [proc.pid] + descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    wait_gone(pids, timeout=20)


# --- measurement -----------------------------------------------------------

def quantile(values, q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def main(argv=None) -> int:
    args = parse_args(argv)
    others = spark_jvms()
    if others:
        print(f"refusing to start: SparkSubmit JVM(s) already running: {others}", file=sys.stderr)
        return 2
    steal0 = steal_s()
    work = os.path.join(WORK_ROOT, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores, extra = pin_deployment(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        from optimizing_spark import session
        from perfbench import layers, trace, workloads
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 3

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cores=cores, shuffle_partitions=SHUFFLE_PARTITIONS,
                              extra=extra)
    start_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc.pid
    tracer = trace.Tracer(spark.sparkContext if args.trace else None)
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        parts = wl.generate()
        gen_s = statistics.median(parts) * len(parts)
        if args.trace:
            tracer.instrument()

        times, traced_times, plain_times, warm_times, undisturbed = [], [], [], [], []
        results, errors, op_steal = {}, set(), {}

        def run_op(i: int) -> float:
            tracer.op = i
            stolen = steal_s()
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    results[i] = wl.op(i)
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                traceback.print_exc()
                errors.add(i)
            dt = time.perf_counter() - t
            op_steal[i] = steal_s() - stolen
            return dt

        # JIT and code generation keep speeding ops up long after the first
        # one; a fixed warm-up time leaves every workload near its plateau.
        while sum(warm_times) < WARMUP_S:
            warm_times.append(run_op(len(warm_times)))
        warmup_s = sum(warm_times)
        measured, i = 0.0, len(warm_times)
        while measured < args.seconds:
            tracer.active = bool(args.trace) and len(times) % 2 == 0
            dt = run_op(i)
            (traced_times if tracer.active else plain_times).append(dt)
            tracer.active = False
            times.append(dt)
            if op_steal[i] <= DISTURBED_STEAL * cores * dt:
                undisturbed.append(dt)
            measured += dt
            i += 1
        rss = peak_rss_mb([jvm] + descendants(jvm))
        conf = dict(spark.sparkContext.getConf().getAll())
        wrong = wl.failures(results)
        attempted, failed = i, len(errors | wrong)
        pairs_out = {k: wl.pairs_out(v) for k, v in results.items()}
    finally:
        tracer.restore()
        stop_spark(spark)

    setup_s = start_s + gen_s + warmup_s
    print(json.dumps({"deployment": {
        "workload": args.workload, "seed": args.seed, "nproc": cores,
        "loadavg": os.getloadavg(), "cpu_steal_s": steal_s() - steal0, "spark_conf": conf}}))
    # The host's CPU steal comes in bursts that slow every op they hit by up
    # to 2x; the timing figures use the ops outside them when there are enough.
    timed = undisturbed if len(undisturbed) >= MIN_UNDISTURBED else times
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(timed), "s"),
        "rows_per_s": (wl.rows_per_op * len(timed) / sum(timed), "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    p90 = quantile(times, 0.9)
    summary = dict(e2e, op_p90_s=(p90, "s"), ops_attempted=(attempted, "count"),
                   ops_failed=(failed, "count"))
    print(f"{args.workload}: " + ", ".join(f"{k}={v:.4g} {u}" for k, (v, u) in summary.items()))
    print("op times (s): warm-up " + " ".join(f"{t:.3f}" for t in warm_times)
          + " | measured " + " ".join(f"{t:.3f}" for t in times))
    print("op steal (s): " + " ".join(f"{v:.2f}" for v in op_steal.values()))
    print(f"timing uses {len(timed)} of {len(times)} measured ops "
          f"({len(undisturbed)} undisturbed by host CPU steal)")
    reference = os.path.join(WORK_ROOT, f"{args.workload}.untraced.json")
    if args.trace:
        untraced = None
        if os.path.exists(reference):
            with open(reference) as f:
                untraced = json.load(f)["op_p50_s"]
        tracer.dump(os.path.join(work, "spans.json"))
        metrics, table = layers.per_layer(
            work, tracer.spans, wl, pairs_out,
            run={"session.start_s": start_s, "session.warmup_s": warmup_s, "sources.gen_s": gen_s,
                 "op_p90_s": p90},
            traced_times=traced_times, plain_times=plain_times, untraced_p50=untraced)
        print(f"{args.workload}: {table}")
    else:
        with open(reference, "w") as f:
            json.dump({"op_p50_s": e2e["op_p50_s"][0]}, f)
        metrics = e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
