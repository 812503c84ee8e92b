#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload geo_marts --seed 1 --seconds 10 --trace 0

Run from the repository root. The run sets up a ``local[N]`` session
(N = min(3, cores): one core stays free for the Python driver, the
Python workers and the JVM's own threads) with ``session.get_spark``,
generates the workload's inputs from the seed, runs untimed warm-up
iterations, then timed iterations until ``--seconds`` have been
measured and at least three ran, checking every iteration's output
outside the timed window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
iterations with spans, Py4J call counting, job groups and the Spark event
log on, and prints the per-layer metrics. The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``.perfbench_work/`` in the root.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
LIBRARY = "hdfs_with_pyspark_spark"
# Iterations still speed up as the JIT compiles; the median of three is
# the middle one, not an average with the slow first.
MIN_TIMED_ITERATIONS = 3
DRIVER_MEMORY = "2g"
MB = 1e6

END_TO_END = {"setup_s": "s", "run_s": "s", "input_rows_per_s": "rows/s",
              "peak_rss_mb": "MB", "disk_written_mb": "MB"}

_EXEC = {"jobs": "count", "stages": "count", "tasks": "count",
         "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
         "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
         "task_skew": "ratio"}
PER_LAYER = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "session.pinned_rdds": "count", "session.pinned_mb": "MB",
    "sources.read_s": "s", "sources.write_s": "s",
    "sources.output_files": "count", "sources.output_mb": "MB",
    "marts.construct_s": "s", "marts.py4j_calls": "count",
    "marts.construct_jobs": "count",
    "pipeline.makespan_s": "s", "pipeline.task_s_sum": "s",
    "pipeline.overlap": "ratio", "pipeline.attempts": "count",
    "pipeline.failed_tasks": "count",
    "llm.construct_s": "s", "llm.py4j_calls": "count",
    "llm.construct_jobs": "count", "llm.jobless_construct_ratio": "ratio",
    "llm.collect_s": "s",
    "plans.construct_s": "s", "plans.py4j_calls": "count",
    "plans.construct_jobs": "count", "plans.collect_s": "s",
    "streaming.construct_s": "s", "streaming.py4j_calls": "count",
    **{f"{layer}.{k}": u for layer in ("sources", "llm", "plans", "streaming")
       for k, u in _EXEC.items()},
    "trace.run_s": "s",
}


# ----------------------------------------------------------------- process
def process_start_epoch() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def write_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/io") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("write_bytes"))


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb * 1024 / MB


def launch_env(work: str, trace: bool) -> None:
    """Keep every file Spark and the library write inside ``work``; turn
    on the event log for traced runs. Set before the JVM starts."""
    dirs = {k: os.path.join(work, k) for k in
            ("tmp", "local", "scratch", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = dirs["scratch"]
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = dirs["warehouse"]
    # A fixed, modest driver heap (the library's default is 8 GiB).
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    confs = {
        "spark.local.dir": dirs["local"],
        # The whole heap is committed and touched at start, so peak RSS
        # moves with the memory the workload adds outside the heap
        # (Python, Arrow buffers, metaspace), not with GC timing.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs |= {"spark.eventLog.enabled": "true",
                  "spark.eventLog.dir": "file://" + dirs["eventlog"],
                  "spark.eventLog.rolling.enabled": "false",
                  "spark.eventLog.compress": "false"}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


def master() -> str:
    return f"local[{min(3, os.cpu_count() or 1)}]"


def start_session():
    """The library's session plus one trivial job: a ready session."""
    from hdfs_with_pyspark_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench", master=master())
    get_spark_s = time.time() - t0
    spark.range(1).collect()
    return spark, get_spark_s


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


# --------------------------------------------------------------- iteration
class Context:
    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer


def run_iteration(ctx, wl, it: int, pids: list[int]) -> dict:
    """prepare -> clearCache -> timed run -> check; returns the record."""
    wl.prepare(ctx, it)
    ctx.spark.catalog.clearCache()
    io0 = sum(write_bytes(p) for p in pids)
    t0 = time.perf_counter()
    result = wl.run(ctx, it)
    seconds = time.perf_counter() - t0
    io1 = sum(write_bytes(p) for p in pids)
    rec = {"it": it, "seconds": seconds, "written_mb": (io1 - io0) / MB}
    if ctx.tracer.enabled:
        rec |= pinned_state(ctx.spark) | output_stats(wl, it)
    rec["problems"] = {op: p for op, p in wl.check(ctx, it, result).items() if p}
    wl.cleanup(it)
    return rec


def pinned_state(spark) -> dict:
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return {"pinned_rdds": jsc.getPersistentRDDs().size(),
            "pinned_mb": sum(i.memSize() + i.diskSize() for i in infos) / MB}


def output_stats(wl, it: int) -> dict:
    if not hasattr(wl, "out_dir"):
        return {"output_files": 0, "output_mb": 0.0}
    files = [os.path.join(d, f) for d, _, fs in os.walk(wl.out_dir(it))
             for f in fs if f.endswith(".parquet")]
    return {"output_files": len(files),
            "output_mb": sum(os.path.getsize(f) for f in files) / MB}


# ----------------------------------------------------------------- metrics
def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(wl, timed: list[dict], warmup_s: float, get_spark_s: float,
                  tracer, events: list[dict]) -> dict[str, float]:
    """Per-layer metrics: medians over the timed iterations."""
    import tracing as T

    its = [r["it"] for r in timed]
    owners = T.attribute(events, tracer.spans)
    jobs_per_span: dict[int, int] = {}
    for i in owners["jobs"].values():
        jobs_per_span[i] = jobs_per_span.get(i, 0) + 1

    def spans(it, layer, phase=None):
        return [(i, s) for i, s in enumerate(tracer.spans)
                if s.iteration == it and s.layer == layer
                and (phase is None or s.phase == phase)]

    def per_it(fn) -> float:
        return median(fn(it) for it in its)

    m = {
        "session.get_spark_s": get_spark_s,
        "session.warmup_s": warmup_s,
        "session.pinned_rdds": median(r["pinned_rdds"] for r in timed),
        "session.pinned_mb": median(r["pinned_mb"] for r in timed),
        "sources.read_s": per_it(lambda it: sum(s.seconds for _, s in spans(it, "sources", "read"))),
        "sources.write_s": per_it(lambda it: sum(s.seconds for _, s in spans(it, "sources", "write"))),
        "sources.output_files": median(r["output_files"] for r in timed),
        "sources.output_mb": median(r["output_mb"] for r in timed),
        "trace.run_s": median(r["seconds"] for r in timed),
    }
    for layer in ("marts", "llm", "plans", "streaming"):
        m[f"{layer}.construct_s"] = per_it(
            lambda it: sum(s.seconds for _, s in spans(it, layer, "construct")))
        m[f"{layer}.py4j_calls"] = per_it(
            lambda it: sum(s.py4j_calls for _, s in spans(it, layer, "construct")))
        m[f"{layer}.construct_jobs"] = per_it(
            lambda it: sum(jobs_per_span.get(i, 0) for i, _ in spans(it, layer, "construct")))
        m[f"{layer}.collect_s"] = per_it(
            lambda it: sum(s.seconds for _, s in spans(it, layer, "collect")))

    def jobless(it) -> float:
        built = spans(it, "llm", "construct")
        return sum(1 for i, _ in built if not jobs_per_span.get(i)) / len(built) if built else 0.0
    m["llm.jobless_construct_ratio"] = per_it(jobless)

    reports = getattr(wl, "dag_reports", {})
    if reports:
        def task_sum(it):
            return sum(r.seconds for r in reports[it].values())
        m["pipeline.makespan_s"] = per_it(lambda it: wl.makespan[it])
        m["pipeline.task_s_sum"] = per_it(task_sum)
        m["pipeline.overlap"] = per_it(lambda it: task_sum(it) / wl.makespan[it])
        m["pipeline.attempts"] = per_it(lambda it: sum(r.attempts for r in reports[it].values()))
        m["pipeline.failed_tasks"] = per_it(
            lambda it: sum(r.state.value != "success" for r in reports[it].values()))

    for layer in T.EXEC_LAYERS:
        per = [T.exec_counters(events, tracer.spans, owners,
                               lambda s, it=it, layer=layer: s.iteration == it and s.layer == layer)
               for it in its]
        for k in _EXEC:
            m[f"{layer}.{k}"] = median(getattr(c, k) for c in per)
    return {k: float(m.get(k, 0.0)) for k in PER_LAYER}


# -------------------------------------------------------------------- main
def main() -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, LIBRARY)):
        print(f"perfbench: no {LIBRARY}/ package next to perfbench/ in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import workloads

    if args.workload not in workloads.WORKLOADS or args.seed is None or not args.seconds:
        ap.error(f"--workload one of {workloads.WORKLOADS}, --seed and --seconds are required")
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    launch_env(work, bool(args.trace))
    try:
        return run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, t_start: float) -> int:
    import tracing as T
    import workloads

    workloads.import_library(args.workload)
    spark, get_spark_s = start_session()
    setup_s = time.time() - t_start
    t_inputs = time.perf_counter()
    wl = workloads.make(args.workload, args.seed, os.path.join(work, "data"))
    inputs_s = time.perf_counter() - t_inputs
    tracer = T.Tracer(spark.sparkContext, enabled=bool(args.trace))
    if args.trace:
        tracer.install_py4j_counter()
    ctx = Context(spark, tracer)
    pids = [os.getpid(), jvm_pid()]

    records, it = [], 0
    t0 = time.perf_counter()
    for _ in range(wl.warmup_iterations):
        records.append(run_iteration(ctx, wl, it, pids))
        it += 1
    warmup_s = time.perf_counter() - t0
    timed: list[dict] = []
    measured = 0.0
    while measured < args.seconds or len(timed) < MIN_TIMED_ITERATIONS:
        rec = run_iteration(ctx, wl, it, pids)
        timed.append(rec)
        measured += rec["seconds"]
        it += 1
    tracer.enabled = False
    rss = sum(peak_rss_mb(p) for p in pids)
    stop_session(spark)
    tracer.uninstall()

    records += timed
    attempted = len(records) * len(wl.ops)
    failed = sum(len(r["problems"]) for r in records)
    for r in records:
        for op, problem in r["problems"].items():
            print(f"FAILED iteration {r['it']} {op}: {problem}", file=sys.stderr)

    if args.trace:
        events = T.read_event_log(os.path.join(work, "eventlog"))
        os.makedirs(WORK, exist_ok=True)
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.json"))
        values = layer_metrics(wl, timed, warmup_s, get_spark_s, tracer, events)
        units = PER_LAYER
    else:
        run_s = median(r["seconds"] for r in timed)
        values = {"setup_s": setup_s, "run_s": run_s,
                  "input_rows_per_s": wl.input_rows / run_s, "peak_rss_mb": rss,
                  "disk_written_mb": median(r["written_mb"] for r in timed)}
        units = END_TO_END
    print(f"perfbench: {args.workload} seed={args.seed} master={master()} "
          f"iterations={len(timed)} timed, {wl.warmup_iterations} warm-up; "
          f"input rows={wl.input_rows}; inputs+oracles {inputs_s:.1f}s, "
          f"warm-up {warmup_s:.1f}s, timed {[round(r['seconds'], 2) for r in timed]}",
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": u}
                                  for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
