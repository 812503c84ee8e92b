"""Outside-in tracing of the library's layers.

Spans are recorded by the benchmark around each call it makes into the
library (the library itself is not instrumented). Each span carries its
layer, phase, operation and iteration; it counts the Py4J *call*
commands its thread sends while it is open, and it tags the Spark jobs
that thread fires with a job group, so the event log can attribute
execution counters to the call that fired them. Jobs fired from threads
the benchmark does not own (streaming micro-batches run under their own
job group) are attributed to the innermost span open at submission time.

Spans stay in memory; ``Tracer.dump`` writes them out once at exit.
"""

from __future__ import annotations

import contextlib
import dataclasses
import glob
import json
import os
import statistics
import threading
import time

GROUP_PREFIX = "perfbench"
EXEC_LAYERS = ("sources", "llm", "plans", "streaming")


@dataclasses.dataclass
class Span:
    index: int
    layer: str
    phase: str
    op: str
    iteration: int
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    py4j_calls: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}|{self.iteration}|{self.layer}|{self.phase}|{self.op}"


class Tracer:
    """``enabled=False`` makes every span a no-op, for untraced runs."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched = None

    # ---------------------------------------------------------------- py4j
    def install_py4j_counter(self) -> None:
        """Count Py4J call commands (``c``) per thread's innermost span.

        Only call commands are counted: the object-release traffic that
        Python's garbage collector sends varies from run to run.
        """
        from py4j.java_gateway import GatewayClient

        original = GatewayClient.send_command
        tracer = self

        def send_command(client, command, *args, **kwargs):
            if command.startswith("c\n") and not getattr(tracer._local, "quiet", False):
                stack = getattr(tracer._local, "stack", None)
                if stack:
                    stack[-1].py4j_calls += 1
            return original(client, command, *args, **kwargs)

        GatewayClient.send_command = send_command
        self._patched = (GatewayClient, original)

    def uninstall(self) -> None:
        if self._patched:
            cls, original = self._patched
            cls.send_command = original
            self._patched = None

    # --------------------------------------------------------------- spans
    def _set_group(self, span: Span | None) -> None:
        self._local.quiet = True
        try:
            if span is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(span.group, span.op)
        finally:
            self._local.quiet = False

    @contextlib.contextmanager
    def span(self, iteration: int, layer: str, phase: str, op: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(len(self.spans), layer, phase, op, iteration,
                     parent=parent.index if parent else None)
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(parent)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([dataclasses.asdict(s) for s in self.spans], f)


# ------------------------------------------------------------------ event log
@dataclasses.dataclass
class ExecCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    task_skew: float = 0.0


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the (single) application logged under ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")] or glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def attribute(events: list[dict], spans: list[Span]) -> dict:
    """Map every job and stage to the span that fired it.

    Returns ``{"jobs": {job_id: span_index}, "stages": {stage_id: span_index}}``;
    work fired outside any span is left out.
    """
    by_group = {s.group: i for i, s in enumerate(spans)}
    leaves = sorted(range(len(spans)), key=lambda i: spans[i].start)

    def by_time(ms: float) -> int | None:
        t = ms / 1000.0
        best = None
        for i in leaves:
            s = spans[i]
            if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
                best = i
        return best

    def owner(props: dict, ms: float) -> int | None:
        g = (props or {}).get("spark.jobGroup.id")
        if g in by_group:
            return by_group[g]
        return by_time(ms)

    jobs, stages = {}, {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            i = owner(e.get("Properties"), e["Submission Time"])
            if i is not None:
                jobs[e["Job ID"]] = i
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            i = owner(e.get("Properties"), info.get("Submission Time") or 0)
            if i is not None:
                stages[info["Stage ID"]] = i
    return {"jobs": jobs, "stages": stages}


def exec_counters(events: list[dict], spans: list[Span], owners: dict,
                  keep) -> ExecCounters:
    """Sum the execution counters of jobs/stages whose span passes ``keep``."""
    c = ExecCounters()
    mine = {sid for sid, i in owners["stages"].items() if keep(spans[i])}
    c.jobs = sum(1 for i in owners["jobs"].values() if keep(spans[i]))
    durations: dict[int, list[float]] = {}
    stage_wall: dict[int, float] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerTaskEnd" and e["Stage ID"] in mine:
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            c.tasks += 1
            c.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            c.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
            c.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0)) / 1e6
            c.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
            durations.setdefault(e["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in mine:
                c.stages += 1
                stage_wall[info["Stage ID"]] = (info.get("Completion Time", 0)
                                                - info.get("Submission Time", 0))
    if stage_wall:
        longest = max(stage_wall, key=lambda s: (stage_wall[s], s))
        d = durations.get(longest) or [0]
        med = statistics.median(d)
        c.task_skew = max(d) / med if med > 0 else 1.0
    return c
