"""Measurement plumbing that lives outside the engine: spans around public
calls, Spark event-log counters per span, and peak resident memory of the
process tree.

Nothing here imports the engine. Spans are kept in memory and written as
JSONL when the run ends; Spark jobs are attributed to the innermost open
span through ``SparkContext.setJobGroup``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    run_id: str
    workload: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. When ``spark_context`` is set, every span
    tags the jobs it launches with its own job group, so event-log counters
    can be attributed to the span that caused them."""

    def __init__(self, run_id: str, workload: str, enabled: bool):
        self.run_id = run_id
        self.workload = workload
        self.enabled = enabled
        self.spark_context = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=f"{self.run_id}:{len(self.spans)}",
            name=name,
            parent=parent.span_id if parent else None,
            run_id=self.run_id,
            workload=self.workload,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        sc = self.spark_context
        if sc is None:
            return
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(s.span_id, s.name)

    def self_times(self) -> dict[str, float]:
        """span_id -> duration minus the part of it covered by child spans
        (children of one span never overlap: the client is a closed loop)."""
        child = {s.span_id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        return {s.span_id: s.duration - child[s.span_id] for s in self.spans}

    def write_jsonl(self, path: str, spark_by_span: dict[str, dict]) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "span_id": s.span_id,
                            "name": s.name,
                            "parent": s.parent,
                            "run_id": s.run_id,
                            "workload": s.workload,
                            "start": s.start,
                            "end": s.end,
                            "self_s": selfs[s.span_id],
                            "spark": spark_by_span.get(s.span_id, {}),
                        }
                    )
                    + "\n"
                )


# ------------------------------------------------------------ Spark event log

SPARK_COUNTERS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "executor_run_s",
    "jvm_gc_s",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def spark_counters_by_group(log_dir: str) -> dict[str, dict]:
    """Parse every event log in ``log_dir`` into per-job-group counters:
    SPARK_COUNTERS plus ``task_times`` per stage (for the skew ratio)."""
    out: dict[str, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    _group(out, group)["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = _group(out, group)
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    if info.get("Failed"):
                        g["failed_tasks"] += 1
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    run_ms = m.get("Executor Run Time", 0)
                    g["executor_run_s"] += run_ms / 1000.0
                    g["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    stage = (path, ev.get("Stage ID"), ev.get("Stage Attempt ID", 0))
                    g["task_times"].setdefault(stage, []).append(run_ms)
    return out


def _group(out: dict, group: str) -> dict:
    if group not in out:
        out[group] = {c: 0 for c in SPARK_COUNTERS}
        out[group]["task_times"] = {}
    return out[group]


def task_skew(task_times: dict) -> float:
    """max / median task run time in the widest stage (most tasks); 1.0
    when no stage ran or every task took 0 ms."""
    if not task_times:
        return 1.0
    widest = max(task_times.values(), key=len)
    med = statistics.median(widest)
    return max(widest) / med if med > 0 else 1.0


# ------------------------------------------------------------------ peak RSS


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM and its Python workers)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _resident_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each shared page split
    among the processes that map it. Python workers are forked from one
    daemon, so summing plain RSS would count the pages they share with it
    once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass  # the process ended between listing and reading
    return 0


class RssSampler:
    """Samples the summed resident memory (PSS) of this process tree from
    /proc on a background thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            total = sum(_resident_bytes(p) for p in process_tree(root))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024.0 * 1024.0)
