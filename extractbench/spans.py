"""Spans, Spark event-log counters and process-tree memory for the benchmark.

A :class:`Tracer` records one span per call into an engine layer. Spans
live in memory and are written out once, at exit. Each span also becomes
a Spark job group, so the event log attributes every stage and task to the
span (and so to the layer) that ran it.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    op_id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder for the traced run."""

    def __init__(self, spark_context) -> None:
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op_id = 0

    def new_op(self) -> None:
        """Spans opened from now on share a new operation id."""
        self._op_id += 1

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans) + 1, self._op_id, name, layer, parent,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"span-{sp.span_id}", name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            outer = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(f"span-{outer.span_id}" if outer else
                                "untraced", outer.name if outer else "", False)

    def self_times(self, op_id: int) -> dict[int, float]:
        """span_id -> duration minus the time covered by its child spans."""
        spans = [s for s in self.spans if s.op_id == op_id]
        child = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.span_id: (s.end - s.start) - child[s.span_id] for s in spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# -- Spark event log ---------------------------------------------------------

SPARK_COUNTERS = (
    "stages", "tasks", "tasks_failed", "executor_run_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_skew",
)


def _event_files(log_dir: str) -> list[str]:
    """Event files in single-file or rolling (``eventlog_v2_*/``) layout."""
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in files
        if not f.startswith((".", "appstatus"))  # skip checksums, markers
    )


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> Spark counters, from every event log in ``log_dir``.

    ``task_skew`` is the largest max/median task run time over the group's
    stages that ran more than one task (1.0 when no stage did).
    """
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "untraced")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]].append(ev)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {c: 0.0 for c in SPARK_COUNTERS})
    skews: dict[str, list[float]] = defaultdict(list)
    for sid, evs in tasks.items():
        c = out[stage_group.get(sid, "untraced")]
        c["stages"] += 1
        runs = []
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            failed = (ev.get("Task Info") or {}).get("Failed", False)
            c["tasks"] += 1
            c["tasks_failed"] += 1 if failed else 0
            run_ms = m.get("Executor Run Time", 0)
            runs.append(run_ms)
            c["executor_run_s"] += run_ms / 1000.0
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
        med = statistics.median(runs)
        if len(runs) > 1 and med > 0:
            skews[stage_group.get(sid, "untraced")].append(max(runs) / med)
    for group, c in out.items():
        c["task_skew"] = max(skews[group], default=1.0)
    return dict(out)


# -- memory of the process tree ------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    return tree


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Background sampler of the summed RSS of this process tree, taken
    while ``measuring`` is set."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.measuring = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.measuring.is_set():
                self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in process_tree()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
