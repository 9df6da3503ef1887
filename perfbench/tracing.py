"""Tracing for the benchmark: in-memory spans, Spark event-log stage
counters keyed by job group, and process memory from ``/proc``.

Spans are recorded only in traced runs; untraced runs use
:class:`NoTracer`, whose spans record nothing.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Nested spans kept in memory. A span's self time is its
    duration minus the time its child spans cover (the benchmark is
    single-threaded, so children never overlap)."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.pass_ = 0  # index of the pass new spans belong to

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "pass": self.pass_,
            "name": name,
            "attrs": attrs,
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["dur_s"] = rec["end"] - rec["start"]
            rec["self_s"] = rec["dur_s"] - rec["child_s"]
            if parent is not None:
                parent["child_s"] += rec["dur_s"]


class NoTracer(Tracer):
    """Tracing off: spans record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}


def stage_counters(event_dir: str) -> dict[str, dict[str, float]]:
    """Per job group totals from every Spark event log in
    ``event_dir``: jobs, completed stages, tasks, task run time,
    shuffle bytes, spill, input bytes and GC time."""
    stage_group: dict[tuple[str, int], str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault((path, sid), group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get((path, ev["Stage Info"]["Stage ID"]))
                    if group:
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get((path, ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if not group or not m:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    g["task_run_s"] += m.get("Executor Run Time", 0) / 1000
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    g["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    return {k: dict(v) for k, v in out.items()}


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                kids += [int(p) for p in fh.read().split()]
        except OSError:
            pass
    return kids


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak RSS of this process plus the JVM it launched. The JVM may
    sit under a launcher shell, so the deepest single-child chain
    below ``jvm_pid`` is followed to the java process."""
    total = _hwm_kib(os.getpid())
    pid = jvm_pid
    while pid is not None:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                is_java = fh.read().strip() == "java"
        except OSError:
            break
        if is_java:
            total += _hwm_kib(pid)
            break
        kids = _children(pid)
        pid = kids[0] if len(kids) == 1 else None
    return total / 1024


_GC_PAUSE = re.compile(r"Pause .*?(\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)")
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def gc_log_peak_heap_mb(path: str) -> float:
    """Highest heap occupancy right after a collection pause, from a
    JVM ``-Xlog:gc`` file. Unlike RSS, which follows the heap the JVM
    has committed (it grows towards ``-Xmx`` under a high allocation
    rate), this follows what the program still holds after a GC."""
    peak = 0.0
    try:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                m = _GC_PAUSE.search(line)
                if m:
                    peak = max(peak, int(m.group(3)) * _MB[m.group(4)])
    except OSError:
        pass
    return peak


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])
