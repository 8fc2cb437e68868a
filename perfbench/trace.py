"""Benchmark-side tracing: spans around layer calls, self time, and the
Spark event log folded per span.

Spans are recorded in every run (a list append per layer call); only the
traced run turns on Spark's event log and tags main-thread jobs with
``setJobGroup``. Nothing here touches engine code.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from .metrics import EVENT_COUNTERS


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    thread: str
    run_id: str


@dataclass
class Tracer:
    run_id: str
    traced: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def span(self, name: str, spark=None):
        """Time one layer call. With ``spark`` on a traced run, the
        call's Spark jobs carry ``name`` as their job group."""
        stack = getattr(self._stack, "names", None)
        if stack is None:
            stack = self._stack.names = []
        parent = stack[-1] if stack else None
        stack.append(name)
        tag = spark is not None and self.traced
        if tag:
            spark.sparkContext.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            if tag:
                if parent is not None:
                    spark.sparkContext.setJobGroup(parent, parent)
                else:
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                    spark.sparkContext.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(Span(name, t0, t1, parent,
                                       threading.current_thread().name, self.run_id))

    def add(self, name: str, start: float, end: float, parent: str | None = None,
            thread: str = "stream") -> None:
        """Record a span measured elsewhere (e.g. a stream trigger)."""
        with self._lock:
            self.spans.append(Span(name, start, end, parent, thread, self.run_id))

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def self_times(self, since: float = 0.0) -> dict[str, float]:
        """Per span name: duration minus the part covered by its child
        spans (children = spans naming it as parent on the same thread,
        inside its interval). Only spans starting at ``since`` or later."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.start < since:
                continue
            kids = sorted(
                (c.start, c.end) for c in self.spans
                if c.parent == s.name and c.thread == s.thread
                and c.start >= s.start and c.end <= s.end
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - _union(kids)
        return out

    def uncovered(self, start: float, end: float) -> list[tuple[float, float]]:
        """Gaps in [start, end] that no top-level span covers."""
        iv = sorted((max(s.start, start), min(s.end, end)) for s in self.spans
                    if s.parent is None and s.end > start and s.start < end)
        gaps, cur = [], start
        for a, b in iv:
            if a > cur:
                gaps.append((cur, a))
            cur = max(cur, b)
        if cur < end:
            gaps.append((cur, end))
        return gaps

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _union(iv: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- Spark event log --------------------------------------------------------


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}",
            # one plain JSON-lines file (Spark 4 defaults: rolling, zstd)
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false"}


def fold_eventlog(log_dir: str, attribute) -> dict[str, dict[str, float]]:
    """Fold the (finished) event log in ``log_dir`` into per-span counters.

    ``attribute(props, submit_s)`` maps a job's properties and submission
    time to a span name (or None to leave the job unattributed, counted
    under ``"(other)"``)."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_span: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(name: str) -> dict[str, float]:
        return out.setdefault(name, dict.fromkeys(EVENT_COUNTERS, 0.0))

    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                name = attribute(ev.get("Properties") or {},
                                 ev.get("Submission Time", 0) / 1000.0) or "(other)"
                bucket(name)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_span[sid] = name
            elif kind == "SparkListenerTaskEnd":
                name = stage_span.get(ev.get("Stage ID"), "(other)")
                m = ev.get("Task Metrics") or {}
                b = bucket(name)
                b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                b["shuffle_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                b["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out


# -- host facts -------------------------------------------------------------

def host_steal_s() -> float:
    """Cumulative hypervisor steal (seconds) from /proc/stat's aggregate
    cpu line, field 8 in clock ticks (the same read bench.py makes)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_busy_steal_s() -> tuple[float, float]:
    """Cumulative (busy, steal) CPU seconds of the host from /proc/stat's
    aggregate cpu line; busy = user + nice + system + irq + softirq."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    tick = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / tick, v[7] / tick


def cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by process ``pid`` plus
    this Python process. Time the hypervisor steals is not in it."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    own = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + own.user + own.system


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
