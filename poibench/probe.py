"""Measurement from outside the engine: spans, process-tree CPU and RSS,
Spark job/stage/task counts, and streaming progress.

Every probe observes public surfaces only (the benchmark's own calls,
``/proc``, ``SparkContext.statusTracker()``, a ``StreamingQueryListener``)
so the engine runs unmodified.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_age_s() -> float:
    """Seconds since this process was started (``/proc/self/stat``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK_TCK


class Tracer:
    """In-memory spans ``(name, start, end, parent, op)``; ``self_s`` is a
    span's duration minus the part covered by its children."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.perf_counter() - self._t0, "end": None,
               "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    @staticmethod
    def dur(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def total(self, name: str) -> float:
        return sum(self.dur(s) for s in self.spans if s["name"] == name and s["end"] is not None)

    def self_times(self) -> dict[str, float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += self.dur(s)
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + self.dur(s) - c
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans, "self_s": self.self_times()}, f, indent=1)


# --------------------------------------------------------------------------
# process tree: this Python process, the JVM it launched, Python workers
# --------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    head, tail = s.rsplit(")", 1)
    return [head.split("(", 1)[1]] + tail.split()


def _tree(root: int) -> dict[int, list[str]]:
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                stats[int(d)] = st
    keep = {root}
    grew = True
    while grew:
        grew = False
        for pid, st in stats.items():
            if pid not in keep and int(st[2]) in keep:
                keep.add(pid)
                grew = True
    return {p: stats[p] for p in keep if p in stats}


def tree_cpu_s() -> dict[str, float]:
    """CPU seconds so far of the JVM and of every Python process in the
    tree (reaped workers are included through their parent's ``cutime``)."""
    out = {"jvm": 0.0, "python": 0.0}
    for _pid, st in _tree(os.getpid()).items():
        ticks = sum(int(x) for x in st[12:16])  # utime stime cutime cstime
        kind = "jvm" if st[0] == "java" else "python"
        if kind == "jvm":
            ticks = int(st[12]) + int(st[13])  # its children are counted below
        out[kind] += ticks / _CLK_TCK
    return out


def tree_rss_bytes() -> int:
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self._interval)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


# --------------------------------------------------------------------------
# Spark scheduler counts per job group
# --------------------------------------------------------------------------

def job_group_stats(sc, group: str) -> dict[str, int]:
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "serial_stages": 0}
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped (shuffle output reused)
            out["stages"] += 1
            out["tasks"] += st.numCompletedTasks
            out["failed_tasks"] += st.numFailedTasks
            out["serial_stages"] += int(st.numTasks <= 2)
    return out


# --------------------------------------------------------------------------
# Structured Streaming progress
# --------------------------------------------------------------------------

def streaming_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches = 0
            self.duration_ms: dict[str, float] = {}
            self.state: dict[str, tuple[int, int]] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.batches += 1
            for k, v in (p.durationMs or {}).items():
                self.duration_ms[k] = self.duration_ms.get(k, 0.0) + float(v)
            ops = p.stateOperators or []
            self.state[str(p.id)] = (
                sum(o.numRowsTotal for o in ops), sum(o.memoryUsedBytes for o in ops)
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def metrics(self) -> dict[str, float]:
            d = self.duration_ms
            return {
                "streaming.batches": self.batches,
                "streaming.trigger_s": d.get("triggerExecution", 0.0) / 1000,
                "streaming.planning_s": d.get("queryPlanning", 0.0) / 1000,
                "streaming.commit_s": (d.get("walCommit", 0.0) + d.get("commitOffsets", 0.0)) / 1000,
                "streaming.state_rows": sum(r for r, _b in self.state.values()),
                "streaming.state_bytes": sum(b for _r, b in self.state.values()),
            }

    return Progress()
