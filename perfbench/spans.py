"""Measurement helpers: spans around calls into the engine's public
functions, Spark job/stage counters, streaming progress capture and
process memory.

Spans are recorded from outside the engine by wrapping the functions
the benchmark calls; nothing inside the package is instrumented.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, -(-len(xs) * q // 100) - 1))]


class Tracer:
    """In-memory spans (name, start, end, parent, run id, attributes).
    Disabled tracers hand functions back unwrapped, so an untraced run
    pays nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "parent": parent, "run": self.run_id, **attrs})
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans[sid]["start"] = start
            self.spans[sid]["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, name: str, fn):
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class ProgressLog(StreamingQueryListener):
    """Every trigger's progress, by query id.  `recentProgress` keeps
    only the last 100 triggers, so a listener is the complete record."""

    def __init__(self):
        self.by_query: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.by_query.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def of(self, query) -> list[dict]:
        with self._lock:
            return list(self.by_query.get(str(query.id), []))


def job_counters(spark, job_ids) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle and spill bytes of the given jobs,
    from the status tracker and the application status store (both
    work with the UI disabled)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        out["jobs"] += 1
        for sid in (info.stageIds if info else ()):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or skipped
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[1]) == pid:
                kids.append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its JVM child, from
    /proc (VmHWM)."""
    me = os.getpid()
    java = [p for p in _children(me) if _is_java(p)]
    return (_hwm_kb(me) + sum(_hwm_kb(p) for p in java)) / 1024


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False
