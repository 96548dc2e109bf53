"""Spans, job tags and process-tree RSS sampling for the benchmark.

Spans are recorded around each call the benchmark makes into a layer of
the program (never inside the program): name, start, end, parent span and
run id, held in memory and written as JSON when the run ends. Every span
also tags the Spark jobs its body starts (``SparkContext.setJobGroup``),
so the event-log reduction in :mod:`perfbench.layers` can attribute jobs
to the call that issued them.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. With ``enabled`` false it only tags jobs,
    which untraced runs need for the eager-build report."""

    def __init__(self, run_id: str, enabled: bool, sc) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._tags: list[str] = []
        self._sc = sc

    def job_ids(self, tag: str) -> list[int]:
        """Spark jobs started under ``tag`` (the job group of a span)."""
        return list(self._sc.statusTracker().getJobIdsForGroup(tag))

    @contextmanager
    def span(self, name: str, tag: str | None = None, **attrs):
        """Time ``name``; when ``tag`` is given, jobs started in the body
        carry it as their job group."""
        rec = None
        if self.enabled:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "run": self.run_id,
                "tag": tag,
                "start": time.perf_counter(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
            self._stack.append(rec["id"])
        if tag is not None:
            self._tags.append(tag)
            self._sc.setJobGroup(tag, name)
        try:
            yield rec
        finally:
            if tag is not None:
                self._tags.pop()
                if self._tags:
                    self._sc.setJobGroup(self._tags[-1], name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
            if rec is not None:
                rec["end"] = time.perf_counter()
                self._stack.pop()

    def coverage(self, wall_start: float, wall_end: float) -> float:
        """Share of [wall_start, wall_end] covered by top-level spans."""
        covered = 0.0
        for s in self.spans:
            if s["parent"] is None and s["end"] is not None:
                lo, hi = max(s["start"], wall_start), min(s["end"], wall_end)
                covered += max(0.0, hi - lo)
        return covered / max(wall_end - wall_start, 1e-9)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f, indent=0)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def tree_rss_bytes(pid: int) -> int:
    """Summed resident set of ``pid`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in _descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


def live_descendants(pid: int) -> list[int]:
    return [p for p in _descendants(pid) if p != pid]


class RssSampler:
    """Samples the process tree's summed RSS on a background thread and
    keeps the peak (driver + JVM + Python workers)."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._window = 0  # peak since the last take()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(pid)
            self.peak = max(self.peak, rss)
            self._window = max(self._window, rss)
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def take(self) -> float:
        """Peak in MB since the last call (or the start), sampled once more
        now; the next window starts here."""
        rss = tree_rss_bytes(os.getpid())
        out = max(self._window, rss)
        self._window = rss
        self.peak = max(self.peak, rss)
        return out / 1e6

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak / 1e6
