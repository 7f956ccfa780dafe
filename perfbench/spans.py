"""In-memory span recorder and a /proc RSS sampler for the benchmark.

Both live in the benchmark so the program under test carries no tracing
code: spans are recorded around the calls the benchmark makes into each
layer's public functions.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    run_id: str


class SpanRecorder:
    """Keeps spans in memory; ``write`` dumps them once at exit.

    A disabled recorder records nothing, so the untraced runs pay one
    attribute check per span.
    """

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span_id = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, time.perf_counter(), 0.0, span_id, parent, self.run_id)
        self.spans.append(rec)
        self._stack.append(span_id)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def add(self, name: str, start: float, end: float) -> None:
        """Record a finished span under the open one, e.g. for work that
        ran on another thread."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                Span(name, start, end, len(self.spans), parent, self.run_id)
            )

    @contextmanager
    def paused(self):
        """Record nothing inside this block."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name.

    A span's self time is its duration minus the part of its interval that
    its direct children cover (overlapping children are merged first, so
    concurrent children are not subtracted twice).
    """
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children[s.span_id], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.name] += (s.end - s.start) - covered
    return dict(out)


def _descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # process ended between listdir and open
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = set(), [root]
    while todo:
        for c in children[todo.pop()]:
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def python_worker_rss_bytes() -> int:
    """Summed RSS of the PySpark Python daemon and its forked workers that
    descend from this process."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


SAMPLE_INTERVAL_S = 0.2


class RssSampler:
    """Samples the Python workers' summed RSS every SAMPLE_INTERVAL_S on a
    thread while active."""

    def __init__(self):
        self.peak_bytes = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.wait(SAMPLE_INTERVAL_S) and not self._stop.is_set():
                self.peak_bytes = max(self.peak_bytes, python_worker_rss_bytes())
                self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=5)

    @contextmanager
    def sampling(self):
        """Sample only inside this block (the timed part of a run)."""
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
