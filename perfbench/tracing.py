"""In-memory spans, self times, and a resident-memory sampler.

A span is (name, start, end, parent) plus the id of the operation it
belongs to.  Spans are recorded by the benchmark around its calls into
each layer of the engine, kept in memory, and written out once at the
end of the run together with each span's self time: its duration minus
the part of its interval that its child spans cover.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Iterator


@dataclass
class Span:
    span_id: int
    name: str
    op_id: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the time its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records spans when enabled; a disabled tracer only yields."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None:
            op_id = parent.op_id if parent else ""
        s = Span(len(self.spans), name, op_id, parent.span_id if parent else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def export(self) -> list[dict]:
        st = self_times(self.spans)
        return [dict(asdict(s), self_s=st[s.span_id]) for s in self.spans]


def rss_mb(pid: int) -> float:
    """Current resident set of ``pid`` in MiB (0 if it has exited)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def settled_rss_mb(pids: list[int], interval_s: float = 0.05, quiet_s: float = 0.25,
                   timeout_s: float = 5.0) -> float:
    """Summed resident set of ``pids`` once it has stopped falling for
    ``quiet_s``.  After a full collection the JVM returns the heap it no
    longer needs on a background thread that starts 0.1 s later and
    takes about half a second for 2.5 GiB."""
    last = sum(rss_mb(p) for p in pids)
    now = time.perf_counter()
    quiet_from, deadline = now, now + timeout_s
    while now - quiet_from < quiet_s and now < deadline:
        time.sleep(interval_s)
        cur = sum(rss_mb(p) for p in pids)
        now = time.perf_counter()
        if cur < last - 1.0:  # still falling (by more than a MiB)
            quiet_from = now
        last = cur
    return last


def child_pids(pid: int) -> list[int]:
    """Direct children of ``pid``."""
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out += [int(p) for p in fh.read().split()]
        except FileNotFoundError:
            continue
    return out


class PeakRss:
    """Samples the summed resident set of ``pids`` on a thread until
    stopped; ``peak_mb`` is the highest sum seen."""

    def __init__(self, pids: list[int], interval_s: float = 0.05) -> None:
        self.pids = pids
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, sum(rss_mb(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
