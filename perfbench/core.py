"""Measurement helpers shared by the workloads.

Pure Python, no Spark: percentiles with the ten-samples-beyond rule,
write/space amplification arithmetic, span self times, job-interval
arithmetic for driver time, and peak RSS from ``/proc``. The unit
tests in ``perfbench/tests`` cover these without starting a session.
"""

from __future__ import annotations

import io
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MIN_BEYOND = 10  # a percentile is reported only with this many samples past it


# -- percentiles --------------------------------------------------------


def nearest_rank(samples: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` of the samples at or below it."""
    s = sorted(samples)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie past the nearest-rank ``q`` one."""
    return n - max(0, math.ceil(q * n) - 1) - 1


def reportable_percentile(samples: list[float], q: float) -> float | None:
    """The ``q`` percentile, or None when fewer than MIN_BEYOND samples
    lie beyond it (a tail read from a handful of samples jumps
    from run to run). The median is reported from any non-empty set."""
    if not samples:
        return None
    if q == 0.5:
        return statistics.median(samples)
    if samples_beyond(len(samples), q) < MIN_BEYOND:
        return None
    return nearest_rank(samples, q)


# -- amplification ------------------------------------------------------


def parquet_bytes(table) -> int:
    """Bytes of a pyarrow table written once as Parquet (snappy, the
    writer defaults): the denominator of both amplification ratios."""
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getbuffer().nbytes


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every regular file under ``root``."""
    out: dict[str, tuple[int, int]] = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed mid-walk
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(
    before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]
) -> int:
    """Bytes of files that appeared, or were rewritten, between two
    ``tree_files`` snapshots."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def tree_bytes(snapshot: dict[str, tuple[int, int]]) -> int:
    return sum(sz for sz, _ in snapshot.values())


def amplification(store_bytes: int, logical_bytes: int) -> float:
    """Store bytes per byte of the same rows written once as Parquet."""
    if logical_bytes <= 0:
        raise ValueError("amplification needs a positive logical size")
    return store_bytes / logical_bytes


# -- spans --------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: int
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that its direct
    children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.wall - union_length(clipped(kids.get(s.id, []), s.start, s.end))
        for s in spans
    }


def driver_time(span: Span, job_intervals: list[tuple[float, float]]) -> float:
    """Wall time of ``span`` not covered by any of its jobs' run
    intervals: py4j calls, plan building and driver-side planning."""
    return span.wall - union_length(clipped(job_intervals, span.start, span.end))


def group_id(span_id: int) -> str:
    """The Spark job group a span's jobs are tagged with."""
    return f"pb{span_id}"


class Tracer:
    """Spans kept in memory. Disabled, ``span`` costs one branch.

    ``tag`` (optional) is called with a span's group id on entry and
    with the enclosing span's id (or None) on exit, so Spark jobs can
    be attributed to the innermost span (``setJobGroup``). ``inner_cost``
    is the time the tracer itself spent in spans that have a parent:
    that time sits inside the enclosing op's measured latency."""

    def __init__(self, enabled: bool, tag=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._tag = tag
        self._op = -1
        self.inner_cost = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op += 1
        s = Span(len(self.spans), parent, name, self._op, 0.0)
        self.spans.append(s)
        self._stack.append(s.id)
        if self._tag:
            self._tag(group_id(s.id))
        s.start = time.perf_counter()
        entry = s.start - t_in
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._tag:
                self._tag(group_id(self._stack[-1]) if self._stack else None)
            if parent is not None:
                self.inner_cost += entry + time.perf_counter() - s.end


def span_calls(spans: list[Span], jobs: dict[str, list[dict]]) -> dict[str, list[dict]]:
    """Per span name, one row per call: self and wall ms, the jobs
    tagged with the span's group, their union run time (exec), the
    rest of the wall (driver), and input plus shuffle-read bytes."""
    selfs = self_times(spans)
    out: dict[str, list[dict]] = {}
    for s in spans:
        js = jobs.get(group_id(s.id), [])
        iv = [(j["start"], j["end"]) for j in js]
        out.setdefault(s.name, []).append({
            "self_ms": selfs[s.id] * 1e3,
            "wall_ms": s.wall * 1e3,
            "jobs": len(js),
            "exec_ms": union_length(clipped(iv, s.start, s.end)) * 1e3,
            "driver_ms": driver_time(s, iv) * 1e3,
            "bytes": sum(j["input"] + j["shuffle_read"] for j in js),
        })
    return out


def medians(rows: list[dict]) -> dict:
    return {"calls": len(rows), **{k: statistics.median(r[k] for r in rows) for k in rows[0]}}


# -- memory -------------------------------------------------------------


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of one process, 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    return sum(vm_hwm_kb(p) for p in pids) / 1024.0


@dataclass
class Samples:
    """Per-class op latencies (seconds) of one measured window."""

    by_class: dict[str, list[float]] = field(default_factory=dict)
    by_kind: dict[str, list[float]] = field(default_factory=dict)

    def add(self, cls: str, kind: str, seconds: float) -> None:
        self.by_class.setdefault(cls, []).append(seconds)
        self.by_kind.setdefault(kind, []).append(seconds)

    def all(self) -> list[float]:
        return [x for v in self.by_class.values() for x in v]

    def of(self, *classes: str) -> list[float]:
        return [x for c in classes for x in self.by_class.get(c, [])]
