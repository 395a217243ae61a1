"""Pure arithmetic for the benchmark: percentiles, span self time,
outcome counting. No Spark here, so the tests run without a JVM."""

from __future__ import annotations

import math
import statistics
import threading
from dataclasses import dataclass, field

# A percentile is only reported when at least this many samples lie
# beyond it; fewer make the tail one or two unlucky calls.
MIN_TAIL_SAMPLES = 10


def supports_percentile(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least MIN_TAIL_SAMPLES above
    the ``p``-th percentile (``p`` in 0..100)."""
    return n * (100.0 - p) / 100.0 >= MIN_TAIL_SAMPLES


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p%
    of the samples at or below it. Raises ValueError when the sample
    count does not support ``p`` under the tail rule."""
    if not supports_percentile(len(values), p):
        raise ValueError(
            f"{len(values)} samples cannot support p{p:g}: "
            f"need {MIN_TAIL_SAMPLES} beyond it"
        )
    ordered = sorted(values)
    rank = max(math.ceil(p / 100.0 * len(ordered)), 1)
    return ordered[rank - 1]


def host_scale(ref_s: list[float], unit_s: float) -> float:
    """Factor that turns seconds measured next to reference jobs taking
    ``ref_s`` into seconds on a host where one takes ``unit_s``. The
    reference jobs ran interleaved with the measured work, so their
    median tracks the host's speed over the same stretch of time, and a
    burst of load during one or two of them moves it little."""
    return unit_s / statistics.median(ref_s)


@dataclass
class Span:
    """One timed call into a layer. ``parent`` is the id of the span
    that caused it (0 for a root); spans of one operation share
    ``op``."""

    sid: int
    parent: int
    op: str
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    counted once, and a child running past its parent is clipped)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent)
        if p is not None:
            children.setdefault(p.sid, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return {
        s.sid: s.duration
        - _covered([iv for iv in children.get(s.sid, []) if iv[1] > iv[0]])
        for s in spans
    }


@dataclass
class Outcomes:
    """Counts attempted and failed operations. An operation fails when
    it raises or when its result is checked and found wrong."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, label: str, ok: bool, detail: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"{label}: {detail}" if detail else label)


def verdict(oracle: str | None, df, cursor, compare) -> tuple[bool, str]:
    """Judge one query result: against its DuckDB oracle SQL through
    ``compare`` when it has one, else it must return rows."""
    if oracle is None:
        return df.count() > 0, "no rows"
    report = compare(df, cursor, oracle)
    return oracle_ok(report), f"rowcount {report.get('rowcount')}"


def oracle_ok(report: dict) -> bool:
    """A DuckDB comparison passes only when row count, column names
    and the value multiset all agree."""
    return bool(
        report.get("rowcount_ok")
        and report.get("cols_ok")
        and report.get("values_ok")
    )
