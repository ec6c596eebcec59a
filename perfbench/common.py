"""Helpers the workloads share: result comparison and per-op bookkeeping."""

from __future__ import annotations

import math
import statistics
import time
from datetime import date, datetime

# the registry entries the curation workload runs, in pass order
CURATION_ENTRIES = ("text_stats", "gopher_flags", "exact_dedup",
                    "minhash_lsh_pairs", "dedup_clusters", "dedup_keep_best",
                    "bloom_decontaminate", "bm25_topk")


def _norm(v):
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):  # Spark Rows are tuples
        return tuple(_norm(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _close(a, b, rel: float) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool):
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12 if rel else 0.0)
    return a == b


def rows_match(got, want, rel: float = 1e-9) -> str | None:
    """Order-insensitive compare of two row lists (floats to ``rel``);
    returns None when they match, else a short reason."""
    g = sorted((_norm(tuple(r)) for r in got), key=repr)
    w = sorted((_norm(tuple(r)) for r in want), key=repr)
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    for a, b in zip(g, w):
        if not _close(a, b, rel):
            return f"row {a!r} != {b!r}"
    return None


class Ops:
    """Latency, failure and trace-overhead bookkeeping for a timed loop.

    A failed operation is charged the whole run length as its latency, so a
    failure counts as missing any latency limit."""

    def __init__(self, seconds: int):
        self.seconds = seconds
        self.latencies: list[float] = []
        self.failures: list[str] = []
        self.attempted = 0
        self._by_traced: dict[tuple[str, bool], list[float]] = {}

    def record(self, kind: str, latency: float, traced: bool, error: str | None = None):
        self.attempted += 1
        if error is not None:
            self.failures.append(f"{kind}: {error}")
            latency = max(latency, float(self.seconds))
        self.latencies.append(latency)
        self._by_traced.setdefault((kind, traced), []).append(latency)

    def fail(self, what: str, reason: str) -> None:
        """A wrong result found by a check after the timed window."""
        self.failures.append(f"{what}: {reason}")

    def trace_overhead_s(self) -> float:
        """Mean traced minus mean untraced latency, per op kind, weighted by
        how often each kind ran; the traced run alternates the two."""
        num = den = 0.0
        for kind in {k for k, _ in self._by_traced}:
            on, off = self._by_traced.get((kind, True)), self._by_traced.get((kind, False))
            if on and off:
                w = len(on) + len(off)
                num += w * (statistics.fmean(on) - statistics.fmean(off))
                den += w
        return num / den if den else 0.0

    def result(self, items: float, busy_s: float) -> dict:
        return {"latencies": self.latencies, "failures": self.failures,
                "attempted": self.attempted, "items": items, "busy_s": busy_s}


class Deadline:
    """Closed loops run in whole units (a request cycle, an upload pass, a
    pipeline pass) so every run measures the same mix; another unit starts
    only while a whole one, as long as the last, still fits, and at least
    ``min_units`` run. A traced run alternates traced and untraced units,
    so it runs at least two."""

    def __init__(self, seconds: float, min_units: int):
        self.end = time.perf_counter() + seconds
        self.min_units = min_units
        self.units = 0

    def another(self, unit_s: float) -> bool:
        self.units += 1
        return (self.units <= self.min_units
                or self.end - time.perf_counter() > unit_s)
