"""Pure helpers of the benchmark: percentiles, span self time, the
timed pass loop and its failure accounting.

Nothing here imports Spark, so the unit tests in ``perfbench/tests``
exercise it without a session.
"""

from __future__ import annotations

import re
import sys
import time
import traceback
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

# Percentiles considered for the reported tail, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 90.0)


def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    return ordered[_rank(p, len(ordered)) - 1]


def _rank(p, n):
    # ceil(p/100 * n) in integers (p in tenths of a percent), so 99.9%
    # of 10000 is rank 9990, not 9991 by float rounding
    return max(1, -(-round(p * 10) * n // 1000))


def tail_percentile(samples, min_beyond=10):
    """The highest of ``TAIL_CANDIDATES`` that leaves at least
    ``min_beyond`` samples strictly above its rank, as ``(p, value)``;
    ``None`` when even p90 has fewer (fewer than 100 samples)."""
    n = len(samples)
    for p in TAIL_CANDIDATES:
        if n - _rank(p, n) >= min_beyond:
            return p, percentile(samples, p)
    return None


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of ``intervals``
    (pairs of start, end), so overlapping intervals count once."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(children, start, end)


@dataclass
class OpResult:
    key: tuple
    seconds: float
    value: object = None
    error: str | None = None


@dataclass
class PassLog:
    """Results of the timed passes, in order."""

    passes: list = field(default_factory=list)  # list[list[OpResult]]

    @property
    def results(self):
        return [r for p in self.passes for r in p]

    @property
    def walls(self):
        """Seconds per pass: the sum of its ops' latencies (one client in
        a closed loop, so nothing else runs between them)."""
        return [sum(r.seconds for r in p) for p in self.passes]

    def latencies_ms(self):
        return [r.seconds * 1000.0 for r in self.results]


def run_pass(ops, clock=time.perf_counter):
    """Run ``ops`` (pairs of key, zero-argument callable) in order, each
    once. An op that raises is recorded as failed and the pass goes on."""
    out = []
    for key, fn in ops:
        t0 = clock()
        try:
            value, error = fn(), None
        except Exception:  # one failed op must not end the run
            value, error = None, traceback.format_exc()
        out.append(OpResult(key, clock() - t0, value, error))
        if error is not None:
            print(f"op {key} failed:\n{error}", file=sys.stderr)
    return out


def run_passes(make_pass, n):
    """Run ``n`` passes; ``make_pass(k)`` returns pass k's ops, and
    building them is not timed."""
    log = PassLog()
    for k in range(n):
        log.passes.append(run_pass(make_pass(k)))
    return log


def account(results, check):
    """``(attempted, failed results)``: an op fails when it raised or
    when ``check(result)`` says its output is wrong."""
    return len(results), [r for r in results if r.error is not None or not check(r)]
