"""Sample statistics, the open-loop backlog test and the ``max_qps`` search.

Pure functions with no Spark or engine dependency, so the unit tests can
drive them with a synthetic service-time model.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

# percentiles the report may use, lowest first
PERCENTILE_LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supports(n: int, q: float) -> bool:
    """True when a sample of ``n`` has at least ten values beyond the
    ``q``-th percentile."""
    return n * (100.0 - q) + 1e-9 >= MIN_BEYOND * 100.0


def highest_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ten samples beyond
    it; None when even the median is unsupported."""
    best = None
    for q in PERCENTILE_LADDER:
        if supports(n, q):
            best = q
    return best


def median(values) -> float:
    return percentile(values, 50.0)


@dataclass
class Probe:
    """Outcome of one fixed-rate open-loop probe."""

    rate: float
    n: int
    p95_ms: float
    failed: int
    backlog: bool

    def meets(self, p95_limit_ms: float) -> bool:
        return self.failed == 0 and not self.backlog and self.p95_ms <= p95_limit_ms


def backlog_grows(dues, starts, duration_s: float, limit_ms: float) -> bool:
    """Open-loop backlog test: the queue is growing when requests due in
    the last quarter of the probe waited (due -> start) longer than
    those due in the first quarter by more than half the latency limit,
    or when a request due in the probe had not started a limit after
    the probe ended (``start`` None)."""
    if not dues:
        return False
    t0 = min(dues)
    end = t0 + duration_s
    first, last = [], []
    for d, s in zip(dues, starts):
        if s is None:
            return True
        if s - end > limit_ms / 1000.0:
            return True
        if d < t0 + duration_s / 4:
            first.append(s - d)
        elif d >= t0 + 3 * duration_s / 4:
            last.append(s - d)
    if not first or not last:
        return False
    return (median(last) - median(first)) * 1000.0 > limit_ms / 2


def rate_ladder(lo: float, hi: float, step: float) -> list[float]:
    """Fixed geometric rate schedule ``lo * step**i`` up to ``hi``."""
    out, r = [], lo
    while r <= hi * (1 + 1e-9):
        out.append(round(r, 6))
        r *= step
    return out


def find_max_qps(ladder: list[float], probe, p95_limit_ms: float, max_probes: int):
    """Fixed-step bisection over ``ladder`` for the highest rate whose
    probe meets the p95 limit without a growing backlog.

    ``probe(rate) -> Probe``. Returns ``(rate or None, probes)``: the
    highest passing rung seen, or None if the lowest rung fails. The
    search assumes passing is monotone in rate; it spends at most
    ``max_probes`` probes.
    """
    lo, hi = -1, len(ladder)  # ladder[lo] passes, ladder[hi] fails
    probes = []
    while hi - lo > 1 and len(probes) < max_probes:
        mid = (lo + hi) // 2
        pr = probe(ladder[mid])
        probes.append(pr)
        if pr.meets(p95_limit_ms):
            lo = mid
        else:
            hi = mid
    return (ladder[lo] if lo >= 0 else None), probes
