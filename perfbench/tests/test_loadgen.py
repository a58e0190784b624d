"""max_qps bisection and backlog detection against a synthetic
service-time model: ``servers`` FIFO servers, every tenth request a
slow page, arrivals on the open-loop schedule."""

import heapq

import pytest

from stats import Probe, backlog_grows, find_max_qps, percentile, rate_ladder

API_S, PAGE_S, SERVERS = 0.010, 0.300, 4
# capacity = servers / mean service time
CAPACITY = SERVERS / (0.9 * API_S + 0.1 * PAGE_S)


def simulate(rate: float, duration: float):
    free = [0.0] * SERVERS
    dues, starts, lats = [], [], []
    for i in range(int(rate * duration)):
        due = i / rate
        svc = PAGE_S if i % 10 == 9 else API_S
        t = max(due, heapq.heappop(free))
        heapq.heappush(free, t + svc)
        dues.append(due)
        starts.append(t)
        lats.append((t + svc - due) * 1000)
    return dues, starts, lats


def probe_fn(duration, limit, log):
    def probe(rate):
        dues, starts, lats = simulate(rate, duration)
        log.append(rate)
        return Probe(rate, len(lats), percentile(lats, 95), 0,
                     backlog_grows(dues, starts, duration, limit))
    return probe


def test_backlog_detected_only_past_capacity():
    for rate, want in [(0.5 * CAPACITY, False), (0.9 * CAPACITY, False), (1.3 * CAPACITY, True)]:
        dues, starts, _ = simulate(rate, 20.0)
        assert backlog_grows(dues, starts, 20.0, 1000.0) is want


def test_unstarted_request_is_backlog():
    assert backlog_grows([0.0, 0.1], [0.0, None], 1.0, 100.0)


def test_max_qps_lands_at_capacity():
    ladder = rate_ladder(5, 400, 1.05)
    log = []
    best, probes = find_max_qps(ladder, probe_fn(20.0, 1000.0, log), 1000.0, 12)
    assert best is not None
    # within the ladder's resolution: a rate one step past capacity
    # builds its backlog too slowly to show in one probe
    assert CAPACITY / 1.05 ** 3 <= best <= CAPACITY * 1.05
    assert len(probes) == len(log) <= 12
    assert probes[-1].rate == log[-1]


def test_tight_limit_lowers_max_qps():
    ladder = rate_ladder(5, 400, 1.05)
    loose, _ = find_max_qps(ladder, probe_fn(20.0, 1000.0, []), 1000.0, 12)
    # a p95 limit below the page service time: no rate passes
    none, _ = find_max_qps(ladder, probe_fn(20.0, 250.0, []), 250.0, 12)
    assert none is None and loose > 0


def test_rate_ladder_is_geometric():
    lad = rate_ladder(2, 10, 1.5)
    assert lad[0] == 2 and all(b / a == pytest.approx(1.5, rel=1e-5) for a, b in zip(lad, lad[1:]))
    assert lad[-1] <= 10
