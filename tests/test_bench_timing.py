"""``bench.timed_best``: the steal gate decides re-runs, not the result."""

from __future__ import annotations

import time

import bench


def test_timed_best_returns_fastest_sample_even_when_dirty(monkeypatch):
    """A slow first trial in a clean window must not beat faster trials
    whose windows were gated dirty: steal only ever adds time."""
    # (total, steal) jiffies read before and after each trial: the first
    # window has no steal, every later one 50%
    reads = iter([(0, 0), (100, 0), (100, 0), (200, 50), (200, 50), (300, 100), (300, 100), (400, 150)])
    monkeypatch.setattr(bench, "_cpu_jiffies", lambda: next(reads))
    sleeps = iter([0.2, 0.01, 0.01, 0.01])

    best, samples, clean = bench.timed_best(lambda: time.sleep(next(sleeps)), trials=2, max_attempts=4)
    assert len(samples) == 4 and clean == 1
    assert samples[0] >= 0.2 > max(samples[1:])
    assert best == min(samples[1:])
