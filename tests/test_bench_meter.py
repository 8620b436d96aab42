"""Unit tests for the bench measurement methodology (round-5 judge
item 1): the probe-bracketed min-of-N Meter in bench.py and its
retroactive re-tagging. These are the pieces that decide which numbers
a BENCH_r{N}.json reports, so they get the same deterministic coverage
as any operator — no Spark, no probes: PhaseState is stubbed so every
branch is exercised on fixed inputs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from bench import PHASE_FACTOR


class _FixedPhase:
    """Deterministic PhaseState stand-in: yields scripted probe values
    and tracks the rolling min exactly like the real one."""

    def __init__(self, probes, base=0.3):
        self.base = base
        self._probes = list(probes)

    def check(self, settle_sec: float = 0.0):
        p = self._probes.pop(0) if self._probes else self.base
        self.base = min(self.base, p)
        return p, p <= PHASE_FACTOR * self.base


def _meter(probes, base=0.3):
    m = bench.Meter.__new__(bench.Meter)  # skip __init__'s real probes
    m.phase = _FixedPhase(probes, base=base)
    m.deadline = float("inf")
    m.soft_deadline = None
    m.details = {}
    return m


def test_clean_attempt_wins_min(monkeypatch):
    monkeypatch.setattr(bench, "BACKOFF_SEC", 0.0)
    walls = iter([5.0, 4.0])
    m = _meter([0.3, 0.31])  # pre/post both clean
    got = m.run("x", lambda: next(walls), reps=2)
    assert got == 4.0
    d = m.details["x"]
    assert d["clean"] is True and d["all"] == [5.0, 4.0]


def test_polluted_attempt_retried_and_clean_min_preferred(monkeypatch):
    monkeypatch.setattr(bench, "BACKOFF_SEC", 0.0)
    monkeypatch.setattr(bench, "RETRIES", 2)
    # attempt 1: polluted post-probe, wall 2.0 (a lucky-fast degraded
    # number must NOT win); attempt 2: clean, wall 3.0
    walls = iter([2.0, 3.0])
    m = _meter([0.3, 5.0, 0.3, 0.31])
    got = m.run("x", lambda: next(walls), reps=1)
    assert got == 3.0  # min over CLEAN attempts only
    assert m.details["x"]["all"] == [2.0, 3.0]
    assert m.details["x"]["clean"] is True


def test_all_polluted_falls_back_to_global_min(monkeypatch):
    monkeypatch.setattr(bench, "BACKOFF_SEC", 0.0)
    monkeypatch.setattr(bench, "RETRIES", 1)
    walls = iter([9.0, 7.0])
    m = _meter([0.3, 5.0, 0.3, 4.0])  # every attempt polluted
    got = m.run("x", lambda: next(walls), reps=1)
    assert got == 7.0  # min over everything when nothing is clean
    assert m.details["x"]["clean"] is False


def test_finalize_retags_against_final_baseline(monkeypatch):
    """An entry measured early (inflated rolling base) must lose its
    optimistic clean tag once a later entry reveals the true base."""
    monkeypatch.setattr(bench, "BACKOFF_SEC", 0.0)
    # base starts at 1.0 → probes of 1.8 look clean (1.8 <= 2*1.0)
    m = _meter([1.8, 1.9, 0.3, 0.31], base=1.0)
    m.run("early", lambda: 5.0, reps=1)
    assert m.details["early"]["clean"] is True  # tag at measurement time
    m.run("late", lambda: 1.0, reps=1)  # drops the rolling base to 0.3
    out = m.finalize()
    assert out["early"]["clean"] is False  # retro-retagged: 1.8 > 2*0.3
    assert out["late"]["clean"] is True

