"""Unit tests for the bench ambient-certification probes (no Spark)."""

from __future__ import annotations

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_ambient import (  # noqa: E402
    CALIB_EFF_DIRTY,
    STEAL_PCT_DIRTY,
    bracket_verdict,
    read_cpu_ticks,
    spin_calibration,
    steal_pct,
)


def test_cpu_ticks_monotone_and_steal_pct_bounds():
    a = read_cpu_ticks()
    # burn a little CPU so total ticks advance
    x = 0
    for i in range(2_000_000):
        x += i & 3
    b = read_cpu_ticks()
    assert b[1] > a[1] >= 0
    assert b[0] >= a[0] >= 0
    p = steal_pct(a, b)
    assert 0.0 <= p <= 100.0
    assert steal_pct(a, a) == 0.0  # degenerate interval


def test_spin_calibration_shape():
    c = spin_calibration(2, n=1_000_000)
    assert c["n_procs"] == 2
    assert c["t1_s"] > 0 and c["tN_s"] > 0
    # efficiency is t1/tN, ~1 on an idle box — but its VALUE is
    # ambient-dependent by design (a co-tenant burst during the
    # single-proc leg inflates t1, and this host hits multi-hour
    # steal storms — BENCH/BASELINE.md ambient log; a 1.5 cap here
    # failed once mid-storm in round 5). Only shape-check it: the
    # 10x ceiling and the 0.1 floor catch unit mistakes and a flipped
    # t1/tN ratio, not ambient weather.
    assert 0.1 < c["efficiency"] <= 10.0


def test_bracket_verdict_thresholds():
    assert bracket_verdict(0.0, 1.0)
    assert bracket_verdict(STEAL_PCT_DIRTY, CALIB_EFF_DIRTY)
    assert not bracket_verdict(STEAL_PCT_DIRTY + 0.01, 1.0)
    assert not bracket_verdict(0.0, CALIB_EFF_DIRTY - 0.01)
