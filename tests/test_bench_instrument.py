"""Pins bench.py's pure helpers: the recorded machine load, the shared
median/IQR rule, and the choice of the heavy median-of-3 tier."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench


def test_machine_load_recorded():
    # The artifact must carry 1/5/15-min loadavg + CPU count so
    # noise-vs-regression adjudication is data, not prose.  The loadavg
    # keys are asserted only where the platform provides them —
    # _machine_load deliberately omits them when os.getloadavg is absent
    # or raises (the test must not encode a stricter contract than the
    # helper).
    load = bench._machine_load()
    assert load["cpu_count"] == os.cpu_count() and load["cpu_count"] > 0
    try:
        os.getloadavg()
        have_loadavg = True
    except (AttributeError, OSError):
        have_loadavg = False
    if have_loadavg:
        for key in ("loadavg_1m", "loadavg_5m", "loadavg_15m"):
            assert key in load and load[key] >= 0.0


def test_heaviest_excludes_gated_and_caps():
    # The heavy tier comes from this run's own one-shot timings: gated
    # (headline/family) names are already median-of-REPS and never
    # chosen, the slowest come first, and at most N_HEAVY_MEDIAN3.
    first_shot = {"a": 3.0, "b": 1.0, "hl": 9.0, "c": 2.0}
    assert bench._heaviest(first_shot, {"hl"}) == ["a", "c", "b"]
    assert bench._heaviest({}, {"hl"}) == []
    many = {f"q{i:02d}": float(i) for i in range(bench.N_HEAVY_MEDIAN3 + 5)}
    got = bench._heaviest(many, set())
    assert len(got) == bench.N_HEAVY_MEDIAN3
    assert got[0] == "q%02d" % (bench.N_HEAVY_MEDIAN3 + 4)


def test_median_iqr():
    # bench, opt_probe and the heavy tier share one rule: median of the
    # samples, IQR only from three samples up.
    assert bench._median_iqr([2.0]) == (2.0, 0.0)
    assert bench._median_iqr([3.0, 1.0]) == (2.0, 0.0)
    med, iqr = bench._median_iqr([5.0, 1.0, 3.0, 2.0, 4.0])
    assert med == 3.0 and iqr == 3.0
