"""The host-normalized budget rule (bench.py::budget_breaches): a
loaded bench host stretches budgets by the measured probe ratio
(clamped to [1, 3]); a fast host never tightens them below their face
value; metadata keys are never treated as budgets. This is the logic
that decides the driver-visible breach count, so it gets a unit pin
(the r08 text_bpe_train breach was manufactured purely by host load)."""

from __future__ import annotations

import bench


BUDGETS = {
    "_comment": "doc",
    "_probe_reference_sec": 1.6,
    "q_fast": 1.0,
    "q_slow": 2.0,
}


def test_calibrated_host_applies_face_value_budgets():
    names, factor = bench.budget_breaches(
        BUDGETS, {"q_fast": 1.05, "q_slow": 1.9}, probe_sec=1.6
    )
    assert factor == 1.0
    assert names == ["q_fast"]


def test_loaded_host_stretches_budgets_proportionally():
    # probe 2x reference → factor 2 → 1.9s fits a 1.0s budget
    names, factor = bench.budget_breaches(
        BUDGETS, {"q_fast": 1.9, "q_slow": 4.1}, probe_sec=3.2
    )
    assert factor == 2.0
    assert names == ["q_slow"]


def test_fast_host_never_tightens_below_face_value():
    names, factor = bench.budget_breaches(
        BUDGETS, {"q_fast": 0.9, "q_slow": 1.9}, probe_sec=0.4
    )
    assert factor == 1.0  # clamped up: a fast host can't hide slack
    assert names == []


def test_factor_clamped_at_3x():
    names, factor = bench.budget_breaches(
        BUDGETS, {"q_fast": 3.1}, probe_sec=160.0
    )
    assert factor == 3.0
    assert names == ["q_fast"]


def test_suspect_cap_reflags_breaches_at_1_5x():
    # ADVICE r09: no external-load corroboration → the caller re-runs
    # with max_factor=1.5, so a 2x probe can no longer hide a 1.9s
    # timing under a 1.0s budget
    names, factor = bench.budget_breaches(
        BUDGETS, {"q_fast": 1.9, "q_slow": 2.9}, probe_sec=3.2,
        max_factor=1.5,
    )
    assert factor == 1.5
    assert names == ["q_fast"]


def test_metadata_keys_and_missing_timings_are_ignored():
    names, factor = bench.budget_breaches(BUDGETS, {}, probe_sec=1.6)
    assert names == []
    # no reference key → factor stays 1, plain budgets still apply
    names, factor = bench.budget_breaches(
        {"q": 1.0}, {"q": 1.2}, probe_sec=99.0
    )
    assert factor == 1.0 and names == ["q"]


def test_real_budget_file_has_reference_and_only_numeric_budgets():
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(bench.__file__)))
    with open(os.path.join(os.path.dirname(os.path.abspath(bench.__file__)), "perf_budgets.json")) as f:
        budgets = json.load(f)
    assert budgets.get("_probe_reference_sec", 0) > 0
    bad = [k for k, v in budgets.items()
           if not k.startswith("_") and not isinstance(v, (int, float))]
    assert bad == []


def test_host_factor_clamps_the_probe_ratio():
    assert bench.host_factor(2.4, 1.6) == 1.5
    assert bench.host_factor(0.4, 1.6) == 1.0  # never below face value
    assert bench.host_factor(9.0, 1.0) == 3.0
    assert bench.host_factor(9.0, 1.0, max_factor=1.5) == 1.5
    assert bench.host_factor(2.4, None) == 1.0  # uncalibrated host
