"""Bypass sanity check of the benchmark's layer attribution.

Checks that layers.json describes the workloads that run, then runs
each workload once, traced, and checks that every per-layer metric is
reported and that the layers a workload bypasses read zero there.
Takes about three minutes on four cores:

    python3 -m pytest perfbench/test_bypass.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
with open(os.path.join(HERE, "layers.json")) as _fh:
    LAYERS = json.load(_fh)

sys.path[:0] = [HERE, ROOT]
import workloads  # noqa: E402


def test_layers_json_describes_what_runs():
    names = [w["name"] for w in SPEC["workloads"]]
    assert names == list(LAYERS["workloads"]) and set(names) == set(workloads.WORKLOADS)
    desc = LAYERS["workloads"]
    assert tuple(desc["sql_tpch"]["excluded"]) == workloads.SQL_EXCLUDED
    parts = desc["curation_ingest"]["parts"]
    assert tuple(parts["curation"]["operations"]) == workloads.CURATION
    for const in ("BATCHES_PER_PASS", "COMPACT_EVERY", "BATCH_ROWS", "PROBES_PER_BATCH"):
        assert hasattr(workloads.IngestProbe, const) and const in parts["ingest"]["loop"]
    reported = {m["name"] for m in SPEC["per_layer"]}
    for p in LAYERS["predictions"]:
        assert set(p["layer_metrics"]) <= reported
        assert set(p["on"]) | set(p.get("zero_on", [])) <= set(names)


@pytest.fixture(scope="module")
def traced():
    runs = {}
    for w in SPEC["workloads"]:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", w["name"],
             "--seed", "7", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
        ).stdout.strip().splitlines()[-1]
        runs[w["name"]] = json.loads(out)
    return runs


def test_every_per_layer_metric_is_reported(traced):
    names = {m["name"] for m in SPEC["per_layer"]}
    for run in traced.values():
        assert run["correct"] and run["failed"] == 0
        assert set(run["metrics"]) == names


def test_bypassed_layers_read_zero(traced):
    sql = traced["sql_tpch"]["metrics"]
    for name in ("queries.build_jobs", "operators.python_bytes_sent",
                 "sources.bytes_written"):
        assert sql[name]["value"] == 0, name
    assert traced["curation_ingest"]["metrics"]["plans.translate_calls"]["value"] == 0
    for p in LAYERS["predictions"]:
        for w in p.get("zero_on", []):
            for name in p["layer_metrics"]:
                if name.endswith(("_calls", "_jobs", "_nodes", "_bytes_sent",
                                  "_received", "_written")):
                    assert traced[w]["metrics"][name]["value"] == 0, (w, name)


def test_exercised_layers_are_nonzero(traced):
    for p in LAYERS["predictions"]:
        for w in p["on"]:
            assert any(traced[w]["metrics"][name]["value"] > 0
                       for name in p["layer_metrics"]), (w, p["layer_metrics"])
