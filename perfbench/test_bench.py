"""The benchmark's own test: one untraced and two traced runs per workload
at sf0.001 (four to five minutes on 4 cores).

    python -m pytest perfbench/test_bench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import EXACT, PER_LAYER, WORKLOADS  # noqa: E402

sys.path.insert(0, ROOT)
from flod_spark.io import DEFAULT_SF_DIR  # noqa: E402

SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.001")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def run(workload: str, trace: int, seconds: float) -> tuple[dict, dict]:
    """Run the benchmark; return its result line and its detail file."""
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", "0",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed0-trace{trace}.json")) as f:
        return result, json.load(f)


def test_spec_matches_workloads():
    assert [(w["name"], w["why"]) for w in SPEC["workloads"]] == [
        (n, w["why"]) for n, w in WORKLOADS.items()
    ]
    assert [m["name"] for m in SPEC["per_layer"]] == list(PER_LAYER)
    for m in SPEC["per_layer"]:
        assert (m["unit"], m["better"]) == PER_LAYER[m["name"]][:2]
    assert set(EXACT) <= set(PER_LAYER)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_untraced_run(workload):
    result, _ = run(workload, trace=0, seconds=0)
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert result["metrics"]["ok_frac"]["value"] == 1.0
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert result["metrics"][m["name"]]["value"] > 0


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_run(workload):
    result, detail = run(workload, trace=1, seconds=0)
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(PER_LAYER)
    for name, (unit, _, _) in PER_LAYER.items():
        assert result["metrics"][name]["unit"] == unit

    # A second run's pass repeats every exact counter. Comparing passes of
    # two runs, not of one, keeps the test independent of host speed.
    _, again = run(workload, trace=1, seconds=0)
    first, second = detail["layer_passes"][0], again["layer_passes"][0]
    for name in EXACT:
        assert first[name] == second[name], (name, first[name], second[name])

    # Each key's spans nest inside its build: replay and drain leave a
    # non-negative self time, and build plus action is the key's wall.
    for p in detail["passes"]:
        for r in p:
            inner = [
                e["end"] - e["start"]
                for e in detail["spans"]
                if r["start"] <= e["start"] < r["end"]
            ]
            assert sum(inner) <= r["build_s"] + 0.05, (r["key"], inner, r["build_s"])
            assert r["build_s"] + r["action_s"] <= r["end"] - r["start"] + 0.05
    assert result["metrics"]["replay.calls"]["value"] > 0
    assert result["metrics"]["trigger.count"]["value"] > 0
