"""Smoke test of the benchmark at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced with ``PERFBENCH_SCALE=tiny``
(a few minutes on four cores) and checks the printed result against
``BENCHMARK.json``: every named metric appears with its unit, outputs
check correct, traced spans nest under their operation, self times are
non-negative.  Also checks that the benchmark refuses to run without
the package beside it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 7


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env={**os.environ, "PERFBENCH_SCALE": "tiny"},
        capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    record = json.loads(
        (HERE / ".out" / f"{workload}-seed{SEED}-trace{trace}.json").read_text()
    )
    return result, record


def _units(spec_key: str) -> dict:
    return {m["name"]: m["unit"] for m in SPEC[spec_key]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    res, rec = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: m["unit"] for k, m in res["metrics"].items()} == _units("end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert all(o["ok"] and "mem_bw_gbps" in o and "own_util" in o for o in rec["ops"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_writes_nested_spans_and_every_layer(workload):
    res, rec = _run(workload, 1)
    assert res["correct"]
    # the checks only a traced run makes did run
    assert "registry_rows" in rec["probes"]
    assert workload != "filter_html" or "filter_walls" in rec["probes"]
    assert {k: m["unit"] for k, m in res["metrics"].items()} == _units("per_layer")
    spans = rec["spans"]
    assert any(s["name"] == "op" for s in spans)
    for s in spans:
        assert s["end"] >= s["start"] and s["self_s"] >= -1e-9
        if s["parent"] is None:
            assert s["op"] is not None
        else:
            p = spans[s["parent"]]
            assert p["op"] == s["op"]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
    for name, m in res["metrics"].items():
        if name.endswith("_s") and name != "trace.overhead_s":
            assert m["value"] >= 0, name


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
