"""Tiny end-to-end runs of every workload on the smoke-scale instance
(sf0.001-sized tables): the run must exit 0, print the contract line last,
check every output, and report every metric it promises."""

import json
import os
import subprocess
import sys

import pytest

import layers
import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
        "--seconds", "1", "--trace", str(trace), "--scale", "smoke",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_smoke_run(workload):
    line = _run(workload, trace=0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    assert set(line["metrics"]) == {n for n, *_ in layers.END_TO_END}
    assert all(m["value"] > 0 for m in line["metrics"].values())


def test_smoke_traced_viewer_reports_every_layer_metric():
    line = _run("viewer", trace=1)
    assert line["correct"] is True
    assert set(line["metrics"]) == {n for n, *_ in layers.PER_LAYER}
    for name in ("container.load_s", "dialect.rewrite_s", "sort.apply_s", "writers.save_s"):
        assert line["metrics"][name]["value"] > 0, name
