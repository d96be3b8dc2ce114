"""Smoke test of the benchmark at a tiny N.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload once through the command line and checks the result
line against BENCHMARK.json: every metric present, each with its unit.
Also checks that a sabotaged probe fails its output checks and that the
benchmark refuses to run without the library beside it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAGES = "4000"

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload, trace=0, *extra, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--pages", PAGES, *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300)


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    return res


def _assert_metrics(res, spec):
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_end_to_end(workload):
    res = _result(_run(workload))
    assert res["correct"] and res["failed"] == 0
    _assert_metrics(res, SPEC["end_to_end"])


def test_traced_run_reports_every_layer():
    res = _result(_run("host_rollup", 1))
    assert res["correct"] and res["failed"] == 0
    _assert_metrics(res, SPEC["per_layer"])
    table = os.path.join(ROOT, ".perfbench", "results",
                         "host_rollup-seed3-trace1.txt")
    with open(table) as fh:
        text = fh.read()
    for section in ("pages_ingest", "seen_before_probe", "host_rollup",
                    "spark", "kernels"):
        assert f"== {section}\n" in text


def test_sabotaged_probe_fails_its_checks():
    # a Bloom queried with a foreign hash seed shows false negatives
    res = _result(_run("seen_before_probe", 0, "--sabotage"))
    assert not res["correct"]
    assert res["failed"] == res["attempted"]


def test_refuses_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("pages_ingest", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
