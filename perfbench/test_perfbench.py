"""The benchmark's own checks.

    python3 -m pytest perfbench -q

Fast checks run always. The smoke runs start Spark once per workload
and trace setting (about four minutes on 4 cores); they shrink every
input (a 0.001-scale analytics corpus, 40 accounts) and assert the
result contract, the metric names and units against ``BENCHMARK.json``,
and that traced spans reconcile with wall time.
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
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from harness import Tracer  # noqa: E402
from metrics import END_TO_END, PER_LAYER, RECONCILE_TOLERANCE  # noqa: E402

WORKLOADS = ("oltp_accounts", "analytics_battery")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_declares_what_the_benchmark_emits():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_inputs_repeat_for_a_seed():
    a, model_a = datagen.account_history(7, 20, 10)
    b, model_b = datagen.account_history(7, 20, 10)
    c, _ = datagen.account_history(8, 20, 10)
    assert a.equals(b) and model_a == model_b
    assert not a.equals(c)
    assert all(bal >= 0 for bal, _v in model_a.values())


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("outer", op=1):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == 0 and inner["op"] == 1
    st = t.self_times()
    assert st["outer"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))
    assert Tracer(False).spans == []


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", "oltp_accounts",
           "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _run(workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "2", "--trace", str(trace), "--scale", "smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    assert lines[-2].startswith("perfbench-info ")
    return json.loads(lines[-1]), p.stderr[-4000:]


def _check_contract(res, stderr, declared):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, stderr
    units = {m["name"]: m["unit"] for m in declared}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_untraced(workload):
    res, stderr = _run(workload, 0)
    _check_contract(res, stderr, _bench()["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced_reconciles(workload):
    res, stderr = _run(workload, 1)
    _check_contract(res, stderr, _bench()["per_layer"])
    ratio = res["metrics"]["trace.reconcile_ratio"]["value"]
    assert 1 - RECONCILE_TOLERANCE <= ratio <= 1 + 1e-6
    assert res["metrics"]["sparklog.jobs"]["value"] > 0
