"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

Each workload runs end to end at tiny size, untraced and traced, and
must print every metric BENCHMARK.json names with its unit; a perturbed
output must fail the oracle gate; a directory without the package must
be refused.  The Spark runs take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness, oracle, tracing  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, *SPEC["command"][1:], *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _result(p: subprocess.CompletedProcess) -> dict:
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    r = _result(p)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == \
        {k: v["unit"] for k, v in r["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in r["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_perturbed_output_fails_the_gate(workload):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", "0", "--tiny", "--perturb")
    assert p.returncode == 1, p.stderr[-3000:]
    r = _result(p)
    assert r["correct"] is False and r["failed"] >= 1
    assert "MISMATCH" in p.stderr


def test_refuses_a_directory_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for d in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, d), tmp_path / d,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# ------------------------------------------------------------ pure parts

def test_compare_frames_ignores_row_order_and_catches_a_cell():
    a = pd.DataFrame({"id": [1, 2, 3], "x": [0.5, 1.5, 2.5], "s": ["a", "b", "c"]})
    b = a.iloc[::-1].reset_index(drop=True)
    assert oracle.compare_frames(a, b) is None
    assert oracle.compare_frames(oracle.perturb(a), b) is not None
    assert oracle.compare_frames(a.iloc[:2], b) is not None


def test_self_time_subtracts_children():
    tr = tracing.Tracer(True)
    with tr.span("job", req=0):
        with tr.span("child"):
            pass
    spans = {s["name"]: s for s in tr.spans}
    job, child = spans["job"], spans["child"]
    assert child["parent"] == tr.spans.index(job) and child["req"] == 0
    st = tr.self_times()
    assert st["job"] == pytest.approx((job["end"] - job["start"])
                                      - (child["end"] - child["start"]))
    assert st["child"] == pytest.approx(child["end"] - child["start"])


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer(False)
    with tr.span("job", req=0):
        tr.count("x")
    assert tr.spans == [] and not tr.counters


def test_closed_loop_runs_every_op_once():
    seen = []
    ops, elapsed = harness.closed_loop(
        lambda i: seen.append(i) or harness.Op(i, "k", rows=1), 3, 10)
    assert sorted(seen) == list(range(10))
    assert [o.index for o in ops] == list(range(10)) and elapsed > 0


def test_harrell_davis_quantile():
    assert harness.quantile([5.0], 0.9) == pytest.approx(5.0)
    # symmetric samples: the median estimate is the centre
    assert harness.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == pytest.approx(3.0)
    xs = [float(v) for v in range(1001)]
    assert harness.quantile(xs, 0.9) == pytest.approx(900.0, abs=0.5)
    # the incomplete beta function against closed forms
    assert harness._betai(2.0, 3.0, 0.4) == pytest.approx(
        1 - (1 - 0.4) ** 4 - 4 * 0.4 * (1 - 0.4) ** 3)
    assert harness._betai(7.5, 7.5, 0.5) == pytest.approx(0.5)
