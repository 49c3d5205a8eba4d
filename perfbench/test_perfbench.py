"""Tests of the benchmark's own machinery; no Spark is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import churn  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert harness.tail_percentile(list(range(10))) is None
    assert harness.tail_percentile(list(range(1, 21))) == (50, 10)
    p, value = harness.tail_percentile(list(range(1, 101)))
    assert (p, value) == (90, 90)


def test_ops_counts_raising_ops_and_failed_checks():
    ops = harness.Ops(harness.Tracer(False))
    assert ops.run("a", lambda: 1, lambda r: None) == 1
    assert ops.run("a", lambda: 2, lambda r: "wrong") == 2
    assert ops.run("b", lambda: 1 / 0) is None
    assert ops.run("c", lambda: 3, lambda r: r.missing) == 3
    assert (ops.attempted, ops.failed) == (4, 3)
    assert [f["op"] for f in ops.failures] == ["a", "b", "c"]
    assert ops.failures[1]["error"].startswith("ZeroDivisionError")
    assert len(ops.samples["a"]) == 2 and "b" not in ops.samples


def test_warm_calls_are_those_of_the_rounds_after_the_cold_one():
    ops = harness.Ops(harness.Tracer(False))
    for rnd in (0, 1, 2, None):
        ops.round = rnd
        ops.run("a", lambda: None)
    assert len(ops.samples["a"]) == 4
    assert ops.warm("a") == ops.samples["a"][1:3]


def test_tracer_self_time_excludes_children_and_spans_share_the_op():
    tr = harness.Tracer(True)
    with tr.op("kind"):
        with tr.span("child"):
            time.sleep(0.02)
        time.sleep(0.01)
    tr.finish()
    root, child = tr.ops_of("kind")[0], next(s for s in tr.spans if s["name"] == "child")
    assert child["parent"] == root["id"] and child["op"] == root["op"]
    assert abs(root["self_s"] - (root["dur"] - child["dur"])) < 1e-9
    assert 0.005 < root["self_s"] < child["dur"]
    assert tr.subtree(root) == [s for s in tr.spans if s["op"] == root["op"]]


def test_disabled_tracer_records_nothing():
    tr = harness.Tracer(False)
    with tr.op("kind"), tr.span("child") as span:
        assert span is None
    tr.finish()
    assert tr.spans == []


class _Sleeper:
    warm_rounds = 1

    def __init__(self, step):
        self.step, self.calls = step, []

    def round(self, ops, rnd):
        self.calls.append(rnd)
        ops.run("x", lambda: time.sleep(self.step))


def test_rounds_stop_before_the_window_is_overrun():
    wl, tr = _Sleeper(0.05), harness.Tracer(False)
    rounds = run._rounds(wl, harness.Ops(tr), tr, seconds=0.18)
    assert wl.calls == [0, 1, 2]
    assert sum(t for _, t in rounds) <= 0.18
    wl = _Sleeper(0.05)
    run._rounds(wl, harness.Ops(tr), tr, seconds=0.0)
    assert wl.calls == [0, 1]
    wl.warm_rounds, wl.calls = 3, []
    run._rounds(wl, harness.Ops(tr), tr, seconds=0.0)
    assert wl.calls == [0, 1, 2, 3]


def test_traced_rounds_alternate_and_keep_one_of_each():
    wl, tr = _Sleeper(0.01), harness.Tracer(True)
    rounds = run._rounds(wl, harness.Ops(tr), tr, seconds=0.0)
    assert [on for on, _ in rounds] == [True, False, True]
    assert tr.enabled


def _probe_rows(ids):
    return [{"query_id": q, "rank": r, "neighbor_id": int(i)}
            for q, row in enumerate(ids) for r, i in enumerate(row)]


def test_probe_check_scores_recall_and_fails_below_the_floor():
    wl = churn.Churn("unused", 1, harness.Tracer(False))
    wl.prepare()
    x = wl.vectors.astype(np.float64)
    q = wl.queries.astype(np.float64)
    sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ (
        x / np.linalg.norm(x, axis=1, keepdims=True)).T
    assert wl._check_probe(_probe_rows(np.argsort(-sims, axis=1)[:, :churn.K])) is None
    assert wl.recalls == [1.0]
    problem = wl._check_probe(_probe_rows(np.argsort(sims, axis=1)[:, :churn.K]))
    assert "below the floor" in problem and wl.recalls[-1] < churn.RECALL_FLOOR


def test_benchmark_json_meets_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        about = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"] and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"])
        assert about[m["name"]]["unit"] == m["unit"]
        assert about[m["name"]]["better"] == m["better"]


def test_run_refuses_a_checkout_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "logscan", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 2 and proc.stdout == ""
