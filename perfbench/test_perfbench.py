"""Tests of the benchmark itself: span arithmetic, and a smoke run of
every workload in both modes against the metric names BENCHMARK.json
declares.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import trace as tr

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_union_length_merges_and_clips():
    assert tr.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tr.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert tr.union_length([], 0, 1) == 0


def test_self_time_subtracts_children():
    spans = [
        tr.Span(0, "op", None, 0, 0.0, 10.0),
        tr.Span(1, "a.x", 0, 0, 1.0, 4.0),
        tr.Span(2, "a.y", 1, 0, 2.0, 3.0),
        tr.Span(3, "b.z", 0, 0, 4.0, 6.0),
    ]
    self_t = tr.self_times(spans)
    assert self_t == {0: 5.0, 1: 2.0, 2: 1.0, 3: 2.0}
    assert sum(self_t.values()) == spans[0].wall
    assert tr.subtree(spans, 1) == {1, 2}


def test_engine_metrics_driver_gap():
    jobs = {0: tr.Job(0, 1, 1.0, 2.0, [0]), 1: tr.Job(1, 2, 1.5, 3.0, [1]),
            2: tr.Job(2, None, 0.0, 9.0, [2])}
    stages = {0: tr.StageAgg(tasks=1), 1: tr.StageAgg(tasks=4, input_mb=1.0)}
    m = tr.engine_metrics(jobs, stages, {1, 2}, 0.0, 4.0)
    assert m["spark.jobs"] == 2 and m["spark.tasks"] == 5
    assert m["spark.job_s"] == 2.0 and m["spark.driver_gap_s"] == 2.0
    assert m["spark.single_task_stages"] == 1 and m["_input_scans"] == 1


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_reports_declared_metrics(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
