"""Tests for the benchmark's measurement helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import (  # noqa: E402
    Span, Tracer, fold_event_log, self_time, tail_percentile, task_skew,
)


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail_percentile(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_percentile_order_independent_and_small_counts():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 11.0, 10.0]
    value, pct, n = tail_percentile(xs)
    # 11 samples: only the minimum has ten samples beyond it
    assert value == 1.0 and n == 11
    assert pct == pytest.approx(100.0 / 11)
    assert tail_percentile(xs[:10]) is None
    assert tail_percentile([]) is None


def test_self_time_subtracts_children_once():
    parent = Span(0, "op", 0.0, 10.0)
    spans = [
        parent,
        Span(1, "a", 1.0, 3.0, parent=0),
        Span(2, "b", 2.0, 4.0, parent=0),     # overlaps a: 1..4 counts once
        Span(3, "c", 9.0, 12.0, parent=0),    # clipped to the parent: 9..10
        Span(4, "grand", 1.5, 2.5, parent=1),  # not a direct child
        Span(5, "other", 5.0, 6.0, parent=None),
    ]
    assert self_time(parent, spans) == pytest.approx(10.0 - 3.0 - 1.0)
    assert self_time(spans[1], spans) == pytest.approx(1.0)
    assert self_time(spans[5], spans) == pytest.approx(1.0)


def test_tracer_nests_and_reports_self_time():
    tr = Tracer()
    with tr.span("run"):
        with tr.span("child"):
            pass
    recs = {r["name"]: r for r in tr.as_records()}
    assert recs["child"]["parent"] == recs["run"]["id"]
    assert recs["run"]["self_s"] == pytest.approx(
        recs["run"]["duration_s"] - recs["child"]["duration_s"]
    )


def _job(job_id, group, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms, cpu_ns, shuffle=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Disk Bytes Spilled": spill}}


def test_fold_groups_task_metrics_by_job_group():
    events = [
        {"Event": "SparkListenerLogStart"},
        _job(0, "checks.unique", [0, 1]),
        _task(0, 100, 50_000_000, shuffle=2_000_000),
        _task(1, 300, 100_000_000),
        _task(1, 100, 100_000_000),
        _task(1, 200, 100_000_000, spill=1_000_000),
        # stage 1 reappears in a later job of another group (reused
        # exchange): its tasks stay with the first group
        _job(1, "report", [1, 2]),
        _task(2, 1000, 900_000_000),
        _job(2, None, [3]),
        _task(3, 10, 10_000_000),
    ]
    lines = [json.dumps(e) for e in events] + [""]
    g = fold_event_log(lines)
    u = g["checks.unique"]
    assert u.jobs == 1
    assert u.task_s == pytest.approx(0.7)
    assert u.cpu_s == pytest.approx(0.35)
    assert u.wait_s == pytest.approx(0.35)
    assert u.shuffle_write_mb == pytest.approx(2.0)
    assert u.spill_mb == pytest.approx(1.0)
    # busiest stage is 1: max 0.3 s over median 0.2 s
    assert task_skew(u) == pytest.approx(1.5)
    assert g["report"].jobs == 1 and g["report"].task_s == pytest.approx(1.0)
    assert g[""].task_s == pytest.approx(0.01)
    assert task_skew(g["report"]) == pytest.approx(1.0)
