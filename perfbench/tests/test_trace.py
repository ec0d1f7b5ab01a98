"""The event-log parser on a small recorded log.

``data/eventlog_small.jsonl`` is a trimmed Spark 4.1 event log of three
registry rows (``novelty_profile``, ``dedup_simhash``, ``scan_project``)
run on a tiny generated fixture with ``local[2]``.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.trace import parse_event_log

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
ALL = [(0.0, 1e15)]


def _events(kind: str) -> list[dict]:
    with open(LOG) as f:
        return [e for e in map(json.loads, f) if e["Event"].endswith(kind)]


def test_counts_every_job_stage_and_task_inside_the_window():
    got = parse_event_log(LOG, ALL)
    assert got["jobs"] == len(_events("SparkListenerJobStart")) == 11
    assert got["stages"] == len(_events("SparkListenerStageCompleted")) == 11
    assert got["tasks"] == len(_events("SparkListenerTaskEnd")) == 15
    tasks = _events("SparkListenerTaskEnd")
    run = sum(t["Task Metrics"]["Executor Run Time"] for t in tasks) / 1e3
    assert got["task_run_s"] == pytest.approx(run)
    assert got["spill_bytes"] == 0
    assert got["shuffle_read_bytes"] == got["shuffle_write_bytes"] > 0


def test_python_worker_metrics_use_the_declared_millisecond_unit():
    got = parse_event_log(LOG, ALL)
    # two MapInPandas tasks in each of two stages (start, init, run in ms)
    assert got["py_boot_s"] == pytest.approx((1291 + 1302) / 1e3)
    assert got["py_init_s"] == pytest.approx((466 + 427 + 2951 + 3077) / 1e3)
    assert got["py_exec_s"] == pytest.approx((2086 + 2025 + 378 + 400) / 1e3)
    assert got["py_bytes_sent"] == 36408 + 36696 + 45544 + 45272
    assert got["python_nodes"] == 2
    assert got["exchanges"] == 5


def test_only_work_inside_the_windows_counts():
    assert parse_event_log(LOG, [])["jobs"] == 0
    first = _events("SparkListenerJobStart")[0]
    t = first["Submission Time"]
    got = parse_event_log(LOG, [(t, t)])
    stages = set(first["Stage IDs"])
    n_tasks = sum(1 for e in _events("SparkListenerTaskEnd") if e["Stage ID"] in stages)
    assert (got["jobs"], got["tasks"]) == (1, n_tasks)
    assert got["exchanges"] == 0  # no SQL execution started in that window


def test_checkpoint_jobs_are_the_jobs_inside_checkpoint_calls():
    starts = [e["Submission Time"] for e in _events("SparkListenerJobStart")]
    got = parse_event_log(LOG, ALL, [(starts[1], starts[2])])
    assert got["checkpoint_jobs"] == sum(starts[1] <= s <= starts[2] for s in starts)
    assert parse_event_log(LOG, ALL)["checkpoint_jobs"] == 0
