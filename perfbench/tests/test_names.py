"""The metric and workload names the benchmark emits match BENCHMARK.json."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import run, trace, worker

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _result(workload: str, traced: bool) -> dict:
    ops = worker.op_names(workload)
    res = {
        "workload": workload,
        "attempted": 10,
        "failed": 0,
        "errors": [],
        "setup_s": 30.0,
        "op_s": {n: [0.5, 0.6] for n in ops},
        "canary_s": [0.2, 0.21, 0.22],
        "pass_stats": [],
        "finish": {},
    }
    if workload == "lake_writes":
        day = {
            "commit_s": [1.0, 1.1], "read_s": [0.3, 0.4], "drain_s": 1.0,
            "drain_rows": 2000, "change_bytes": 50000, "bytes_written": 500000,
            "files_written": 20, "buckets_rewritten": 16, "hardlinked_bytes": 0,
        }
        res["pass_stats"] = [day, day]
        res["finish"] = {"space_amp": 3.0, "versions_retained": 3, "vacuum_s": 0.05}
    if traced:
        res["traced_passes"] = 2
        res["op_s_traced"] = {n: [0.55, 0.6] for n in ops}
        res["pass_stats_traced"] = res["pass_stats"]
        res["spans"] = [{"op": ops[0], "phase": p, "start_ms": 0.0, "s": 0.1}
                        for p in ("build", "plan", "exec")]
        res["cached_bytes"] = [0.0]
        res["peak_rss_mb"] = 2000.0
        res["stream"] = {k: 1.0 for k in trace.STREAM}
        res["eventlog"] = trace.parse_event_log(
            os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl"), []
        )
    return res


def test_workloads_match(spec):
    assert [w["name"] for w in spec["workloads"]] == list(worker.WORKLOADS)


@pytest.mark.parametrize("workload", worker.WORKLOADS)
def test_end_to_end_names_and_units_match(spec, workload):
    got = run.end_to_end(_result(workload, False))
    assert list(got) == [m["name"] for m in spec["end_to_end"]]
    assert run.UNITS == {m["name"]: m["unit"] for m in spec["end_to_end"]}


@pytest.mark.parametrize("workload", worker.WORKLOADS)
def test_an_op_without_a_time_gives_no_timings(workload):
    res = _result(workload, False)
    res["op_s"][worker.op_names(workload)[-1]] = []
    assert run.end_to_end(res) == {"setup_s": 30.0}


@pytest.mark.parametrize("workload", worker.WORKLOADS)
def test_per_layer_names_and_units_match(spec, workload):
    got = run.per_layer(_result(workload, True))
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: u for k, (_, u) in got.items()} == want


def test_spec_is_within_the_contract(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
