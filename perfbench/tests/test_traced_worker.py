"""A traced ad_llm_queries worker counts the jobs of the llm layer's
eager checkpoints.

``dedup_minhash_lsh`` reaches ``min_label_components``, whose edge list
is an eager ``localCheckpoint``: its job is submitted inside the call,
so ``checkpoint_jobs`` is above 0 on every traced pass. This starts one
traced worker (a Spark session on the local CPUs, about a minute).
"""

from __future__ import annotations

import argparse
import os

from perfbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_checkpoint_jobs_are_counted_on_ad_llm_queries(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", ROOT)
    args = argparse.Namespace(workload="ad_llm_queries", seed=1, seconds=10.0)
    res = run.run_worker(args, str(tmp_path / "work"), True)
    assert res is not None and res["failed"] == 0, res and res["errors"]
    assert res["eventlog"]["checkpoint_jobs"] >= res["traced_passes"] > 0
    eager = [s for s in res["materialize_sites"] if s.startswith("localCheckpoint llm/dedup.py:")]
    assert eager, res["materialize_sites"]
