"""Benchmark entry point.

    python3 perfbench/run.py --workload ad_llm_queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each measurement runs in its own Spark
process (``perfbench/worker.py``) on ``local[<cpu count>]``, with every
file it writes under ``.perfbench/`` in the checkout. ``--trace 0``
prints the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` runs
one process whose passes alternate untraced and traced (see
``perfbench/worker.py``) and prints the per-layer metrics, including
``trace_overhead_frac``. ``--workload all`` runs every
workload and prints each one's end-to-end metrics.

Outputs are checked after the worker ends, outside every timed region:
the query workloads against each registry row's DuckDB oracle on the
same input files, ``lake_writes`` inside the worker against the
generator's expected-state model. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
if not __package__:  # run as a script: import perfbench from the checkout
    sys.path.insert(0, ROOT)

from perfbench.trace import process_tree  # noqa: E402
from perfbench.worker import WORKLOADS, op_names  # noqa: E402

# A run has one worker. It is stopped after WORKER_DEADLINE_S, which
# leaves room, in the 180 s a run may take, to stop it and check its
# outputs; runs on the reference host took 45-95 s, traced ones included.
WORKER_DEADLINE_S = 170.0
UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_s_p50": "s",
    "op_s_geomean": "s",
}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _env(work: str, traced: bool) -> dict:
    """A worker's environment: Spark's local dirs, the JVM's and Python's
    temp files and the event log all go under ``work`` (and the JVM keeps
    no ``hsperfdata`` file in the system temp dir)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    conf = [
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ]
    if traced:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{logdir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",  # one file (Spark 4 rolls by default)
        ]
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH", "")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=" ".join(
            (env.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")
        ).strip(),
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {c}" for c in conf) + " pyspark-shell",
    )
    return env


def _running(pid: int, start_time: int) -> bool:
    """Whether ``pid`` is still the process that started at ``start_time``
    and has not exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[0] != "Z" and int(fields[19]) == start_time


def _stop(proc: subprocess.Popen, procs: dict[int, int]) -> None:
    """Stop the worker and every process it started (the driver JVM puts
    the Python workers in a process group of their own), and wait until
    each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if proc.poll() is None:
            proc.send_signal(sig)
        for pid, st in procs.items():
            if _running(pid, st):
                os.kill(pid, sig)
        for _ in range(100):
            alive = [p for p, st in procs.items() if _running(p, st)]
            if proc.poll() is not None and not alive:
                return
            time.sleep(0.05)


def run_worker(args, work: str, traced: bool) -> dict | None:
    os.makedirs(work, exist_ok=True)
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(int(traced)), "--work", work,
    ]
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=_env(work, traced), stdout=log, stderr=log,
            stdin=subprocess.DEVNULL,
        )
        seen: dict[int, int] = {}
        code = None
        deadline = time.monotonic() + WORKER_DEADLINE_S
        try:
            while time.monotonic() < deadline:
                tree = process_tree(proc.pid)
                seen.update({pid: st for pid, (st, _) in tree.items() if pid != proc.pid})
                try:
                    code = proc.wait(timeout=1.0)
                    break
                except subprocess.TimeoutExpired:
                    pass
        finally:  # also on SIGTERM / SIGINT (see main)
            _stop(proc, seen)
    out = os.path.join(work, f"result-{int(traced)}.json")
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        _log(f"worker failed (exit {code}):\n{tail}")
        return None
    with open(out) as f:
        return json.load(f)


def check_outputs(workload: str, seed_work: str, res: dict) -> None:
    """Compare every query output with its DuckDB oracle; a mismatch
    counts as a failed op and is reported."""
    if workload == "lake_writes":
        return
    import duckdb
    import pandas as pd

    from ad_data_lake_spark.queries import REGISTRY
    from ad_data_lake_spark.sources.tables import TABLE_NAMES
    from tests.oracle_compare import assert_frames_match

    data = os.path.join(seed_work, "data")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for name in op_names(workload):
        path = os.path.join(seed_work, "outputs", f"{name}.pkl")
        if not os.path.exists(path):
            continue  # the op raised; already counted by the worker
        got = pd.read_pickle(path)
        spec = REGISTRY[name]
        try:
            if spec.oracle is None:
                assert len(got) > 0, f"{name}: no rows"
            else:
                assert_frames_match(got, con.execute(spec.oracle).df(), name)
        except AssertionError as e:
            res["failed"] += 1
            res["errors"].append(f"oracle {name}: {e}"[:500])
    con.close()


def _best(op_s: dict[str, list[float]], workload: str) -> list[float] | None:
    """Each op's fastest timed pass, or None when an op has no time (it
    failed on every pass)."""
    names = op_names(workload)
    if not all(op_s[n] for n in names):
        return None
    return [min(op_s[n]) for n in names]


def end_to_end(res: dict) -> dict[str, float]:
    """Timings from each op's fastest timed pass, as ``bench.py`` takes
    each query's fastest pass: contention from other tenants of the host
    and late JIT compilation only ever slow a sample down, and they come
    in bursts of seconds. ``wall_s`` is one pass at those times.

    An op that failed on every pass has no time: the run then reports
    only ``setup_s`` (its failures are in ``failed``), never timings of
    fewer ops that would read as faster."""
    best = _best(res["op_s"], res["workload"])
    if best is None:
        return {"setup_s": res["setup_s"]}
    return {
        "setup_s": res["setup_s"],
        "wall_s": sum(best),
        "op_s_p50": statistics.median(best),
        "op_s_geomean": math.exp(statistics.fmean(math.log(t) for t in best)),
    }


def per_layer(res: dict) -> dict[str, tuple[float, str]]:
    """Layer metrics of a traced run, per traced pass; timings that users
    see come from its untraced passes."""
    n = res["traced_passes"]
    ev = res["eventlog"]
    out: dict[str, tuple[float, str]] = {}
    phase = {"build": 0.0, "plan": 0.0, "exec": 0.0}
    for sp in res["spans"]:
        phase[sp["phase"]] += sp["s"]
    for k, v in phase.items():
        out[f"{k}_s"] = (v / n, "s")
    for k, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("sched_delay_s", "s"),
        ("checkpoint_jobs", "count"), ("task_run_s", "s"), ("task_cpu_s", "s"),
        ("jvm_gc_s", "s"), ("input_bytes", "B"), ("shuffle_write_bytes", "B"),
        ("shuffle_read_bytes", "B"), ("spill_bytes", "B"),
        ("exchanges", "count"), ("python_nodes", "count"), ("py_boot_s", "s"),
        ("py_init_s", "s"), ("py_exec_s", "s"), ("py_bytes_sent", "B"),
        ("py_bytes_returned", "B"),
    ):
        out[k] = (ev[k] / n, unit)
    out["peak_exec_mem_mb"] = (ev["peak_exec_mem_mb"], "MB")
    cached = res["cached_bytes"]
    out["cached_bytes_end"] = (statistics.fmean(cached) if cached else 0.0, "B")
    out["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    for k in ("stream_batches", "stream_input_rows"):
        out[k] = (res["stream"][k] / n, "count")
    for k in ("stream_addbatch_s", "stream_planning_s", "stream_walcommit_s"):
        out[k] = (res["stream"][k] / n, "s")
    out.update(lake_metrics(res))
    out["canary_s"] = (statistics.median(res["canary_s"]), "s")
    traced = _best(res["op_s_traced"], res["workload"])
    untraced = _best(res["op_s"], res["workload"])
    if traced and untraced:
        out["trace_overhead_frac"] = (sum(traced) / sum(untraced) - 1, "1")
    out["ops_failed_frac"] = (res["failed"] / res["attempted"], "1")
    return out


def lake_metrics(res: dict) -> dict[str, tuple[float, str]]:
    """Lake-layer metrics, per day; 0 on workloads that do not write the
    lake. Timings come from the untraced passes, counts from the traced
    ones."""
    units = {
        "commit_s_p50": "s", "read_s_p50": "s", "stream_rows_per_s": "1/s",
        "write_amp": "1", "space_amp": "1", "bytes_written": "B",
        "files_written": "count", "buckets_rewritten": "count",
        "hardlinked_bytes": "B", "versions_retained": "count", "vacuum_s": "s",
    }
    out = {k: (0.0, u) for k, u in units.items()}
    if not res["finish"]:
        return out
    if res["failed"]:
        return {}  # a failed op leaves gaps in the lake record
    t, c = res["pass_stats"], res["pass_stats_traced"]
    vals = {
        "commit_s_p50": statistics.median(x for s in t for x in s["commit_s"]),
        "read_s_p50": statistics.median(x for s in t for x in s["read_s"]),
        "stream_rows_per_s": sum(s["drain_rows"] for s in t) / sum(s["drain_s"] for s in t),
        "write_amp": statistics.median(s["bytes_written"] / s["change_bytes"] for s in c),
        "space_amp": res["finish"]["space_amp"],
        "versions_retained": res["finish"]["versions_retained"],
        "vacuum_s": res["finish"]["vacuum_s"],
    }
    for k in ("bytes_written", "files_written", "buckets_rewritten", "hardlinked_bytes"):
        vals[k] = statistics.median(s[k] for s in c)
    return {k: (v, units[k]) for k, v in vals.items()}


def measure(args) -> tuple[dict, dict[str, tuple[float, str]]] | None:
    """One benchmark run; returns the result summary and its metrics."""
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_worker(args, work, bool(args.trace))
        if res is None:
            return None
        check_outputs(args.workload, work, res)
        if args.trace:
            metrics = per_layer(res)
            _write_trace(args, res, metrics)
        else:
            metrics = {k: (v, UNITS[k]) for k, v in end_to_end(res).items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    summary = {k: res[k] for k in ("op_s", "canary_s", "attempted", "failed", "errors")}
    return summary, metrics


def _write_trace(args, res: dict, metrics: dict) -> None:
    """Keep the traced run's spans and layer record next to the checkout."""
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "materialize_sites": res["materialize_sites"],
        "spans": res["spans"],
    }
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(record, f)


def _print_table(workload: str, summary: dict, metrics: dict) -> None:
    _log(f"{workload}: attempted={summary['attempted']} failed={summary['failed']}")
    for k, (v, unit) in metrics.items():
        _log(f"  {k:<22} {v:>14.6g} {unit}")
    _log("  canary_s (drift record): " + " ".join(f"{c:.3f}" for c in summary["canary_s"]))
    for op, ts in summary["op_s"].items():
        _log(f"  op {op:<26} " + " ".join(f"{t:.3f}" for t in ts))
    for e in summary["errors"]:
        _log(f"  DEFECT: {e}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Stopped from outside: unwind, so every worker tree is stopped and
    # the work directory removed.
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))
    if not os.path.isdir(os.path.join(ROOT, "ad_data_lake_spark")):
        _log("ad_data_lake_spark/ not found: run from the root of a checkout")
        return 2
    if args.workload == "all":
        ok = True
        for w in WORKLOADS:
            got = measure(argparse.Namespace(**{**vars(args), "workload": w}))
            if got is None:
                return 1
            _print_table(w, *got)
            ok = ok and got[0]["failed"] == 0
        return 0 if ok else 1
    got = measure(args)
    if got is None:
        return 1
    summary, metrics = got
    _print_table(args.workload, summary, metrics)
    print(json.dumps({
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
