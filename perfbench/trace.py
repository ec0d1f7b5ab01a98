"""Per-layer tracing: the Spark event-log parser, the streaming listener
and process-tree memory sampling.

Everything here observes the program from outside: the event log is
Spark's own (``spark.eventLog.enabled``, uncompressed), the streaming
numbers come from a ``StreamingQueryListener``, and memory is read from
``/proc``. Only work inside the benchmark's timed windows is counted, so
the warm pass, the drift canary and the output checks never show up in
a layer metric.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime

# Python-worker SQL metrics (Spark's PythonSQLMetrics), summed over tasks.
PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_exec_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}
_PY_NODE = re.compile(r"Pandas|Arrow|Python")
_EXCHANGE_NODES = {"Exchange", "ShuffleExchange", "BroadcastExchange"}
_MATERIALIZE = ("localCheckpoint", "checkpoint", "cache", "persist")
_PACKAGE_DIR = os.sep + "ad_data_lake_spark" + os.sep

SCHED = ("jobs", "stages", "tasks", "sched_delay_s")
EXEC = (
    "task_run_s",
    "task_cpu_s",
    "jvm_gc_s",
    "input_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "peak_exec_mem_mb",
)
PLAN = ("exchanges", "python_nodes")
STREAM = (
    "stream_batches",
    "stream_input_rows",
    "stream_addbatch_s",
    "stream_planning_s",
    "stream_walcommit_s",
)


def _in(windows: list[tuple[float, float]], t_ms: float) -> bool:
    return any(a <= t_ms <= b for a, b in windows)


def _walk(node: dict):
    yield node
    for c in node.get("children", ()):
        yield from _walk(c)


# SQL metric types the plan declares, as the divisor to seconds.
_TIME_SCALE = {"timing": 1e3, "nsTiming": 1e9}


def parse_event_log(
    path: str,
    windows: list[tuple[float, float]],
    checkpoints: list[tuple[float, float]] = (),
) -> dict:
    """Fold one uncompressed event-log file into layer totals over
    ``windows`` (epoch-ms intervals): scheduler, executor, plan and
    Python-worker totals, and ``checkpoint_jobs``, the jobs submitted
    inside a checkpoint call (``checkpoints``)."""
    out = {k: 0.0 for k in SCHED + EXEC + PLAN + tuple(PY_METRICS.values())}
    out["checkpoint_jobs"] = 0
    plans: dict[int, dict] = {}
    exec_time: dict[int, float] = {}
    timed_stages: set[int] = set()
    metric_type: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                if not _in(windows, ev["Submission Time"]):
                    continue
                out["jobs"] += 1
                timed_stages.update(ev.get("Stage IDs", ()))
                out["checkpoint_jobs"] += _in(checkpoints, ev["Submission Time"])
            elif kind == "SparkListenerStageCompleted":
                if ev["Stage Info"]["Stage ID"] in timed_stages:
                    out["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                if ev["Stage ID"] not in timed_stages:
                    continue
                _fold_task(out, ev, metric_type)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_time[ev["executionId"]] = ev["time"]
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
                _metric_types(ev["sparkPlanInfo"], metric_type)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
                _metric_types(ev["sparkPlanInfo"], metric_type)
    for eid, plan in plans.items():
        if not _in(windows, exec_time.get(eid, -1)):
            continue
        for node in _walk(plan):
            name = node.get("nodeName", "")
            if name in _EXCHANGE_NODES:
                out["exchanges"] += 1
            elif _PY_NODE.search(name):
                out["python_nodes"] += 1
    return out


def _metric_types(plan: dict, into: dict[int, str]) -> None:
    for node in _walk(plan):
        for m in node.get("metrics", ()):
            into[m["accumulatorId"]] = m["metricType"]


def _fold_task(out: dict, ev: dict, metric_type: dict[int, str]) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    out["tasks"] += 1
    out["task_run_s"] += run_ms / 1e3
    out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    out["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
    out["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    out["peak_exec_mem_mb"] = max(
        out["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / 2**20
    )
    # Spark UI's scheduler delay: task wall minus the parts it accounts for.
    dur = info["Finish Time"] - info["Launch Time"]
    got = info.get("Getting Result Time", 0)
    fetch = info["Finish Time"] - got if got else 0
    delay = dur - run_ms - m.get("Executor Deserialize Time", 0)
    delay -= m.get("Result Serialization Time", 0) + fetch
    out["sched_delay_s"] += max(0, delay) / 1e3
    for acc in info.get("Accumulables", ()):
        key = PY_METRICS.get(acc.get("Name", ""))
        if key is not None:
            scale = _TIME_SCALE.get(metric_type.get(acc["ID"], ""), 1.0)
            out[key] += float(acc.get("Update", 0)) / scale


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


class StreamTap:
    """Collects streaming progress through a ``StreamingQueryListener``."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list[dict] = []
        tap = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tap.progress.append(
                    {
                        "t_ms": _epoch_ms(p.timestamp),
                        "rows": p.numInputRows,
                        "ms": dict(p.durationMs),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def fold(self, windows: list[tuple[float, float]]) -> dict:
        out = {k: 0.0 for k in STREAM}
        for p in self.progress:
            if not _in(windows, p["t_ms"]):
                continue
            out["stream_batches"] += 1
            out["stream_input_rows"] += p["rows"]
            out["stream_addbatch_s"] += p["ms"].get("addBatch", 0) / 1e3
            out["stream_planning_s"] += p["ms"].get("queryPlanning", 0) / 1e3
            out["stream_walcommit_s"] += p["ms"].get("walCommit", 0) / 1e3
        return out


class MaterializeTap:
    """Counts the program's ``localCheckpoint``/``checkpoint``/``cache``/
    ``persist`` calls by call site (``module.py:line`` inside the
    package) and keeps each checkpoint call's epoch-ms window, so the
    event-log fold can count the jobs an eager checkpoint runs.

    It wraps those DataFrame methods for the whole process, so it is
    only created in a ``--trace 1`` worker; it counts only while
    ``active`` (the traced passes) and otherwise adds one Python call
    per materialization."""

    def __init__(self):
        from pyspark.sql.classic.dataframe import DataFrame

        self.sites: dict[str, int] = {}
        self.windows: list[tuple[float, float]] = []
        self.active = False
        for name in _MATERIALIZE:
            setattr(DataFrame, name, self._wrap(name, getattr(DataFrame, name)))

    def _wrap(self, name: str, orig):
        import functools
        import sys
        import time

        tap = self

        @functools.wraps(orig)
        def call(df, *args, **kwargs):
            if not tap.active:
                return orig(df, *args, **kwargs)
            frame, site = sys._getframe(1), name
            while frame is not None:
                path = frame.f_code.co_filename
                if _PACKAGE_DIR in path:
                    rel = path.rsplit(_PACKAGE_DIR, 1)[1]
                    site = f"{name} {rel}:{frame.f_lineno}"
                    break
                frame = frame.f_back
            tap.sites[site] = tap.sites.get(site, 0) + 1
            t0 = time.time() * 1e3
            try:
                return orig(df, *args, **kwargs)
            finally:
                if "heckpoint" in name:
                    tap.windows.append((t0, time.time() * 1e3))

        return call


def process_tree(root_pid: int) -> dict[int, tuple[int, int]]:
    """``root_pid`` and all its descendants, from ``/proc``, as
    ``{pid: (start_time, rss_bytes)}``."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[int, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        info[pid] = (int(fields[19]), int(fields[21]) * page)
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants (the
    driver JVM and the Python workers)."""
    return sum(rss for _, rss in process_tree(root_pid).values()) / 2**20
