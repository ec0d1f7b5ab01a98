"""One benchmark measurement in its own Spark process.

``python -m perfbench.worker --workload W --seed S --seconds N --trace T
--work DIR`` starts the session, generates the workload's inputs under
``DIR``, runs one warm pass (which also captures or checks every
output), then a fixed number of whole timed passes, ``PASSES_PER_10S``
per 10 s of ``N`` (at least ``MIN_PASSES``). It writes
``DIR/result-T.json``; ``perfbench/run.py`` turns that into the
benchmark's output line.

With ``--trace 1`` the session also writes Spark's event log (the
worker is started with it enabled) and makes TRACE_PASSES passes, of
which every other pair is traced: there every op is tagged
``q:<workload>:<op>``, the build/plan/exec phases are split, checkpoint
calls are counted, and a streaming listener and a process-tree memory
probe run; all of it is folded into layer metrics at the end. The
untraced passes give the timings the overhead is measured against.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from perfbench import gen  # noqa: E402
from perfbench.trace import (  # noqa: E402
    MaterializeTap,
    StreamTap,
    parse_event_log,
    tree_rss_mb,
)

# Registry rows of ad_llm_queries. The ad rows are a scan, a filter, a
# dimension join, hierarchy nesting, the Arrow form of the sanitize
# layer and a marketing aggregate; per-query fixed cost dominates them.
# The LLM rows run over the x4 document/embedding replica: an Arrow
# kernel (dedup_simhash), a lazily checkpointed pipeline
# (novelty_profile) and connected components by min-label propagation
# (dedup_minhash_lsh: an eager localCheckpoint, then a loop of
# convergence counts).
AD_ROWS = (
    "scan_project",
    "filter_time_range",
    "broadcast_dim_join",
    "collect_list_nest",
    "sanitize_dynamic_json",
    "derived_ratio_metrics",
)
LLM_ROWS = ("dedup_simhash", "novelty_profile", "dedup_minhash_lsh")
LLM_REPLICAS = 4
LLM_BASE_DOCS = 125
LLM_BASE_VECS = 125

# lake_writes: the warm pass seeds the table and runs day 0; each timed
# pass is the next day; vacuum follows the last pass.
LAKE_BASE_ROWS = 20000
LAKE_DAYS = 8
LAKE_UPDATES = 1000
LAKE_INSERTS = 1000
LAKE_TOMBSTONES = 200
LAKE_DAY_OPS = ("drain", "cdc", "read_prev", "agg_read")

WORKLOADS = ("ad_llm_queries", "lake_writes")
# Timed passes per 10 s of --seconds; one pass takes about 7 s
# (ad_llm_queries) or 3 s (lake_writes) of timed ops on the reference
# 4-core host. The count is fixed, not a timed loop, so every run of a
# workload takes the same samples at the same point of JIT warm-up.
# Ops still speed up pass after pass (the JVM is still compiling), so
# each op's best pass is taken, and lake_writes, with short passes,
# runs more of them.
PASSES_PER_10S = {"ad_llm_queries": 2, "lake_writes": 7}
MIN_PASSES = 2
# A traced run makes passes untraced, traced, traced, untraced: both
# kinds see the same warm-up and, on lake_writes, the same table growth.
TRACE_PASSES = 4


def traced_pass(index: int) -> bool:
    return index % 4 in (1, 2)


def op_names(workload: str) -> list[str]:
    return list(
        {"ad_llm_queries": AD_ROWS + LLM_ROWS, "lake_writes": LAKE_DAY_OPS}[workload]
    )


def canary(spark) -> float:
    """Fixed tiny Spark job plus a fixed pure-Python loop (drift only)."""
    t = time.perf_counter()
    spark.range(0, 200_000, numPartitions=4).selectExpr("sum(id * 2)").collect()
    acc = 0
    for i in range(300_000):
        acc += i * i
    return time.perf_counter() - t


class Timer:
    """Times the spans of the ops. ``op_time`` sums the spans of the op
    in progress (checks between spans are not timed). While ``traced``,
    ``windows`` keeps each timed span in epoch ms, which limits the
    layer folds, and ``spans`` keeps the bench-side phase spans."""

    def __init__(self):
        self.traced = False
        self.windows: list[tuple[float, float]] = []
        self.spans: list[dict] = []
        self.in_timed = False
        self.op_time = 0.0
        self.last = 0.0

    def span(self, op: str, phase: str, fn):
        w0, t0 = time.time() * 1e3, time.perf_counter()
        try:
            return fn()
        finally:
            self.last = time.perf_counter() - t0
            self.op_time += self.last
            if self.in_timed and self.traced:
                self.windows.append((w0, time.time() * 1e3))
                self.spans.append({"op": op, "phase": phase, "start_ms": w0, "s": self.last})

    def query(self, op: str, build, sink) -> object:
        """build -> (plan, when tracing) -> sink, each its own span."""
        df = self.span(op, "build", build)
        if self.traced:
            self.span(op, "plan", lambda: df._jdf.queryExecution().executedPlan())
        return self.span(op, "exec", lambda: sink(df))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    """ad_llm_queries: registry rows over generated fixture tables.
    The warm pass keeps each output for the oracle check in run.py."""

    max_passes = None

    def __init__(self, spark, workload: str, seed: int, work: str):
        from ad_data_lake_spark.llm.selection import clear_bitmap_cache
        from ad_data_lake_spark.queries import REGISTRY

        self.spark, self.work = spark, work
        self.registry, self.clear_cache = REGISTRY, clear_bitmap_cache
        self.data = os.path.join(work, "data")
        tables = gen.make_tables(seed, LLM_BASE_DOCS, LLM_BASE_VECS)
        gen.write_tables(gen.make_replica(tables, seed, LLM_REPLICAS), self.data)
        self.ops = op_names(workload)
        self.warm_ops = list(self.ops)
        random.Random(seed).shuffle(self.warm_ops)
        self.order = random.Random(seed + 1)
        self.failures: list[str] = []
        os.makedirs(os.path.join(work, "outputs"), exist_ok=True)

    def pass_ops(self, index: int) -> list[str]:
        ops = list(self.ops)
        self.order.shuffle(ops)
        return ops

    def warm(self, name: str, timer: Timer) -> None:
        """Keep the output for the check, then run the timed path once:
        its first runs are still compiling and 10-40% slower."""
        self.clear_cache()
        pdf = self.registry[name].fn(self.spark, self.data).toPandas()
        pdf.to_pickle(os.path.join(self.work, "outputs", f"{name}.pkl"))
        self.run(name, timer)

    def run(self, name: str, timer: Timer) -> None:
        self.clear_cache()  # no memoized model may survive into a timed op
        timer.query(name, lambda: self.registry[name].fn(self.spark, self.data), _noop)

    def pass_done(self) -> dict:
        return {}


class LakeWorkload:
    """lake_writes: a seeded events table takes one day per pass (stream
    drain of the day's change file, CDC tombstones, a time-travel read of
    the previous version and an aggregate read), then vacuum. Every
    state and read is checked against the generator's model."""

    max_passes = LAKE_DAYS - 1

    def __init__(self, spark, workload: str, seed: int, work: str):
        from pyspark.sql import functions as F

        from ad_data_lake_spark import incremental
        from ad_data_lake_spark.streaming.incremental import stream_merge_to_table

        self.spark, self.F = spark, F
        self.inc, self.stream_merge = incremental, stream_merge_to_table
        self.plan = gen.make_lake_plan(
            seed, LAKE_BASE_ROWS, LAKE_DAYS, LAKE_UPDATES, LAKE_INSERTS, LAKE_TOMBSTONES
        )
        self.files = gen.write_lake_plan(self.plan, os.path.join(work, "data"))
        self.schema = spark.read.parquet(self.files["base"]).schema
        root = os.path.join(work, "lake")
        self.table = os.path.join(root, "table")
        self.src = os.path.join(root, "stream-src")
        self.ckpt = os.path.join(root, "checkpoint")
        os.makedirs(self.src)
        self.ops = list(LAKE_DAY_OPS)
        self.warm_ops = ["seed_merge", *LAKE_DAY_OPS]
        self.failures: list[str] = []
        self.seen_inodes: set[tuple[int, int]] = set()
        self.day = 0
        self._reset_stats()

    def _reset_stats(self) -> None:
        self.stats = {
            "commit_s": [],
            "read_s": [],
            "drain_s": 0.0,
            "drain_rows": 0,
            "change_bytes": 0,
            "bytes_written": 0,
            "files_written": 0,
            "buckets_rewritten": 0,
            "hardlinked_bytes": 0,
        }

    def pass_ops(self, index: int) -> list[str]:
        self.day = index + 1  # day 0 ran in the warm pass
        self._reset_stats()
        return list(self.ops)

    # -- lake accounting (bench-side directory walks, never timed) -------
    def _files(self):
        for root, _dirs, files in os.walk(self.table):
            for f in files:
                p = os.path.join(root, f)
                yield p, os.stat(p)

    def _current(self) -> str:
        with open(os.path.join(self.table, "_CURRENT")) as f:
            return os.sep + f.read().strip() + os.sep

    def _account_commit(self, change_file: str) -> None:
        """New-inode bytes and files, rewritten buckets and hardlinked
        bytes of the version the last commit published."""
        cur = self._current()
        rewritten: set[str] = set()
        s = self.stats
        for p, st in self._files():
            ino = (st.st_dev, st.st_ino)
            fresh = ino not in self.seen_inodes
            self.seen_inodes.add(ino)
            if fresh:
                s["bytes_written"] += st.st_size
                s["files_written"] += 1
            if cur in p and p.endswith(".parquet"):
                if fresh:
                    rewritten.add(os.path.dirname(p))
                else:
                    s["hardlinked_bytes"] += st.st_size
        s["buckets_rewritten"] += len(rewritten)
        s["change_bytes"] += os.path.getsize(change_file)

    # -- checks (never timed) --------------------------------------------
    def _fingerprint(self, df) -> tuple:
        F = self.F
        r = df.agg(
            F.count(F.lit(1)),
            F.sum("event_id"),
            F.sum(F.unix_micros(F.col("ts").cast("timestamp")) - gen.TS_ORIGIN_US),
            F.sum("user_id"),
            F.sum(F.round(F.col("value") * 100).cast("long")),
            F.sum(F.length("event_type")),
        ).collect()[0]
        return tuple(int(x or 0) for x in r)

    def _check(self, label: str, got, want) -> None:
        if got != want:
            self.failures.append(f"day {self.day} {label}: got {got}, want {want}")

    def _check_state(self, label: str, df, step: int) -> None:
        want = gen.state_fingerprint(self.plan.states[step])
        self._check(label, self._fingerprint(df), want)

    def _agg(self):
        F = self.F
        return (
            self.inc.read_version(self.spark, self.table, 0)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"),
            )
        )

    # -- ops ---------------------------------------------------------------
    def warm(self, name: str, timer: Timer) -> None:
        self.run(name, timer)

    def run(self, name: str, timer: Timer) -> None:
        inc, spark, d, s = self.inc, self.spark, self.day, self.stats
        key = ("event_id", "ts", "value")
        if name == "seed_merge":
            base = spark.read.parquet(self.files["base"])
            timer.span(name, "exec", lambda: inc.merge_upsert(spark, self.table, base, *key))
            self._account_commit(self.files["base"])
            self._reset_stats()  # the seed is set-up, not a day
            self._check_state("seed", inc.read_version(spark, self.table, 0), 0)
        elif name == "drain":
            src = self.files["changes"][d]
            os.link(src, os.path.join(self.src, os.path.basename(src)))
            stream = spark.readStream.schema(self.schema).parquet(self.src)
            timer.span(name, "exec", lambda: self.stream_merge(stream, self.table, self.ckpt, *key))
            s["commit_s"].append(timer.last)
            s["drain_s"] += timer.last
            s["drain_rows"] += self.plan.changes[d].num_rows
            self._account_commit(src)  # read_prev checks the state it left
        elif name == "cdc":
            tomb = spark.read.parquet(self.files["tombstones"][d])
            timer.span(name, "exec", lambda: inc.cdc_apply(spark, self.table, tomb, *key))
            s["commit_s"].append(timer.last)
            self._account_commit(self.files["tombstones"][d])
            self._check_state("after cdc", inc.read_version(spark, self.table, 0), 2 * d + 2)
        elif name == "read_prev":
            timer.query(name, lambda: inc.read_version(spark, self.table, 1), _noop)
            s["read_s"].append(timer.op_time)
            self._check_state("previous version", inc.read_version(spark, self.table, 1), 2 * d + 1)
        elif name == "agg_read":
            rows = timer.query(name, self._agg, lambda df: df.collect())
            s["read_s"].append(timer.op_time)
            want: dict[str, list[int]] = {}
            for rec in self.plan.states[2 * d + 2].values():
                w = want.setdefault(rec[2], [0, 0])
                w[0] += 1
                w[1] += int(round(rec[3] * 100))
            self._check("aggregate", {r.event_type: [r.n, r.v] for r in rows}, want)
        else:
            raise KeyError(name)

    def pass_done(self) -> dict:
        return dict(self.stats)

    def finish(self, timer: Timer) -> dict:
        """Space use before vacuum, then the timed vacuum."""
        cur = self._current()
        uniq: dict[tuple[int, int], int] = {}
        live = 0
        for p, st in self._files():
            uniq[(st.st_dev, st.st_ino)] = st.st_size
            if cur in p and p.endswith(".parquet"):
                live += st.st_size
        out = {
            "space_amp": sum(uniq.values()) / live,
            "versions_retained": sum(1 for v in os.listdir(self.table) if v.startswith("v-")),
        }
        timer.span("vacuum", "exec", lambda: self.inc.vacuum(self.table, retain=1))
        out["vacuum_s"] = timer.last
        df = self.inc.read_version(self.spark, self.table, 0)
        self._check_state("after vacuum", df, 2 * self.day + 2)
        return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    a = ap.parse_args(argv)
    traced = bool(a.trace)

    from ad_data_lake_spark.session import get_spark

    spark = get_spark(f"perfbench-{a.workload}")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    _progress(f"session up at {time.perf_counter() - T_START:.2f}s")
    tap = StreamTap(spark) if traced else None
    mat = MaterializeTap() if traced else None
    cls = LakeWorkload if a.workload == "lake_writes" else QueryWorkload
    wl = cls(spark, a.workload, a.seed, a.work)
    timer = Timer()
    _progress(f"inputs written at {time.perf_counter() - T_START:.2f}s")

    attempted = failed = 0
    errors: list[str] = []

    def attempt(label: str, name: str, fn) -> bool:
        """Run one op; an exception or a failed check counts it failed."""
        nonlocal attempted, failed
        attempted += 1
        n_checks = len(wl.failures)
        try:
            fn(name, timer)
            ok = len(wl.failures) == n_checks
        except Exception as e:  # counted and reported, never hidden
            ok = False
            errors.append(f"{label} {name}: {_brief(e)}")
            traceback.print_exc()
        failed += not ok
        return ok

    for name in wl.warm_ops:
        if traced:
            sc.setJobDescription(f"warm:{a.workload}:{name}")
        t0 = time.perf_counter()
        attempt("warm", name, wl.warm)
        _progress(f"warm {name} {time.perf_counter() - t0:.2f}s")
    setup_s = time.perf_counter() - T_START

    canaries = [canary(spark)]
    # Per pass kind (untraced, traced): each op's times and the pass stats.
    op_s: dict[bool, dict[str, list[float]]] = {k: {n: [] for n in wl.ops} for k in (False, True)}
    pass_stats: dict[bool, list[dict]] = {False: [], True: []}
    cached: list[float] = []
    rss: list[float] = []
    if traced:
        passes = TRACE_PASSES
    else:
        passes = max(MIN_PASSES, round(PASSES_PER_10S[a.workload] * a.seconds / 10))
    passes = min(passes, wl.max_passes or passes)
    for index in range(passes):
        timer.traced = traced and traced_pass(index)
        if traced and not timer.traced:
            sc.setJobDescription(None)
        for name in wl.pass_ops(index):
            if timer.traced:
                sc.setJobDescription(f"q:{a.workload}:{name}")
            timer.in_timed, timer.op_time = True, 0.0
            if mat:
                mat.active = timer.traced
            ok = attempt(f"pass {index}", name, wl.run)
            timer.in_timed = False
            if mat:
                mat.active = False
            if ok:
                op_s[timer.traced][name].append(timer.op_time)
            if timer.traced:
                cached.append(_cached_bytes(sc))
                rss.append(tree_rss_mb(os.getpid()))
        pass_stats[timer.traced].append(wl.pass_done())
        canaries.append(canary(spark))
    timer.traced = False
    if traced:
        sc.setJobDescription(None)
    finish: dict = {}
    if hasattr(wl, "finish"):
        timer.in_timed = True
        attempt("", "finish", lambda _name, t: finish.update(wl.finish(t)))
        timer.in_timed = False

    errors.extend(wl.failures)
    result = {
        "workload": a.workload,
        "seed": a.seed,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "setup_s": setup_s,
        "op_s": op_s[False],
        "canary_s": canaries,
        "pass_stats": pass_stats[False],
        "finish": finish,
    }
    if traced:
        result["traced_passes"] = len(pass_stats[True])
        result["op_s_traced"] = op_s[True]
        result["pass_stats_traced"] = pass_stats[True]
        time.sleep(1.0)  # let the listener bus deliver the last progress
        result["spans"] = timer.spans
        result["cached_bytes"] = cached
        result["peak_rss_mb"] = max(rss) if rss else 0.0
        result["stream"] = tap.fold(timer.windows)
        result["materialize_sites"] = mat.sites
        app = sc.applicationId
    spark.stop()
    if traced:
        logs = os.path.join(a.work, "eventlog")
        (log,) = [os.path.join(logs, f) for f in os.listdir(logs) if app in f]
        result["eventlog"] = parse_event_log(log, timer.windows, mat.windows)
    with open(os.path.join(a.work, f"result-{a.trace}.json"), "w") as f:
        json.dump(result, f)
    return 0


def _progress(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _brief(e: Exception) -> str:
    first = str(e).splitlines()[0] if str(e) else ""
    return f"{type(e).__name__}: {first}"[:300]


def _cached_bytes(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return float(sum(i.memSize() + i.diskSize() for i in infos))


if __name__ == "__main__":
    sys.exit(main())
