"""A/B: streaming_frequency_cap (applyInPandasWithState — per-key
Arrow state round trips) vs streaming_frequency_cap_batchwise
(foreachBatch: JVM window numbering + a versioned per-user offsets
table, zero Python in the row path) — VERDICT r11 ask #6.

transformWithStateInPandas is not a candidate: its driver worker
imports google.protobuf (pyspark/sql/streaming/proto/StateMessage_pb2),
so it runs only where protobuf is installed.

Method: the bench_streaming discipline — warm pass discarded, min of
two timed passes; wall = the WHOLE registry callable (fixture write +
availableNow drain + read-back). ``--rep N`` reuses bench_streaming's
replicated stream fixture (disjoint id/user spaces, 10× state keys).

Usage: python scripts/ab_freqcap.py [sf_dir] [--rep N]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

NAMES = ("streaming_frequency_cap", "streaming_frequency_cap_batchwise")


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--rep", type=int, default=1)
    ns = ap.parse_args()
    sf_dir, rep = ns.sf_dir, ns.rep

    from ad_data_lake_spark.queries import REGISTRY
    from ad_data_lake_spark.session import get_spark

    spark = get_spark("ab-freqcap")
    spark.sparkContext.setLogLevel("ERROR")
    if rep > 1:
        from bench_streaming import _build_stream_fixture

        sf_dir = _build_stream_fixture(spark, sf_dir, rep)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()

    out = {}
    for name in NAMES:
        fn = REGISTRY[name].fn
        fn(spark, sf_dir).count()  # warm
        walls = []
        for _ in range(2):
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).count()
            walls.append(time.perf_counter() - t0)
        out[name] = {
            "wall_s": round(min(walls), 2),
            "rows": rows,
            "rows_per_s": int(n_events / min(walls)),
        }
        print(f"{name:38s} {out[name]['wall_s']:7.2f} s  "
              f"{out[name]['rows_per_s']:>9d} rows/s")
    print(json.dumps({"sf_dir": sf_dir, "events": n_events, "ab": out}))
    spark.stop()


if __name__ == "__main__":
    main()
