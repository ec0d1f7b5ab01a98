"""Structured Streaming incremental path (SURVEY.md §2.9 T1/T4).

The reference's "daily mode" is a scheduled batch pull of rows updated
in the last day (reference src/main_extractor.py:42-51,358) with no
late/duplicate handling (re-runs overwrite files). The streaming
re-expression: a file-source stream over the events fact, a 1-day
watermark bounding state, ``dropDuplicatesWithinWatermark`` on the
event id (dedup state evicts with the watermark — plain
``dropDuplicates`` keyed only on event_id would grow state forever),
and the per-day insights aggregate (A1) computed continuously — the
same result the batch aggregate produces, verified by test.

Scale notes:
- the watermark bounds dedupe + window state to ~1 day of keys per
  partition — constant memory at any throughput;
- ``maxFilesPerTrigger`` is the pacing knob (the reference's
  rate-limit sleeps, reference src/main_extractor.py:318-319, map to
  trigger pacing);
- sink-side, a real deployment writes ``foreachBatch`` →
  ``merge_upsert`` (incremental.py) for exactly-once table upserts;
  the demo uses availableNow + memory sink so tests terminate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def streaming_daily_insights(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream → watermark → dropDuplicatesWithinWatermark(event_id)
    → tumbling 1-day window aggregate per event_type. Append-mode
    capable (the watermark closes windows); dedup state is evicted as
    the watermark advances, so it stays bounded at any stream
    length."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(source_dir)
    return (
        events.withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 day").alias("day"), F.col("event_type"))
        .agg(
            F.count("*").alias("events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("day.start").alias("event_date"),
            "event_type",
            "events",
            "total_value",
        )
    )


def streaming_sliding_insights(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    window_days: int = 3,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Sliding-window companion to the daily aggregate: a trailing
    ``window_days``-day window sliding by 1 day — the "3-day rolling
    spend per event type" view an ops dashboard reads. Each event
    contributes to ``window_days`` windows; Spark's window() generates
    the assignments at the map side (an Expand, no self-join), so the
    plan stays one shuffle on (window, event_type) and the watermark
    still closes windows — aggregation state is bounded to
    ~window_days + 1 day of open windows, and the event-id dedup uses
    ``dropDuplicatesWithinWatermark`` so its state store evicts with
    the watermark too, regardless of stream length."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(source_dir)
    return (
        events.withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(
            F.window("ts", f"{window_days} days", "1 day").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "events",
            "total_value",
        )
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Drain everything currently available through the streaming plan
    into an in-memory table and return it as a batch DataFrame — the
    test/demo harness for the incremental path. ``output_mode`` is
    "complete" for windowed aggregates, "append" for arbitrary-stateful
    operators (streaming/stateful.py).

    ``shuffle_partitions`` pins the STATE-STORE partition count for
    this query (stateful streaming ops allocate one RocksDB/HDFS state
    store per shuffle partition, fixed at first checkpoint): a short
    demo drain over fixture-sized data pays per-store setup ~32× under
    the session default, so the drain queries pass 4–8 here. Sized to
    sustained throughput — not lowered — on a production cluster,
    where the count is immutable for the checkpoint's life. The
    session conf is restored after the drain (conf is consulted at
    query start, so the scoped set-then-restore is race-free for a
    drained query)."""
    spark = stream_df.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf_key) if shuffle_partitions is not None else None
    if shuffle_partitions is not None:
        spark.conf.set(conf_key, str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if saved is not None:
            spark.conf.set(conf_key, saved)
    return spark.table(query_name)


def stream_merge_to_table(
    stream_df: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    key: str,
    order_col: str,
    tiebreak: str,
) -> None:
    """The production sink this module's header promises: ``foreachBatch``
    → ``incremental.merge_upsert``. Structured Streaming guarantees
    at-least-once delivery of each micro-batch to the sink; MERGE by
    key makes the write idempotent, so the composition is exactly-once
    table state — a replayed micro-batch (sink failure after commit,
    checkpoint rollback, full re-run) upserts the same rows it already
    upserted and the table is byte-identical. Verified by
    tests/test_lake.py::test_stream_foreachbatch_merge_replay_safe,
    which replays the entire stream against a fresh checkpoint.

    At scale the same shape runs continuously (drop ``availableNow``):
    the per-batch MERGE cost is bounded by batch size × table bucketing,
    not stream history."""

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        from ad_data_lake_spark.incremental import merge_upsert

        merge_upsert(
            batch_df.sparkSession, target_path, batch_df, key, order_col, tiebreak
        )

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def batch_equivalent(events: DataFrame) -> DataFrame:
    """The batch aggregate the stream must reproduce (dedupe by
    event_id, then per-day per-type counts/sums)."""
    return (
        events.dropDuplicates(["event_id"])
        .groupBy(F.date_trunc("day", F.col("ts")).alias("event_date"), "event_type")
        .agg(
            F.count("*").alias("events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


ATTRIBUTION_LOOKBACK_HOURS = 3


def streaming_attribution_join(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    lookback_hours: int = ATTRIBUTION_LOOKBACK_HOURS,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-stream interval join: conversions (purchases) joined to
    every click by the same user within the preceding ``lookback_hours``
    — the multi-touch companion to the batch as-of join
    (operators/temporal.py gives last-touch; this gives every touch).

    Both sides carry a watermark and the join condition bounds touch
    time to [conv_ts - lookback, conv_ts), so the state store retains
    at most watermark + lookback of rows per side and evicts as event
    time advances — the constraint that makes a stream-stream join
    runnable indefinitely. Inner join + both-side watermarks + a
    two-sided time bound is exactly the shape Structured Streaming
    requires to emit appends eagerly."""
    def reader():
        r = spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            r = r.option("maxFilesPerTrigger", max_files_per_trigger).option(
                "recursiveFileLookup", "true"
            )
        return r.parquet(source_dir)

    touches = (
        reader()
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("touch_event_id"),
            F.col("user_id").alias("touch_user_id"),
            F.col("ts").alias("touch_ts"),
        )
        .withWatermark("touch_ts", "1 day")
    )
    convs = (
        reader()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("conv_event_id"),
            "user_id",
            F.col("ts").alias("conv_ts"),
        )
        .withWatermark("conv_ts", "1 day")
    )
    return convs.join(
        touches,
        (F.col("user_id") == F.col("touch_user_id"))
        & (F.col("touch_ts") >= F.col("conv_ts") - F.expr(f"INTERVAL {lookback_hours} HOURS"))
        & (F.col("touch_ts") < F.col("conv_ts")),
    ).select("conv_event_id", "user_id", "conv_ts", "touch_event_id", "touch_ts")
