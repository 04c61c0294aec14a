"""Streaming windowed operators over an events stream.

The reference has NO streaming surface (SURVEY §2.4) — this is engine-tier
capability. Each operator here takes a STREAMING DataFrame (readStream) with
the events schema (event_id, ts, user_id, event_type, value, props) and
returns a streaming DataFrame; batch twins live in
queries/streaming_batch.py and are the oracle-checked forms.

Watermarking: every stateful operator bounds its state with a watermark —
unbounded state is the streaming equivalent of an unpartitioned shuffle:
fine in a demo, fatal at scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

EVENTS_DDL = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per-window, per-type counts/sums; late data beyond the watermark is
    dropped and window state is evicted once the watermark passes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (dynamic gap-merged state per user)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Stateful stream dedup on (user_id, event_type) with bounded state —
    dropDuplicatesWithinWatermark evicts keys once the watermark passes."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def error_click_followups(
    events: DataFrame, horizon: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """STREAM-STREAM inner join: for each error, the same user's clicks
    within ``horizon`` AFTER it. Both sides carry watermarks and the join
    condition bounds event time from both directions — that pair is what
    lets Spark expire join state (an unbounded stream-stream join is a
    state leak; the time bound makes state ∝ users active within the
    horizon).

    Batch twin (oracle-checked): queries/streaming_batch.interval_join_error_clicks.
    """
    errors = (
        events.filter(F.col("event_type") == "error")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    return errors.join(
        clicks,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts"))
        & (F.col("c_ts") <= F.col("e_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select("error_id", "click_id", F.col("e_user").alias("user_id"), "e_ts", "c_ts")


def windowed_user_totals(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per-window per-user value totals — the streaming aggregate feeding
    :func:`start_windowed_topk_sink`. State is one row per (window, user)
    inside the watermark horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "user_id", "total_value")
    )


def start_windowed_topk_sink(
    events: DataFrame,
    path: str,
    k: int = 3,
    window: str = "1 hour",
    watermark: str = "2 hours",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming windowed top-k: maintain per-(window, user) totals as an
    upserted snapshot, re-rank per micro-batch, write the top-k per window
    to ``path``.

    Rank-over-window is not expressible inside a streaming plan (no
    ordered state), so this is the canonical two-stage pattern: the
    STREAMING stage is an incremental watermarked aggregation in UPDATE
    mode (state bounded by the watermark horizon — complete mode would
    pin every window ever seen), and foreachBatch MERGEs the changed
    (window, user) rows into a totals snapshot (``path + "_totals"``)
    before ranking it. Both writes are per-batch recomputations of
    snapshots from merged state, so epoch replay is idempotent like
    sinks.start_upsert_parquet_sink.
    """
    from pyspark.sql import Window as W

    from rippledb_engine.operators.merge import merge_upsert

    agg = windowed_user_totals(events, window, watermark)
    totals_path = path + "_totals"
    keys = ["window_start", "user_id"]

    def _merge_rank_write(batch_df: DataFrame, batch_id: int) -> None:
        from rippledb_engine.streaming.sinks import snapshot_ready

        spark = batch_df.sparkSession
        # _SUCCESS-gated probe: a torn overwrite reads as absent and the
        # replayed batch rebuilds it (see sinks.snapshot_ready).
        if snapshot_ready(spark, totals_path):
            target = spark.read.parquet(totals_path)
            totals = merge_upsert(target, batch_df.select(*target.columns), keys)
        else:
            totals = batch_df
        totals = totals.localCheckpoint(eager=True)
        totals.write.mode("overwrite").parquet(totals_path)
        w = W.partitionBy("window_start").orderBy(
            F.desc("total_value"), F.asc("user_id")
        )
        (
            totals.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .write.mode("overwrite")
            .parquet(path)
        )

    writer = agg.writeStream.outputMode("update").foreachBatch(_merge_rank_write)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
