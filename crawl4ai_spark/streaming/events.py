"""Structured Streaming surface.

The reference's "streaming" is delivery-mode only (async generators,
bfs_strategy.py:194-247) — no event-time semantics — so the engine's
crawl loop stays batch-iterative (SURVEY §2.9). This module covers the
genuinely streaming-shaped work around a crawl at scale: continuous
ingestion of fetch/metric event feeds with event-time windows and
late-data handling, and a foreachBatch bridge that drives the same
round logic incrementally.

All functions take/return streaming DataFrames so they compose with
any source (kafka / file / rate); tests drive them with a file source
+ availableNow trigger, which is also the replay-from-archive path in
production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark.
    Output: (window_start, window_end, event_type, n, total)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "n", "total",
        )
    )


def stream_dedup(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once event ingestion: drop re-delivered events by key
    within the watermark horizon (at-least-once sources — kafka
    redelivery, file-source replays — become effectively-once
    downstream). State per key is retained only until the watermark
    passes it, so state size is bounded by the horizon's key arrival
    rate, not the stream's lifetime — the property that matters on an
    unbounded feed.

    Streaming-only (dropDuplicatesWithinWatermark requires an
    event-time watermark); the batch replay twin of the same semantics
    over an archived feed is plain DISTINCT when re-deliveries are
    byte-identical (the `events_dedup` registry query).
    """
    return events.withWatermark(ts_col, watermark) \
        .dropDuplicatesWithinWatermark(list(key_cols))


def stream_to_table(stream_df: DataFrame, table, checkpoint_dir: str,
                    trigger_available_now: bool = True,
                    key_cols: list[str] | None = None):
    """foreachBatch bridge into the engine's snapshot tables: each
    micro-batch commits atomically, so the streaming path shares the
    batch path's checkpoint/resume semantics (and its readers).

    Update-mode aggregates re-emit a key's row every micro-batch it
    changes in, so pass ``key_cols`` for aggregated streams — each
    batch then UPSERTS (new row wins) and the table holds exactly one
    current row per key. Without keys the batch appends — correct for
    append-only event feeds (dedup/sessionize outputs), wrong for
    re-emitting aggregates spanning multiple batches."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.persist()  # isEmpty + write: one computation
        try:
            if not b.isEmpty():
                if key_cols:
                    table.merge_on_key(b.sparkSession, b, key_cols)
                else:
                    table.append(b)
        finally:
            b.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
