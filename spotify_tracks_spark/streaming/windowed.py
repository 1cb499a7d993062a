"""Streaming windowed aggregation — tumbling event-time windows with a
watermark, the Structured Streaming counterpart of the reference's
calendar-bucketed rollup (SURVEY.md §2.9: the weekly discovery rollup is
batch by contract; this operator is the engine's streaming-native window
capability).

Semantics (append mode, availableNow): a window emits once the watermark
passes its end — exactly the set ``window_end <= max(event_time) -
watermark_delay`` for a drained source, which is what the DuckDB oracle
computes, so the streaming result is hash-checkable like any batch query.

Scale shape: the windowed count is a streaming hash aggregate keyed on
(window, event_type) — partial aggregation per input partition, one
shuffle of partial counts, state bounded by (#open windows × #types) per
shard.  The watermark expires state; no unbounded growth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .drain import events_stream, to_memory

WINDOW = "1 day"
WATERMARK = "1 day"
SLIDE = "12 hours"
INNER_WINDOW = "10 minutes"


def stream_events_windowed(
    spark: SparkSession, sf_dir: str, slide: str | None = None
) -> DataFrame:
    """Event counts per type and 1-day window over the events stream
    (availableNow drain); returns the emitted (finalized) windows.

    ``slide=None`` is tumbling.  ``slide=SLIDE`` (12 h) is the sliding
    form dashboards use when tumbling edges are too jumpy: each event
    lands in window/slide = 2 overlapping windows.  Same emission
    contract either way, so the drained result equals the batch bucket
    expansion the oracle computes.  Sliding state doubles (2 open windows
    per key instead of 1) but stays watermark-bounded; Spark implements
    the multi-window assignment as an Expand (×2) BEFORE the partial
    aggregate, so the shuffle carries partial counts, not duplicated
    events."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW, slide).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    return to_memory(agg, "append")


def stream_events_update_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-mode streaming aggregate — the third output mode (append
    and complete are covered by the window/enrich operators): per-type
    running counts where each trigger emits only the keys whose state
    CHANGED in that batch.

    Drained with availableNow over the single-file events source, the
    whole input lands in one micro-batch, so the emitted update set is
    every key exactly once and equals the batch aggregate — which is
    what the oracle checks.  (On a multi-batch source the memory sink
    would hold one row per (batch, updated key); the operator contract
    is the update STREAM, and the single-batch drain is the
    deterministic slice of it the harness can hash.)  No watermark: an
    unwindowed running aggregate keeps |keys| state rows forever, which
    is the documented cost of update-mode dashboards at 100 TB — bounded
    here by |event types|."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    return to_memory(agg, "update")


def stream_events_peak_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregation — window-over-window: 10-minute
    tumbling counts per type, re-aggregated into the per-day PEAK
    10-minute rate.  Two stateful operators in one streaming query, the
    Spark-4 multi-stateful-operator capability (unsupported before 3.5:
    SPARK-40925); the outer ``F.window`` re-windows the inner window
    struct directly.

    Emission contract (append mode, availableNow): the inner aggregate
    forwards a 10-min window downstream once the watermark passes its
    end; the outer day window emits once the watermark passes the DAY
    end — so the drained result is exactly the day windows with
    ``day_end <= max(ts) − delay``, every one built from fully-final
    inner windows (their ends are ≤ the day end).  That is what the
    DuckDB oracle computes, making this hash-checkable like the
    single-stage windows.

    Scale shape: state = (#open 10-min windows + #open day windows) ×
    #types per shard, watermark-bounded; the second stage's input is the
    inner AGGREGATE stream (144 rows/day/type), never the log."""
    inner_agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", INNER_WINDOW).alias("win10"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    outer_agg = (
        inner_agg.groupBy(
            F.window(F.col("win10"), WINDOW).alias("day_win"), "event_type"
        )
        .agg(F.max("n_events").alias("peak_10min_events"))
        .select(
            F.col("day_win.start").alias("day_start"),
            F.col("day_win.end").alias("day_end"),
            "event_type",
            "peak_10min_events",
        )
    )
    return to_memory(outer_agg, "append")
