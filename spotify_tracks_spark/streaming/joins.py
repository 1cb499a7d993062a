"""Stream-stream interval join — click→purchase attribution, the
Structured Streaming join shape a real-time events pipeline needs.

Both sides are watermarked streams of the same events source (filtered to
one event_type each); the join is an equi-join on ``user_id`` with an
event-time interval bound (click within the hour before the purchase).
Append mode + availableNow drain emits every matching pair exactly once,
so the total output equals the equivalent batch self-join — which is
exactly the DuckDB oracle used to check it.

Scale shape: state shards by the join key (user_id hash) across
executors.  The watermark + time-range condition lets Spark expire
buffered rows on BOTH sides (a click older than watermark + 1 h can never
match a future purchase), so state is bounded by the event rate within
the watermark horizon, not the stream length — the difference between a
join that runs forever and one that OOMs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.time_utils import epoch_micros
from .drain import events_stream, to_memory

WATERMARK = "1 day"


def _click_purchase_pairs(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Purchases joined (``how``) to same-user clicks in the preceding
    hour; both sides are watermarked streams of the events source."""

    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            events_stream(spark, sf_dir)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", WATERMARK)
        )

    return side("purchase", "purchase").join(
        side("click", "click"),
        F.expr(
            "purchase_user = click_user"
            " AND click_ts >= purchase_ts - interval 1 hour"
            " AND click_ts <= purchase_ts"
        ),
        how,
    )


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases joined to same-user clicks in the preceding hour
    (availableNow drain); returns the emitted pairs."""
    pairs = _click_purchase_pairs(spark, sf_dir, "inner")
    return to_memory(
        pairs.select(
            "purchase_id",
            "click_id",
            F.col("purchase_user").alias("user_id"),
            "purchase_ts",
            "click_ts",
            (
                epoch_micros(F.col("purchase_ts")) - epoch_micros(F.col("click_ts"))
            ).alias("lag_us"),
        ),
        "append",
    )


# static enrichment dimension: event_type -> (category, weight).  A real
# deployment reads this from a dimension table; the literal rows keep the
# operator self-contained and the oracle exact.
ENRICH_DIM = (
    ("view", "browse", 1.0),
    ("click", "browse", 2.0),
    ("purchase", "convert", 10.0),
    ("signup", "convert", 5.0),
    ("error", "ops", 0.0),
)


def stream_events_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against a static
    dimension — the remaining Structured Streaming join shape beside the
    stream-stream interval join (stream-static needs NO watermark and NO
    join state: the static side broadcasts to every micro-batch task and
    each streaming row joins map-side, exactly like a batch broadcast
    join).  Left join keeps unmatched stream rows with NULL enrichment —
    dropping events because the dim is stale is never the right default.

    Aggregated per (category) after the join to keep the emitted result
    small and deterministic; the per-row enriched stream is the
    intermediate a production pipeline would sink.  At 100 TB/day the
    static side refreshes per micro-batch pick-up, costing one broadcast
    per trigger — the standard slowly-refreshing-dim pattern.

    Output: (category, n_events, weighted_value) where weighted_value =
    Σ value·weight (exact: weights are small literals, one multiply per
    row — same IEEE sequence in the oracle)."""
    dim = spark.createDataFrame(
        list(ENRICH_DIM), "event_type string, category string, weight double"
    )
    enriched = (
        events_stream(spark, sf_dir)
        .join(F.broadcast(dim), "event_type", "left")
        .select(
            F.coalesce("category", F.lit("unknown")).alias("category"),
            (F.col("value") * F.coalesce("weight", F.lit(0.0))).alias("wv"),
        )
    )
    agg = enriched.groupBy("category").agg(
        F.count("*").alias("n_events"),
        F.sum("wv").alias("weighted_value"),
    )
    return to_memory(agg, "complete")


def stream_click_purchase_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the attribution join that
    also emits purchases WITHOUT a qualifying click (null click columns),
    the hard case of streaming joins: an unmatched left row can only be
    emitted once the watermark proves no future right row can match it.

    Emission contract under an availableNow drain (global watermark =
    min over both sides' max event time − delay, advanced by the final
    no-data batch): every matching pair emits exactly once (same as the
    inner join); an unmatched purchase emits with nulls iff
    ``purchase_ts < global_watermark`` — a new click must carry
    ``click_ts ≥ watermark``, and the join bound ``click_ts ≤
    purchase_ts`` then rules out any purchase older than the watermark,
    so those rows are provably final.  Purchases inside the final
    watermark horizon stay buffered (correctly — their outcome is still
    open); the DuckDB oracle encodes exactly this rule.

    Scale shape: identical state bound to the inner join — both sides
    expire by watermark + interval bound; the outer semantics add no
    state, only the null-emit on eviction."""
    pairs = _click_purchase_pairs(spark, sf_dir, "left_outer")
    return to_memory(
        pairs.select(
            "purchase_id",
            "click_id",
            F.col("purchase_user").alias("user_id"),
            "purchase_ts",
            "click_ts",
        ),
        "append",
    )
