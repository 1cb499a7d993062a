"""Structured Streaming ingest — the explicit version of the reference's
operational micro-batching (SURVEY.md §2.9).

The reference polls an at-least-once source on a cron and relies on
``ON CONFLICT DO NOTHING`` for effective exactly-once.  The Spark-native
mapping:

- ``readStream`` over the source (file source here; the REST adapter in
  ``sources/rest.py`` plays the driver-side role in batch mode);
- ``withWatermark`` sized to the redelivery window (the API's ≤50-item
  overlap ⇒ 1 day is generous);
- ``dropDuplicatesWithinWatermark([key])``: a key's state is evicted
  once the watermark passes its first-seen event time plus the delay, so
  the watermark bounds the dedup state store (plain ``dropDuplicates`` on
  a key without the event-time column keeps every key forever);
- ``foreachBatch`` + ``append_if_absent`` makes the sink idempotent across
  restarts (at-least-once micro-batches → exactly-once table effect);
- ``trigger(availableNow=True)`` = the cron-run semantics: drain what's
  available, checkpoint, exit.

At scale: the state store shards by key hash across executors; the
watermark keeps it bounded to ~1 day of keys; the foreachBatch append
ranks the micro-batch with the sink's key projection in one exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.idempotent_sink import append_if_absent
from .drain import events_stream, run

WATERMARK = "1 day"
KEY = "event_id"


def stream_events_dedup(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Run the streaming ingest over the events table (availableNow) and
    return the resulting deduplicated sink table as a batch DataFrame.

    A redelivery more than ``WATERMARK`` after a key's first sighting may
    pass the stream dedup; the sink's ``append_if_absent`` still drops
    it, so the table stays exactly-once while the state store holds only
    the keys inside the watermark."""
    stream = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark([KEY])
    )

    def sink_batch(batch: DataFrame, batch_id: int) -> None:
        spark_ = batch.sparkSession
        try:
            existing = spark_.read.parquet(out_dir)
        except Exception:  # first batch: empty sink
            existing = spark_.createDataFrame([], batch.schema)
        fresh = append_if_absent(existing, batch, [KEY])
        fresh.write.mode("append").parquet(out_dir)

    run(spark, stream.writeStream.foreachBatch(sink_batch), checkpoint_dir)
    return spark.read.parquet(out_dir)
