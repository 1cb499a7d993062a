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
from ..sources.tables import normalize_events_ts


def stream_events_dedup(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
    key: str = "event_id",
) -> DataFrame:
    """Run the streaming ingest over the events table (availableNow) and
    return the resulting deduplicated sink table as a batch DataFrame.

    A redelivery more than ``watermark`` after a key's first sighting may
    pass the stream dedup; the sink's ``append_if_absent`` still drops
    it, so the table stays exactly-once while the state store holds only
    the keys inside the watermark."""
    # `ts` is normalized to a microsecond timestamp before the watermark via
    # the shared dtype-guarded helper (sources/tables.py) — a no-op for the
    # timestamp[us] testdata, a lossless integer conversion for nanos-as-long.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    # The dedup state store shards by spark.sql.shuffle.partitions, fixed
    # into the checkpoint at first batch.  A single-source availableNow run
    # doesn't need the batch-width default (32): 8 shards cut state-store
    # checkpoint/commit overhead ~4× here.  A continuous 100 TB deployment
    # sizes this to (executors × cores) instead — it is per-checkpoint
    # immutable either way, so it must be set before .start().
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    stream = (
        normalize_events_ts(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark([key])
    )

    def sink_batch(batch: DataFrame, batch_id: int) -> None:
        spark_ = batch.sparkSession
        try:
            existing = spark_.read.parquet(out_dir)
        except Exception:  # first batch: empty sink
            existing = spark_.createDataFrame([], batch.schema)
        fresh = append_if_absent(existing, batch, [key])
        fresh.write.mode("append").parquet(out_dir)

    try:
        (
            stream.writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    return spark.read.parquet(out_dir)
