"""The availableNow drain — the one place that knows how a stream runs.

The reference's ingest is a cron-run micro-batch over an at-least-once
source (SURVEY.md §2.9); the Structured Streaming form of "drain what is
available, checkpoint, exit" is ``trigger(availableNow=True)``.  Every
streaming operator builds its query and hands the writer to ``run``; the
operators whose result is small enough to hold on the driver drain into a
memory sink through ``to_memory``, which cleans up after itself.
"""

from __future__ import annotations

import itertools
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from ..sources.tables import normalize_events_ts

# State-store shards.  spark.sql.shuffle.partitions is fixed into a
# checkpoint at its first batch, so it must be set before .start().  A
# single-source availableNow drain doesn't need the batch-width default
# (32): 8 shards cut state-store checkpoint/commit overhead ~4×.  A
# continuous 100 TB deployment sizes this to (executors × cores) instead.
STATE_SHARDS = "8"

_SINK_IDS = itertools.count()


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file stream, ``ts`` normalized to a
    microsecond timestamp (a no-op for the timestamp[us] testdata, a
    lossless integer conversion for nanos-as-long)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return normalize_events_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def run(spark: SparkSession, writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Drain ``writer``'s query with an availableNow trigger over
    ``STATE_SHARDS`` state shards; the session's shuffle width is restored
    afterwards, so don't run drains concurrently in one session."""
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", STATE_SHARDS)
    try:
        (
            writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def to_memory(df: DataFrame, output_mode: str) -> DataFrame:
    """Drain the streaming ``df`` into a memory sink and return what it
    emitted.  The returned frame holds the sink itself, so the sink's
    catalog view and the checkpoint dir are removed before returning."""
    spark = df.sparkSession
    name = f"drain_{next(_SINK_IDS)}"
    checkpoint_dir = tempfile.mkdtemp(prefix="drain_ckpt_")
    try:
        run(
            spark,
            df.writeStream.outputMode(output_mode).format("memory").queryName(name),
            checkpoint_dir,
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(checkpoint_dir, ignore_errors=True)
