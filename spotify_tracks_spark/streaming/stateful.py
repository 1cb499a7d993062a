"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` — the escape hatch for semantics Spark's
built-in streaming aggregates can't express (a session's extent depends on
the *data*, not a fixed window).

Per user_id, events accumulate into sessions split on >gap quiet periods.
Two tails, chosen by ``flush_tail``:

- flush (the default, and what the registered entry runs): at the end of
  EVERY micro-batch each key's open session is closed and emitted and its
  state removed.  So the result equals the batch window-function
  sessionization (operators/events.py, the oracle used to check it) only
  for a one-batch drain — the registered single-file source — and a
  session spanning a batch boundary comes out split.
- carry: the open tail stays in state and is merged with the next
  batch's events, so sessions spanning batch boundaries are stitched
  correctly; only closed sessions are emitted (exercised by a
  multi-batch test).

Scale shape: state shards by user_id hash across executors; per-key state
is one (start, end, count) tuple — O(active users), not O(events).  The
Pandas path is Arrow-batched; each group's events arrive sorted by the
caller's repartition+sort, not collected to the driver.
"""

from __future__ import annotations

import functools
import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.tables import normalize_events_ts
from .drain import run

GAP_MINUTES = 30

OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("count", T.LongType()),
    ]
)


def _sessionize(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    flush_tail: bool,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    gap_s = GAP_MINUTES * 60

    ts_us: list[int] = []
    for pdf in pdfs:
        ts_us.extend(int(t.value) // 1_000 for t in pdf["ts"])
    ts_us.sort()

    start = end = count = None
    if state.exists:
        start, end, count = state.get

    closed: list[tuple[int, int, int, int]] = []
    for t in ts_us:
        if start is None:
            start, end, count = t, t, 1
        elif t // 1_000_000 - end // 1_000_000 > gap_s:
            closed.append((user_id, start, end, count))
            start, end, count = t, t, 1
        else:
            end, count = max(end, t), count + 1

    if start is not None:
        if flush_tail:
            closed.append((user_id, start, end, count))
            state.remove()
        else:
            state.update((start, end, count))
    if not closed:
        return iter(())

    out = pd.DataFrame(closed, columns=["user_id", "start_us", "end_us", "n_events"])
    out["session_start"] = pd.to_datetime(out.pop("start_us"), unit="us")
    out["session_end"] = pd.to_datetime(out.pop("end_us"), unit="us")
    return iter([out[["user_id", "session_start", "session_end", "n_events"]]])


def stream_sessionize(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    glob: str = "events.parquet",
    flush_tail: bool = True,
) -> DataFrame:
    """Run stateful sessionization over a parquet stream (availableNow) and
    return the emitted sessions as a batch DataFrame."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.option("pathGlobFilter", glob).parquet(src_dir).schema
    out_dir = tempfile.mkdtemp(prefix="stream_sess_out_")
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    sessions = (
        normalize_events_ts(stream)
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            functools.partial(_sessionize, flush_tail=flush_tail),
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    run(
        spark,
        sessions.writeStream.format("parquet").option("path", out_dir),
        checkpoint_dir,
    )
    return spark.read.parquet(out_dir)
