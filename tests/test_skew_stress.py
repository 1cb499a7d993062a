"""Hot-key skew stress (round-7 advice item 7).

Every plan-lint exemption argues "tiny grain"; this file stress-tests the
claim that matters at 100 TB: the per-entity window family must survive a
pathologically skewed key distribution.  The fixture regenerates an
``events`` table where ONE user carries ~100x the rows of every other
user (a hot key holding ~half the log), then asserts:

1. the fixture IS skewed: hash-partitioning on ``user_id`` alone leaves
   a straggler partition >10x the median (the thing that serializes a
   1000-executor cluster behind one task);
2. ``events_topk_per_user`` needs no salting on that input: Spark
   plans a Partial ``WindowGroupLimit`` below the ``user_id`` exchange,
   so every map task keeps at most k rows per user before the shuffle
   (the map-side top-k a two-phase salted form would hand-code);
3. the sessionize / rank-function family still completes and returns
   per-user-correct grains on the skewed input (at this scale they
   finish regardless; the assertion pins correctness so a future
   skew-handling rewrite can't silently change semantics).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

N_USERS = 100
ROWS_PER_USER = 400
HOT_MULTIPLIER = 100  # hot user carries 100x a normal user's rows
N_SHUFFLE = 32


@pytest.fixture(scope="module")
def skew_dir(spark, tmp_path_factory) -> str:
    """A schema-identical events table with a planted 100:1 hot user."""
    root = str(tmp_path_factory.mktemp("skew"))
    normal = spark.range(N_USERS * ROWS_PER_USER).select(
        F.col("id").alias("event_id"),
        (F.col("id") % N_USERS).alias("user_id"),
    )
    hot = spark.range(ROWS_PER_USER * HOT_MULTIPLIER).select(
        (F.col("id") + N_USERS * ROWS_PER_USER).alias("event_id"),
        F.lit(0).cast("long").alias("user_id"),
    )
    (
        normal.unionByName(hot)
        .select(
            "event_id",
            F.timestamp_seconds(
                F.lit(1704067200) + F.col("event_id") % 86400 * 60
            ).alias("ts"),
            "user_id",
            F.element_at(
                F.array(F.lit("click"), F.lit("view"), F.lit("purchase")),
                (F.col("event_id") % 3 + 1).cast("int"),
            ).alias("event_type"),
            (F.pmod(F.crc32(F.col("event_id").cast("string")), F.lit(1000))
             / 10.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(f"{root}/events.parquet")
    )
    return root


def _partition_histogram(df) -> list[int]:
    rows = (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .count()
        .collect()
    )
    return sorted(r["count"] for r in rows)


def _median(xs: list[int]) -> float:
    n = len(xs)
    return (xs[n // 2] + xs[(n - 1) // 2]) / 2


def test_fixture_is_skewed_and_topk_limits_before_exchange(spark, skew_dir):
    from spotify_tracks_spark.operators.analytics import events_topk_per_user
    from spotify_tracks_spark.sources.tables import read_table

    ev = read_table(spark, skew_dir, "events").select(
        "user_id", "event_id", "value"
    )
    # hash-partition on the bare key: the hot user's ~40k rows land in
    # ONE partition — the straggler a key-partitioned window would make
    plain = _partition_histogram(ev.repartition(N_SHUFFLE, "user_id"))
    assert max(plain) > 10 * _median(plain), (
        f"fixture not skewed enough: {plain[-3:]} vs median {_median(plain)}"
    )

    # the straggler never forms for top-k: a Partial WindowGroupLimit
    # below the user_id exchange cuts each map task to k rows per user
    topk = events_topk_per_user(spark, skew_dir)
    topk.collect()
    lines = topk._jdf.queryExecution().executedPlan().toString().splitlines()
    exchange = next(
        i for i, ln in enumerate(lines) if "Exchange hashpartitioning(user_id" in ln
    )
    assert any(
        "WindowGroupLimit" in ln and "Partial" in ln for ln in lines[exchange + 1 :]
    ), "\n".join(lines)


def test_window_family_completes_correctly_on_skewed_input(spark, skew_dir):
    from spotify_tracks_spark.operators.events import (
        events_rank_functions,
        events_sessionize,
    )

    sess = events_sessionize(spark, skew_dir)
    agg = sess.agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    ).collect()[0]
    total = N_USERS * ROWS_PER_USER + ROWS_PER_USER * HOT_MULTIPLIER
    assert agg["n_events"] == total  # every row lands in exactly one session
    assert agg["n_sessions"] >= N_USERS

    ranks = events_rank_functions(spark, skew_dir)
    # every row ranked exactly once; percent_rank stays within [0, 1]
    chk = ranks.agg(
        F.count("*").alias("n"),
        F.countDistinct("event_type").alias("types"),
        F.max("pct_rank").alias("mx"),
        F.min("pct_rank").alias("mn"),
    ).collect()[0]
    assert chk["n"] == total
    assert chk["types"] == 3
    assert 0.0 <= chk["mn"] <= chk["mx"] <= 1.0
