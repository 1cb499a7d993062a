"""Q2–Q4 — dimension models: deduplicated entity directories with lifetime
aggregates.

Reference: dbt_spotify/models/marts/{dim_track,dim_artist,dim_album}.sql.
The reference shape is aggregate-then-join-then-DISTINCT (no OVER clauses
anywhere in the repo — SURVEY.md §2.8); we keep that form as the contract.

Scale notes:
- The aggregate and the join shuffle on the same entity key, so Spark reuses
  the exchange; the summary side is tiny (one row per entity) and AQE turns
  the join into a broadcast at runtime.
- ``distinct()`` after the grain-expanding join collapses play grain back to
  entity grain — a full-row hash aggregate.  All non-key columns are
  functionally determined by the key, so output row count == entity count.
- The reference's trailing ``ORDER BY`` on table materializations carries no
  relational guarantee (SURVEY.md §2.6); we omit the global sort — at 100 TB
  a presentation sort of a dim table is a pure waste of a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def dim_track(stg: DataFrame) -> DataFrame:
    """One row per ``track_id`` (dim_track.sql:1-39)."""
    summary = stg.groupBy("track_id").agg(
        F.count("*").alias("total_plays"),
        F.min("played_at_mtn").alias("dttm_first_played"),
    )
    # "In the instance that we have multiple values for duration, take the
    # maximum" (dim_track.sql:14-21).
    duration = stg.groupBy("track_id").agg(F.max("duration_ms").alias("duration_ms"))
    return (
        stg.select("track_id", "album_id", "track_album", "track_name", "track_artists")
        .join(summary, "track_id", "left")
        .join(duration, "track_id", "left")
        .select(
            "track_id",
            "album_id",
            F.col("track_album").alias("album"),
            "track_name",
            F.col("track_artists").alias("artists"),
            "total_plays",
            "dttm_first_played",
            F.year(F.col("dttm_first_played").cast("date")).cast("long").alias("yr_first_played"),
            F.weekofyear(F.col("dttm_first_played").cast("date")).cast("long").alias("wk_first_played"),
            "duration_ms",
        )
        .distinct()
    )


def dim_artist(stg: DataFrame) -> DataFrame:
    """One row per ``artist_id`` — an artist *set* (comma-joined collaboration
    string), so "A" and "A, B" are distinct entities (dim_artist.sql:1-24)."""
    summary = stg.groupBy("artist_id").agg(
        F.count("*").alias("total_plays"),
        F.min("played_at_mtn").alias("dttm_first_played"),
    )
    return (
        stg.select("artist_id", "track_artists")
        .join(summary, "artist_id", "left")
        .select(
            "artist_id",
            F.col("track_artists").alias("artists"),
            "total_plays",
            "dttm_first_played",
            F.year(F.col("dttm_first_played").cast("date")).cast("long").alias("yr_first_played"),
            F.weekofyear(F.col("dttm_first_played").cast("date")).cast("long").alias("wk_first_played"),
        )
        .distinct()
    )


def dim_album(stg: DataFrame) -> DataFrame:
    """One row per ``album_id`` (dim_album.sql:1-10)."""
    return stg.select(
        "album_id",
        F.col("track_album").alias("album"),
        F.col("album_release_date").alias("release_date"),
    ).distinct()
