"""JSON payload flatten — the ingest transformation of the reference
(``_get_items``, flows/pull_recent_tracks.py:112-151) as declarative
Spark expressions.

The reference flattens the nested Spotify ``recently-played`` response in
Python dict code; here it is ``from_json`` + ``explode(items)`` + struct
field access (null-safe by construction in Spark) + ``array_join`` over the
artists array (order-preserving, matching ``", ".join(...)`` at :132-141).
Output columns/order = the source INSERT list (:221-223).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..schemas import RECENTLY_PLAYED_PAYLOAD


def flatten_payload(raw: DataFrame, json_col: str = "payload") -> DataFrame:
    """raw: one row per API response body (string col ``json_col``)."""
    item = F.col("item")
    track = item["track"]
    return (
        raw.select(F.from_json(F.col(json_col), RECENTLY_PLAYED_PAYLOAD).alias("r"))
        .select(F.explode("r.items").alias("item"))
        .select(
            track["name"].alias("track_name"),
            track["album"]["name"].alias("track_album"),
            F.array_join(
                F.transform(track["artists"], lambda a: a["name"]), ", "
            ).alias("track_artists"),
            track["album"]["release_date"].alias("album_release_date"),
            track["album"]["release_date_precision"].alias("release_date_precision"),
            track["popularity"].alias("track_popularity"),
            item["played_at"].alias("played_at"),
            item["context"]["type"].alias("context"),  # null-safe: NULL struct → NULL field
            track["duration_ms"].alias("duration_ms"),
        )
    )
