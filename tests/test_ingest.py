"""Ingest-path tests: paginated REST adapter → JSON flatten → idempotent
sink, with a fixture fetcher replacing the network (the reference's path at
flows/pull_recent_tracks.py:160-231)."""

from __future__ import annotations

import pytest

from spotify_tracks_spark.operators.idempotent_sink import idempotent_union
from spotify_tracks_spark.sources.json_flatten import flatten_payload
from spotify_tracks_spark.sources.rest import fetch_pages, pages_to_df


def _item(name, album, artists, played_at, context=None, precision="day",
          release="2020-01-02", pop=55.0, dur=180000.0):
    return {
        "track": {
            "name": name,
            "album": {
                "name": album,
                "release_date": release,
                "release_date_precision": precision,
            },
            "artists": [{"name": a} for a in artists],
            "popularity": pop,
            "duration_ms": dur,
        },
        "played_at": played_at,
        "context": {"type": context} if context else None,
    }


PAGE1 = {
    "items": [
        _item("Song A", "Album X", ["Artist 1", "Artist 2"], "2024-01-01T10:00:00Z", "playlist"),
        _item("Song B", "Album X", ["Artist 1"], "2024-01-01T11:00:00Z", None),
    ],
    "next": "https://api.example/page2",
}
PAGE2 = {
    "items": [
        _item("Song C", "Album Y", ["Artist 3"], "2024-01-01T12:00:00Z", "album"),
        # duplicate of PAGE1's first play — the API window overlap
        _item("Song A", "Album X", ["Artist 1", "Artist 2"], "2024-01-01T10:00:00Z", "playlist"),
    ],
    "next": None,
}


def _fetcher(url: str) -> dict:
    return PAGE2 if "page2" in url else PAGE1


def test_fetch_pages_follows_cursor():
    pages = fetch_pages(_fetcher)
    assert len(pages) == 2
    assert pages[1]["next"] is None


def test_fetch_pages_caps_extra_pages():
    looping = {"items": [], "next": "https://api.example/again"}
    pages = fetch_pages(lambda url: looping, max_extra_pages=5)
    assert len(pages) == 6  # first + 5 follows, mirrors the j < 5 cap


def test_fetch_pages_raises_on_a_bad_page():
    """An API error body or a page without an ``items`` list fails the
    fetch (the reference's ``raise_for_status``) instead of flattening to
    zero rows; an empty ``items`` list stays a valid page."""
    expired = {"error": {"status": 401, "message": "The access token expired"}}
    with pytest.raises(ValueError, match="401.*The access token expired"):
        fetch_pages(lambda url: expired)
    # the error arrives on a follow-up page, after a good first page
    with pytest.raises(ValueError, match="401"):
        fetch_pages(lambda url: expired if "page2" in url else PAGE1)
    for bad in ({"itemz": [], "next": None}, {"items": None, "next": None}):
        with pytest.raises(ValueError, match="items"):
            fetch_pages(lambda url, bad=bad: bad)
    assert fetch_pages(lambda url: {"items": [], "next": None}) == [
        {"items": [], "next": None}
    ]


def test_flatten_payload(spark):
    flat = flatten_payload(pages_to_df(spark, fetch_pages(_fetcher)))
    rows = {(r.track_name, r.played_at): r for r in flat.collect()}
    assert len(flat.collect()) == 4  # flatten keeps duplicates; sink drops them
    a = rows[("Song A", "2024-01-01T10:00:00Z")]
    assert a.track_artists == "Artist 1, Artist 2"  # order-preserving join
    assert a.context == "playlist"
    b = rows[("Song B", "2024-01-01T11:00:00Z")]
    assert b.context is None  # null-safe context access
    assert b.track_popularity == pytest.approx(55.0)


def test_flatten_payload_empty_artists_and_empty_page(spark):
    """An item with an empty artists list and a NULL context flattens to
    one row with an empty artists string; an empty page adds no rows."""
    pages = fetch_pages(_fetcher) + [
        {"items": [_item("Song D", "Album Z", [], "2024-05-02T09:30:00Z")], "next": None},
        {"items": [], "next": None},
    ]
    rows = flatten_payload(pages_to_df(spark, pages)).collect()
    assert len(rows) == 5
    assert [r.track_artists for r in rows if r.track_name == "Song D"] == [""]
    d = next(r for r in rows if r.track_name == "Song D")
    assert (d.track_album, d.played_at, d.context) == (
        "Album Z", "2024-05-02T09:30:00Z", None
    )


def test_pages_to_df_empty_batch(spark):
    raw = pages_to_df(spark, [])
    assert raw.schema.simpleString() == "struct<payload:string>"
    assert raw.count() == 0


def test_flatten_payload_keeps_non_ascii(spark):
    names = ("Sigur Rós", "坂本龍一", "Björk")
    page = {"items": [_item(names[0], names[1], [names[2], names[0]], "2024-01-01T10:00:00Z")],
            "next": None}
    row = flatten_payload(pages_to_df(spark, [page])).collect()[0]
    assert (row.track_name, row.track_album, row.track_artists) == (
        names[0], names[1], f"{names[2]}, {names[0]}"
    )


def test_page_frame_plans_without_python_rdd(spark):
    """The page frame is a local relation: no pickled Python RDD scan (and
    its conversion stage) under the flatten."""
    flat = flatten_payload(pages_to_df(spark, fetch_pages(_fetcher)))
    plan = flat._jdf.queryExecution().sparkPlan().toString()
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan


def test_ingest_end_to_end_dedup(spark):
    flat = flatten_payload(pages_to_df(spark, fetch_pages(_fetcher)))
    key = ["track_name", "track_album", "track_artists", "played_at"]
    empty = spark.createDataFrame([], flat.schema)
    sink = idempotent_union(empty.dropDuplicates(key), flat.dropDuplicates(key), key)
    assert sink.count() == 3  # the overlapping play inserted once


def test_stream_dedup_state_stays_bounded(spark, tmp_path):
    """The watermark bounds the dedup state store: after an availableNow
    drain, the store holds fewer keys than the stream saw, while the sink
    still holds every distinct event exactly once.  Plain
    ``dropDuplicates([key])`` keeps one state row per key forever."""
    from spotify_tracks_spark.sources.tables import read_table
    from spotify_tracks_spark.streaming import stream_events_dedup

    from .conftest import SF_SMOKE

    ckpt = str(tmp_path / "ckpt")
    sink = stream_events_dedup(
        spark, SF_SMOKE, out_dir=str(tmp_path / "out"), checkpoint_dir=ckpt
    )
    n_keys = read_table(spark, SF_SMOKE, "events").select("event_id").distinct().count()
    assert sink.count() == sink.select("event_id").distinct().count() == n_keys
    n_state = spark.read.format("statestore").load(ckpt).count()
    assert n_state < n_keys, f"{n_state} state rows for {n_keys} keys"
