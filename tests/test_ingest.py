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


def test_custom_datasource_reads_pages(spark, tmp_path):
    """The Python DataSource ingests the same pages as the fixture fetcher."""
    import json

    from spotify_tracks_spark.sources.recent_tracks_datasource import (
        RecentTracksDataSource,
    )

    pages_file = tmp_path / "pages.json"
    pages_file.write_text(json.dumps(fetch_pages(_fetcher)))
    spark.dataSource.register(RecentTracksDataSource)
    df = (
        spark.read.format("recent_tracks")
        .option("pages_path", str(pages_file))
        .load()
    )
    assert df.count() == 4
    assert df.schema.simpleString().count("string") >= 7


def test_custom_datasource_matches_expression_flatten(spark, tmp_path):
    """Two independent flatten implementations — the executor-side Python
    DataSource and the from_json/explode expression path — must agree,
    including on a NULL context, an empty artists list and an empty page."""
    import json

    from spotify_tracks_spark.sources.recent_tracks_datasource import (
        RecentTracksDataSource,
    )

    pages = fetch_pages(_fetcher) + [
        {"items": [_item("Song D", "Album Z", [], "2024-05-02T09:30:00Z")], "next": None},
        {"items": [], "next": None},
    ]
    pages_file = tmp_path / "pages.json"
    pages_file.write_text(json.dumps(pages))
    spark.dataSource.register(RecentTracksDataSource)
    via_source = (
        spark.read.format("recent_tracks")
        .option("pages_path", str(pages_file))
        .load()
    )
    via_expr = flatten_payload(pages_to_df(spark, pages))
    rows = via_expr.collect()
    assert len(rows) == 5
    assert [r.track_artists for r in rows if r.track_name == "Song D"] == [""]
    assert sorted(map(tuple, via_source.collect())) == sorted(map(tuple, rows))


def test_custom_datasource_page_cap(spark, tmp_path):
    import json

    from spotify_tracks_spark.sources.recent_tracks_datasource import (
        RecentTracksDataSource,
    )

    pages_file = tmp_path / "pages.json"
    pages_file.write_text(json.dumps([PAGE1] * 10))
    spark.dataSource.register(RecentTracksDataSource)
    df = (
        spark.read.format("recent_tracks")
        .option("pages_path", str(pages_file))
        .option("max_extra_pages", "2")
        .load()
    )
    assert df.count() == 6  # 3 pages x 2 items


def test_custom_datasource_streams_pages(spark, tmp_path):
    """The streaming reader drains the same rows as the batch reader, and
    a later trigger consumes only pages appended since the checkpoint."""
    import json

    from spotify_tracks_spark.sources.recent_tracks_datasource import (
        RecentTracksDataSource,
    )

    pages = fetch_pages(_fetcher)
    pages_file = tmp_path / "pages.json"
    pages_file.write_text(json.dumps(pages))
    spark.dataSource.register(RecentTracksDataSource)

    out = tmp_path / "out"

    def drain() -> None:
        (
            spark.readStream.format("recent_tracks")
            .option("pages_path", str(pages_file))
            .load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()
    batch = (
        spark.read.format("recent_tracks")
        .option("pages_path", str(pages_file))
        .load()
    )
    got = sorted(map(tuple, spark.read.parquet(str(out)).collect()))
    assert got == sorted(map(tuple, batch.collect()))
    n_first = len(got)

    # append one page; the same checkpoint must emit ONLY the new items
    new_page = {"items": [pages[0]["items"][0]], "next": None}
    pages_file.write_text(json.dumps(pages + [new_page]))
    drain()
    assert len(spark.read.parquet(str(out)).collect()) == n_first + 1


# --- OAuth token lifecycle (sources/auth.py) ---

class _FakeSpotify:
    """Offline transport fixture: a token server + an API that rejects
    expired bearers with 401, mirroring the reference's check -> refresh
    -> store flow (flows/pull_recent_tracks.py:73-109)."""

    def __init__(self, valid_token="fresh", rotate_refresh=None):
        self.valid_token = valid_token
        self.rotate_refresh = rotate_refresh
        self.refresh_calls = 0
        self.page = {"items": [], "next": None}

    def __call__(self, method, url, headers, data):
        if method == "POST" and "api/token" in url:
            self.refresh_calls += 1
            assert data["grant_type"] == "refresh_token"
            body = {"access_token": self.valid_token}
            if self.rotate_refresh:
                body["refresh_token"] = self.rotate_refresh
            return 200, body
        bearer = headers.get("Authorization", "")
        if bearer != f"Bearer {self.valid_token}":
            return 401, {"error": "expired"}
        return 200, self.page if "recently-played" in url else {"ok": True}


def test_token_provider_refreshes_expired_token():
    from spotify_tracks_spark.sources.auth import InMemoryTokenStore, TokenProvider

    api = _FakeSpotify(valid_token="fresh")
    store = InMemoryTokenStore("stale", "refresh-1")
    provider = TokenProvider(store, api, client_id="cid", client_secret="sec")
    assert provider.token() == "fresh"
    assert api.refresh_calls == 1
    # refresh token is KEPT when the endpoint doesn't rotate it
    assert store.load() == ("fresh", "refresh-1")
    # second call: stored token now passes the check, no second refresh
    assert provider.token() == "fresh"
    assert api.refresh_calls == 1


def test_token_provider_stores_rotated_refresh_token():
    from spotify_tracks_spark.sources.auth import InMemoryTokenStore, TokenProvider

    api = _FakeSpotify(valid_token="fresh", rotate_refresh="refresh-2")
    store = InMemoryTokenStore("stale", "refresh-1")
    TokenProvider(store, api).token()
    assert store.load() == ("fresh", "refresh-2")


def test_authorized_fetcher_retries_once_on_mid_pagination_401():
    """Token expires BETWEEN the validity check and the page fetch: the
    fetcher must refresh once and retry, and pagination proceeds."""
    from spotify_tracks_spark.sources.auth import (
        InMemoryTokenStore,
        TokenProvider,
        authorized_fetcher,
    )

    class _ExpiringApi(_FakeSpotify):
        def __call__(self, method, url, headers, data):
            if method == "GET" and "recently-played" in url and self.valid_token == "t0":
                self.valid_token = "t1"  # expire the just-checked token
            return super().__call__(method, url, headers, data)

    api = _ExpiringApi(valid_token="t0")
    api.page = {"items": [{"x": 1}], "next": None}
    store = InMemoryTokenStore("t0", "refresh-1")
    fetch = authorized_fetcher(TokenProvider(store, api), api)
    pages = fetch_pages(fetch)
    assert pages == [{"items": [{"x": 1}], "next": None}]
    assert api.refresh_calls == 1
    assert store.load()[0] == "t1"


def test_token_provider_refresh_failure_raises():
    from spotify_tracks_spark.sources.auth import (
        InMemoryTokenStore,
        RefreshError,
        TokenProvider,
    )

    def dead_transport(method, url, headers, data):
        return (400, {}) if method == "POST" else (401, {})

    provider = TokenProvider(InMemoryTokenStore("stale", "r"), dead_transport)
    with pytest.raises(RefreshError):
        provider.token()


# --- OAuth authorization-code capture (sources/login.py) ---

def test_auth_code_capture_loopback():
    """Full loopback round-trip: consent URL carries the issued state and
    redirect URI; a simulated provider redirect delivers the code."""
    import threading
    import urllib.request
    from urllib.parse import parse_qs, urlparse

    from spotify_tracks_spark.sources.login import capture_auth_code

    def fake_provider(url: str) -> None:
        q = {k: v[0] for k, v in parse_qs(urlparse(url).query).items()}
        assert q["response_type"] == "code"
        assert q["client_id"] == "cid"
        assert q["scope"] == "user-read-recently-played"
        cb = f"{q['redirect_uri']}?code=authcode-xyz&state={q['state']}"
        threading.Thread(
            target=lambda: urllib.request.urlopen(cb, timeout=5).read(),
            daemon=True,
        ).start()

    code = capture_auth_code("cid", fake_provider, timeout=10)
    assert code == "authcode-xyz"


def test_auth_code_capture_rejects_bad_state_and_errors():
    from spotify_tracks_spark.sources.login import (
        AuthorizationDenied,
        StateMismatch,
        parse_callback,
    )

    with pytest.raises(StateMismatch):
        parse_callback("code=x&state=wrong", "right")
    with pytest.raises(AuthorizationDenied):
        parse_callback("error=access_denied&state=s", "s")
    with pytest.raises(AuthorizationDenied):
        parse_callback("state=s", "s")
    assert parse_callback("code=ok&state=s", "s") == "ok"
