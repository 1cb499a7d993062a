"""Ingest micro-batches against an in-process recently-played API.

Load model: a closed loop with one client.  The client polls each of
``USERS`` users once per micro-batch and sends the next batch only after
the previous one has landed.  The benchmark plays the API: every poll
answers with the user's plays since its previous poll, paginated at 50
items per page with a ``next`` cursor, and re-delivers a fixed share of
the previous poll's items (the overlap of the API's 50-item window).
Track popularity is Zipf-skewed over a fixed catalog.

One micro-batch = ``sources.rest.fetch_pages`` for every poll →
``sources.rest.pages_to_df`` → ``sources.json_flatten.flatten_payload`` →
``operators.idempotent_sink.append_if_absent`` against the sink read back
from parquet → parquet append.  Pages are generated before the batch
clock starts, so the batch time is the engine's alone.
"""

from __future__ import annotations

import os
import random
import sys
import time
from bisect import bisect
from itertools import accumulate

from common import Recorder

USERS = 20            # polls per micro-batch
NEW_PER_POLL = 80     # new plays a user made since the previous poll
REDELIVER_SHARE = 0.2  # share of a poll's items re-sent from the previous poll
REDELIVERED_PER_POLL = round(REDELIVER_SHARE * NEW_PER_POLL / (1 - REDELIVER_SHARE))
PAGE_LIMIT = 50       # items per page (the API's window)
CATALOG = 5_000       # tracks
ALBUMS = 600
ARTISTS = 900
ZIPF_S = 1.1
KEY = ["track_name", "track_album", "track_artists", "played_at"]
BASE_TS = 1_704_067_200  # 2024-01-01T00:00:00Z


class RecentlyPlayedAPI:
    """Deterministic stand-in for the recently-played endpoint."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        rng = self.rng
        self.tracks = []
        for i in range(CATALOG):
            precision = ("day", "month", "year")[i % 3]
            year = 1990 + i % 30
            release = {"day": f"{year}-{1 + i % 12:02d}-{1 + i % 28:02d}",
                       "month": f"{year}-{1 + i % 12:02d}", "year": str(year)}[precision]
            n_artists = 1 + (i % 7 == 0) + (i % 31 == 0)
            self.tracks.append({
                "name": f"Track {i}",
                "album": {"name": f"Album {rng.randrange(ALBUMS)}",
                          "release_date": release,
                          "release_date_precision": precision},
                "artists": [{"name": f"Artist {rng.randrange(ARTISTS)}"} for _ in range(n_artists)],
                "popularity": None if i % 11 == 0 else float(rng.randrange(101)),
                "duration_ms": float(30_000 + rng.randrange(570_000)),
            })
        self.cum_weights = list(accumulate((r + 1) ** -ZIPF_S for r in range(CATALOG)))
        self.clock = [BASE_TS + rng.randrange(3600) for _ in range(USERS)]
        self.previous: list[list[dict]] = [[] for _ in range(USERS)]
        self.keys: set[tuple] = set()  # distinct play keys emitted so far

    def _play(self, user: int) -> dict:
        rng = self.rng
        self.clock[user] += 30 + rng.randrange(300)
        track = self.tracks[bisect(self.cum_weights, rng.random() * self.cum_weights[-1])]
        ctx = rng.choice(("album", "playlist", "artist", None))
        return {
            "track": track,
            "played_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(self.clock[user])),
            "context": {"type": ctx} if ctx else None,
        }

    def poll(self, user: int) -> list[dict]:
        """One poll's pages, linked by ``next`` cursors."""
        new = [self._play(user) for _ in range(NEW_PER_POLL)]
        items = self.previous[user][-REDELIVERED_PER_POLL:] + new
        self.previous[user] = new
        for it in new:
            t = it["track"]
            self.keys.add((t["name"], t["album"]["name"],
                           ", ".join(a["name"] for a in t["artists"]), it["played_at"]))
        pages = []
        for p, lo in enumerate(range(0, len(items), PAGE_LIMIT)):
            more = lo + PAGE_LIMIT < len(items)
            pages.append({"items": items[lo:lo + PAGE_LIMIT],
                          "next": f"poll://{user}/{p + 1}" if more else None})
        return pages


def _fetcher(pages: list[dict]):
    def fetch(url: str) -> dict:
        return pages[int(url.rsplit("/", 1)[1])] if url.startswith("poll://") else pages[0]
    return fetch


class Ingest:
    def __init__(self, spark, tracer, rec: Recorder, run_dir: str, seed: int):
        from spotify_tracks_spark.sources.json_flatten import flatten_payload
        from spotify_tracks_spark.sources.rest import pages_to_df

        self.spark, self.tracer, self.rec = spark, tracer, rec
        self.api = RecentlyPlayedAPI(seed)
        self.sink = os.path.join(run_dir, "sink")
        flatten_payload(pages_to_df(spark, [])).write.parquet(self.sink)
        self.batch_s: list[float] = []
        self.items_in = 0

    def batch(self, timed: bool) -> None:
        from pyspark.sql import Observation, functions as F
        from spotify_tracks_spark.operators.idempotent_sink import append_if_absent
        from spotify_tracks_spark.sources.json_flatten import flatten_payload
        from spotify_tracks_spark.sources.rest import fetch_pages, pages_to_df

        spark, tr = self.spark, self.tracer
        keys_before = len(self.api.keys)
        polls = [self.api.poll(u) for u in range(USERS)]
        expected = len(self.api.keys) - keys_before
        n_items = sum(len(p["items"]) for pages in polls for p in pages)
        appended = 0
        with self.rec.call("ingest_batch", timed) as call:
            with tr.span("ingest_batch"):
                pages: list[dict] = []
                for poll in polls:
                    with tr.span("sources.rest.fetch_pages"):
                        pages.extend(fetch_pages(_fetcher(poll), limit=PAGE_LIMIT))
                with tr.span("sources.rest.pages_to_df"):
                    raw = pages_to_df(spark, pages)
                with tr.span("sources.json_flatten.flatten_payload"):
                    flat = flatten_payload(raw)
                with tr.span("operators.idempotent_sink.append_if_absent", jobs=True):
                    existing = spark.read.parquet(self.sink)
                    obs = Observation("appended")
                    fresh = append_if_absent(existing, flat, KEY).observe(
                        obs, F.count(F.lit(1)).alias("rows")
                    )
                    fresh.write.mode("append").parquet(self.sink)
                    appended = obs.get["rows"]
            call.done()
            call.check(len(pages) == sum(len(p) for p in polls), "fetch_pages lost a page")
            call.check(appended == expected,
                       f"appended {appended} rows, generator emitted {expected} new keys")
        if timed and call.seconds is not None:
            self.batch_s.append(call.seconds)
            self.items_in += n_items
        tr.unit_count("ingest.items_in", n_items)
        tr.unit_count("ingest.rows_appended", appended)
        tr.unit_count("ingest.accept_ratio", appended / n_items)

    def final_check(self) -> bool:
        """Sink rows == distinct keys the generator emitted; no key twice."""
        from pyspark.sql import functions as F

        sink = self.spark.read.parquet(self.sink)
        row = sink.agg(F.count(F.lit(1)).alias("n"),
                       F.countDistinct(*KEY).alias("d")).collect()[0]
        files = sum(n.endswith(".parquet") for n in os.listdir(self.sink))
        self.tracer.unit_count("ingest.sink_files", files)
        ok = row.n == len(self.api.keys) == row.d
        if not ok:
            print(f"perfbench: sink holds {row.n} rows / {row.d} keys, "
                  f"generator emitted {len(self.api.keys)}", file=sys.stderr)
        return ok
