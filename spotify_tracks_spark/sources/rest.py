"""Paginated REST source adapter — driver-side fetch mirroring the
reference's pagination loop (flows/pull_recent_tracks.py:160-198):
``limit`` items per page, follow the ``next`` cursor for at most
``max_extra_pages`` further pages, throttle between pages.

The HTTP transport is injectable (``fetcher``) so tests and air-gapped
runs replace the network with fixtures; the reference's OAuth handling
(:73-109) is driver-side credential management outside the engine
(SURVEY.md §2.2) and stays out.

The fetched page bodies become a one-column DataFrame feeding
``json_flatten.flatten_payload`` → ``operators.idempotent_sink`` — the
complete ingest path.  That frame is built from a ``pyarrow`` table, so
its plan leaf is a ``LocalRelation``: no parallelized, pickled Python RDD
and no stage to convert it, and Catalyst's ``ConvertToLocalRelation``
evaluates the ``from_json`` + ``explode`` on the driver at plan time
(O(batch) work, a few dozen page bodies per poll).  For a continuous
daemon the same fetcher slots into a custom Python micro-batch data
source; the cron-style ``availableNow`` run is what the reference
actually does.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

Fetcher = Callable[[str], dict]

RECENTLY_PLAYED_URL = "https://api.spotify.com/v1/me/player/recently-played?limit={limit}"


def _checked(body: dict) -> dict:
    """The page itself, or a ``ValueError`` for an API error body
    (``{"error": {"status": ..., "message": ...}}``) or a page without an
    ``items`` list — the reference's ``raise_for_status``
    (flows/pull_recent_tracks.py:174,186).  Either would otherwise
    flatten to zero rows and read as "no new plays"."""
    error = body.get("error")
    if error is not None:
        raise ValueError(
            f"recently-played request failed: status {error.get('status')}: "
            f"{error.get('message')}"
        )
    if not isinstance(body.get("items"), list):
        raise ValueError(f"recently-played page has no 'items' list: keys {sorted(body)}")
    return body


def fetch_pages(
    fetcher: Fetcher,
    limit: int = 50,
    max_extra_pages: int = 5,
    throttle_seconds: float = 0.0,
) -> list[dict]:
    """Driver-side pagination: first page + ≤``max_extra_pages`` follows.
    A bad page raises (``_checked``)."""
    pages: list[dict] = []
    url = RECENTLY_PLAYED_URL.format(limit=limit)
    body = _checked(fetcher(url))
    pages.append(body)
    j = 0
    while body.get("next") and j < max_extra_pages:
        if throttle_seconds:
            time.sleep(throttle_seconds)
        body = _checked(fetcher(body["next"]))
        pages.append(body)
        j += 1
    return pages


def pages_to_df(spark: SparkSession, pages: list[dict]) -> DataFrame:
    """One row per response body, as a JSON string column ``payload``.

    Built from an Arrow table, which Spark plans as a ``LocalRelation``
    (``LocalTableScan``) rather than a ``Scan ExistingRDD`` over pickled
    rows: a batch then pays no Python-RDD conversion stage, and the
    flatten's ``from_json`` is folded into the local rows on the driver,
    which costs O(batch).  ``pages=[]`` gives the same schema and 0 rows.
    """
    payload = pa.array([json.dumps(p) for p in pages], pa.string())
    return spark.createDataFrame(pa.table({"payload": payload}))
