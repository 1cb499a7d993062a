"""Streaming operator tests: windowed aggregation emission, stateful
sessionization (incl. state carried across micro-batches), and the
IVF ANN variant's containment properties."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from spotify_tracks_spark.functions.time_utils import epoch_seconds
from spotify_tracks_spark.operators import events as batch_events
from spotify_tracks_spark.operators import similarity
from spotify_tracks_spark.sources.tables import read_table
from spotify_tracks_spark.streaming import (
    incremental,
    sketch,
    stream_events_windowed,
    stream_sessionize,
)

from .conftest import SF_SMOKE


def test_stream_window_emits_only_closed_windows(spark):
    out = stream_events_windowed(spark, SF_SMOKE)
    ev = read_table(spark, SF_SMOKE, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    rows = out.collect()
    assert rows
    for r in rows:
        # append mode: window emitted only once the watermark passed its end
        assert (max_ts - r.window_end).total_seconds() >= 86400
    # emitted counts equal the batch group-by for those windows
    batch = {
        (r.ws, r.event_type): r.n
        for r in ev.groupBy(
            F.window("ts", "1 day").start.alias("ws"), "event_type"
        ).agg(F.count("*").alias("n")).collect()
    }
    for r in rows:
        assert batch[(r.window_start, r.event_type)] == r.n_events


def test_stream_sessionize_state_carries_across_batches(spark):
    """Split events into 4 time-ordered files; maxFilesPerTrigger=1 forces
    4 micro-batches, so sessions spanning file boundaries only come out
    right if the open tail is carried in state."""
    ev = read_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", epoch_seconds(F.col("ts")).alias("ts_s")
    )
    # split by TIME so micro-batches arrive in event-time order — the
    # operator's contract (an in-order polled source), same as the
    # reference's API window
    qs = ev.approxQuantile("ts_s", [0.25, 0.5, 0.75], 0.001)
    src = tempfile.mkdtemp(prefix="sess_multi_")
    bounds = [float("-inf"), *qs, float("inf")]
    for i in range(4):
        (
            ev.filter((F.col("ts_s") > bounds[i]) & (F.col("ts_s") <= bounds[i + 1]))
            .drop("ts_s")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{src}/part{i}")
        )
    import glob as globmod
    import os
    import shutil
    import time

    flat = tempfile.mkdtemp(prefix="sess_flat_")
    now = time.time()
    for i, f in enumerate(sorted(globmod.glob(f"{src}/part*/part-*.parquet"))):
        dst = f"{flat}/batch{i}.parquet"
        shutil.copy(f, dst)
        # the file stream source orders by mtime; quick copies tie at ms
        # resolution, so pin strictly increasing times to fix batch order
        os.utime(dst, (now + i, now + i))

    got = stream_sessionize(
        spark,
        flat,
        checkpoint_dir=tempfile.mkdtemp(prefix="sess_multi_ckpt_"),
        glob="*.parquet",
        flush_tail=False,
    )
    # carry variant emits only closed sessions: compare against the batch
    # sessionization minus each user's final (open) session
    batch = batch_events.events_sessionize(spark, SF_SMOKE)
    w_last = batch.groupBy("user_id").agg(F.max("session_start").alias("last_start"))
    closed_batch = (
        batch.join(w_last, "user_id")
        .filter(F.col("session_start") != F.col("last_start"))
        .select("user_id", "session_start", "session_end", "n_events")
    )
    got_set = {(r.user_id, r.session_start, r.session_end, r.n_events) for r in got.collect()}
    want_set = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in closed_batch.collect()
    }
    assert got_set == want_set


def test_stream_join_matches_batch(spark):
    """Stream-stream interval join drained via availableNow equals the
    batch self-join (every pair emitted exactly once)."""
    from spotify_tracks_spark.streaming import stream_click_purchase_join

    got = stream_click_purchase_join(spark, SF_SMOKE)
    ev = read_table(spark, SF_SMOKE, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    want = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("interval 1 hour"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    )
    got_set = {(r.purchase_id, r.click_id) for r in got.collect()}
    want_set = {(r.purchase_id, r.click_id) for r in want.collect()}
    assert got_set and got_set == want_set
    # lag is non-negative and within the interval bound
    assert got.filter((F.col("lag_us") < 0) | (F.col("lag_us") > 3600 * 1_000_000)).count() == 0


def test_ann_ivf_scores_match_bruteforce(spark):
    """IVF candidates score identically to brute force for the same pair,
    and every result lies in the probe's cell by construction."""
    bf = {
        (r.query_id, r.neighbor_id): r.cos
        for r in similarity.ann_topk_bruteforce(spark, SF_SMOKE, k=2000).collect()
    }
    rows = similarity.ann_topk_ivf(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert abs(bf[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9


def test_incremental_dim_matches_batch(spark):
    """Drained streaming-incremental dim_track equals the batch rebuild —
    incremental view maintenance's correctness contract."""
    from spotify_tracks_spark.pipeline import run_models
    from spotify_tracks_spark.streaming.incremental import stream_dim_track_incremental

    got = stream_dim_track_incremental(spark, SF_SMOKE)
    want = run_models(spark, SF_SMOKE)["dim_track"]
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    got_rows = {tuple(r[c] for c in cols) for r in got.collect()}
    want_rows = {tuple(r[c] for c in cols) for r in want.collect()}
    assert got_rows == want_rows


def test_incremental_dim_restart_recovers_state(spark, tmp_path):
    """A re-run against the SAME base dir resumes from the snapshot log +
    checkpoint instead of re-folding: the recovery scan picks up the last
    applied batch, the drained stream finds no new offsets, and the result
    is unchanged (restart-idempotence across processes, not just within
    one foreachBatch replay)."""
    from spotify_tracks_spark.streaming.incremental import stream_dim_track_incremental

    base = str(tmp_path / "incr")
    first = stream_dim_track_incremental(spark, SF_SMOKE, base=base)
    cols = sorted(first.columns)
    want = {tuple(r[c] for c in cols) for r in first.collect()}
    resumed = stream_dim_track_incremental(spark, SF_SMOKE, base=base)
    got = {tuple(r[c] for c in cols) for r in resumed.collect()}
    assert got == want


def test_incremental_rpt_matches_batch(spark):
    """Drained streaming-incremental rpt_track_counts BIT-equals the
    batch Q6 build: per-day integral-double sums re-aggregate exactly,
    and the single /1000/60 division happens once at read."""
    from spotify_tracks_spark.pipeline import run_models
    from spotify_tracks_spark.streaming.incremental import (
        stream_rpt_track_counts_incremental,
    )

    got = stream_rpt_track_counts_incremental(spark, SF_SMOKE)
    want = run_models(spark, SF_SMOKE)["rpt_track_counts"]
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    got_rows = sorted(tuple(r[c] for c in cols) for r in got.collect())
    want_rows = sorted(tuple(r[c] for c in cols) for r in want.collect())
    assert got_rows == want_rows


def test_incremental_rpt_state_is_window_bounded(spark, tmp_path):
    """The eviction contract: every day surviving in the final state
    snapshot satisfies the trailing-window predicate, so state stays
    bounded at ~31 days x active tracks no matter how much history the
    stream has folded; and a re-run against the same base resumes
    idempotently (replay contract shared with the dim fold)."""
    import glob
    import re

    from pyspark.sql import functions as F

    from spotify_tracks_spark.config import RUN_DATE
    from spotify_tracks_spark.streaming.incremental import (
        stream_rpt_track_counts_incremental,
    )

    base = str(tmp_path / "incr_rpt")
    first = stream_rpt_track_counts_incremental(spark, SF_SMOKE, base=base)
    cols = sorted(first.columns)
    want = sorted(tuple(r[c] for c in cols) for r in first.collect())

    snaps = sorted(
        glob.glob(f"{base}/state_b*"),
        key=lambda p: int(re.search(r"state_b(\d+)$", p).group(1)),
    )
    assert snaps, "no state snapshots written"
    state = spark.read.parquet(snaps[-1])
    over = state.filter(
        F.datediff(F.lit(RUN_DATE).cast("date"), F.col("play_date")) > 30
    ).count()
    assert over == 0, "evictable days survived in state"

    resumed = stream_rpt_track_counts_incremental(spark, SF_SMOKE, base=base)
    got = sorted(tuple(r[c] for c in cols) for r in resumed.collect())
    assert got == want


def test_incremental_q8_matches_batch_and_replays_idempotently(spark, tmp_path):
    """The two-DISTINCT weekly mart's incremental contract: the drained
    fold equals the batch rpt_discovery_rate exactly (distinct sets kept
    as (year, week, track) state rows; first-played minima at track /
    artist grain), and a re-run against the same base resumes from the
    snapshot log without double-counting (replay idempotence — the
    at-least-once hazard matters MORE here than for the sum-only marts,
    because a replayed batch would silently inflate plays while leaving
    the distinct counts fixed, a corruption no row-count check sees)."""
    from spotify_tracks_spark.pipeline import run_models
    from spotify_tracks_spark.streaming.incremental import (
        stream_rpt_discovery_rate_incremental,
    )

    base = str(tmp_path / "incr_q8")
    from collections import Counter

    got = stream_rpt_discovery_rate_incremental(spark, SF_SMOKE, base=base)
    want = run_models(spark, SF_SMOKE)["rpt_discovery_rate"]
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    # Counter, not sorted(): the NULL discovery rates (safe_divide) make
    # the tuples unorderable in Python
    got_rows = Counter(tuple(r[c] for c in cols) for r in got.collect())
    want_rows = Counter(tuple(r[c] for c in cols) for r in want.collect())
    assert got_rows == want_rows

    resumed = stream_rpt_discovery_rate_incremental(spark, SF_SMOKE, base=base)
    again = Counter(tuple(r[c] for c in cols) for r in resumed.collect())
    assert again == got_rows


def test_incremental_q8_trk_state_mirrors_dim_distinct_on_dirty_source(spark):
    """A source whose artists string is INCONSISTENT within a track must
    yield one trk state row per distinct (track_id, artists) pair —
    mirroring the batch dim_track's trailing .distinct() — not a single
    min-folded row (the round-6 advice divergence).  Exercises the fold
    helpers directly with a planted dirty fixture."""
    from spotify_tracks_spark.streaming.incremental import (
        _q8_partials,
        _q8_remerge,
    )

    stg = spark.createDataFrame(
        [
            ("t1", "Artist A", "Album X", "Song 1", "2024-01-01 10:00:00"),
            ("t1", "Artist B", "Album X", "Song 1", "2024-01-08 10:00:00"),  # dirty: same track
            ("t2", "Artist A", "Album Y", "Song 2", "2024-01-02 10:00:00"),
        ],
        "track_id string, track_artists string, track_album string, "
        "track_name string, played_at_mtn_s string",
    ).withColumn("played_at_mtn", F.to_timestamp("played_at_mtn_s"))

    # two micro-batches folded, as the stream would
    b1 = _q8_partials(stg.limit(2))
    b2 = _q8_partials(stg.subtract(stg.limit(2)))
    state = _q8_remerge(_q8_remerge(b1).unionByName(b2))

    trk = state.filter(F.col("grain") == "trk").select(
        "track_id", "artists", "first_played"
    )
    rows = {(r.track_id, r.artists) for r in trk.collect()}
    # one row per distinct pair — t1 keeps BOTH artist variants
    assert rows == {("t1", "Artist A"), ("t1", "Artist B"), ("t2", "Artist A")}
    # per-track first-played min is recoverable track-grain (what the
    # read step re-aggregates for new_tracks)
    t1_min = (
        trk.filter(F.col("track_id") == "t1")
        .agg(F.min("first_played"))
        .collect()[0][0]
    )
    assert str(t1_min).startswith("2024-01-01")


def test_incremental_q8_attr_guard_fails_loudly_on_dirty_source(spark):
    """The Q8 fold's documented residual contract — album/track_name
    consistent per (track_id, artists) — is now a loud assertion, not a
    docstring (round-7 advice).  A source violating it ACROSS
    micro-batches must raise at the read step instead of silently
    diverging from the batch build; a clean source passes."""
    import pytest as _pytest

    from spotify_tracks_spark.streaming.incremental import (
        _q8_assert_attr_consistency,
        _q8_partials,
        _q8_remerge,
    )

    schema = (
        "track_id string, track_artists string, track_album string, "
        "track_name string, played_at_mtn_s string"
    )

    def fold(rows1, rows2):
        b1 = _q8_partials(
            spark.createDataFrame(rows1, schema).withColumn(
                "played_at_mtn", F.to_timestamp("played_at_mtn_s")
            )
        )
        b2 = _q8_partials(
            spark.createDataFrame(rows2, schema).withColumn(
                "played_at_mtn", F.to_timestamp("played_at_mtn_s")
            )
        )
        return _q8_remerge(_q8_remerge(b1).unionByName(b2))

    # dirty: the SAME (track_id, artists) pair shows two different album
    # strings in two different micro-batches — the divergence week-grain
    # state cannot see without the fingerprint
    dirty = fold(
        [("t1", "Artist A", "Album X", "Song 1", "2024-01-01 10:00:00")],
        [("t1", "Artist A", "Album Z", "Song 1", "2024-01-08 10:00:00")],
    )
    with _pytest.raises(ValueError, match="attribute contract"):
        _q8_assert_attr_consistency(dirty)

    # clean source: same attributes everywhere — no raise
    clean = fold(
        [("t1", "Artist A", "Album X", "Song 1", "2024-01-01 10:00:00")],
        [("t1", "Artist A", "Album X", "Song 1", "2024-01-08 10:00:00")],
    )
    _q8_assert_attr_consistency(clean)


def test_unpivot_roundtrips_pivot(spark):
    """unpivot(pivot(events)) equals the direct long-form count table with
    zero-filled (day × type) combinations."""
    from spotify_tracks_spark.operators.analytics import (
        EVENT_TYPES,
        events_pivot,
        events_unpivot,
    )

    long = events_unpivot(spark, SF_SMOKE)
    wide = events_pivot(spark, SF_SMOKE)
    assert long.count() == wide.count() * len(EVENT_TYPES)
    direct = (
        read_table(spark, SF_SMOKE, "events")
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    got = {(r.day, r.event_type): r.n_events for r in long.collect()}
    want = {(r.day, r.event_type): r.n_events for r in direct.collect()}
    # every observed combination matches; everything else is an explicit 0
    assert want.items() <= got.items()
    assert all(n == 0 for k, n in got.items() if k not in want)


def test_stream_dedup_restart_is_idempotent(spark, tmp_path):
    """Draining the same source twice against one checkpoint must not
    duplicate the sink (at-least-once micro-batches -> exactly-once table
    effect), and a fresh-checkpoint re-run over the same out_dir must
    anti-join away every existing key."""
    from spotify_tracks_spark.streaming import stream_events_dedup

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    first = stream_events_dedup(spark, SF_SMOKE, out_dir=out, checkpoint_dir=ckpt)
    n = first.count()
    ev_ids = read_table(spark, SF_SMOKE, "events").select("event_id").distinct().count()
    assert n == ev_ids
    # same checkpoint: no new files -> no new batches -> sink unchanged
    again = stream_events_dedup(spark, SF_SMOKE, out_dir=out, checkpoint_dir=ckpt)
    assert again.count() == n
    # NEW checkpoint, same sink: source replays fully, idempotent append
    # must drop every already-present key
    replay = stream_events_dedup(
        spark, SF_SMOKE, out_dir=out, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    assert replay.count() == n
    assert replay.select("event_id").distinct().count() == n


def test_normalize_events_ts_both_layouts(spark):
    """normalize_events_ts yields identical TimestampType micros whether
    the source delivers timestamp[us] (current testdata) or epoch-nanos
    bigint (TIMESTAMP(NANOS) read with nanosAsLong)."""
    import datetime

    from spotify_tracks_spark.sources.tables import normalize_events_ts

    base = datetime.datetime(2024, 3, 10, 1, 59, 59, 123456)  # near a DST edge
    micros = int(base.replace(tzinfo=datetime.timezone.utc).timestamp()) * 10**6 + 123456
    as_ntz = spark.createDataFrame([(1, base)], "event_id long, ts timestamp_ntz")
    as_nanos = spark.createDataFrame([(1, micros * 1000)], "event_id long, ts long")

    out_ntz = normalize_events_ts(as_ntz)
    out_nanos = normalize_events_ts(as_nanos)
    assert dict(out_ntz.dtypes)["ts"] == "timestamp"
    assert dict(out_nanos.dtypes)["ts"] == "timestamp"
    v_ntz = out_ntz.collect()[0].ts
    v_nanos = out_nanos.collect()[0].ts
    assert v_ntz == v_nanos == base
    # already-normalized input passes through untouched
    assert dict(normalize_events_ts(out_ntz).dtypes)["ts"] == "timestamp"


def test_rocksdb_state_store_provider_is_result_invariant(spark):
    """The state-at-scale path: RocksDBStateStoreProvider keeps streaming
    state off-heap / on local SSD instead of in executor memory — the
    provider a 100 TB deployment runs with (state no longer bounded by
    heap, plus changelog checkpointing).  The provider is a pure
    execution-engine swap, so a drained windowed aggregate must produce
    byte-identical results under either store."""
    from spotify_tracks_spark.streaming import stream_events_windowed

    from .conftest import SF_SMOKE

    default_rows = {tuple(r) for r in stream_events_windowed(spark, SF_SMOKE).collect()}
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks_rows = {
            tuple(r) for r in stream_events_windowed(spark, SF_SMOKE).collect()
        }
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert rocks_rows == default_rows
    assert rocks_rows, "drained stream produced no windows"


def test_stream_sequential_ab_matches_batch_and_replays(spark, tmp_path):
    """The streaming monitor fold must equal the batch monitor exactly
    (shared report tail over identical state) and resume from its
    snapshots without double-counting converters."""
    from spotify_tracks_spark.operators.analytics import events_sequential_ab
    from spotify_tracks_spark.streaming import stream_events_sequential_ab

    base = str(tmp_path / "seq_ab")
    got = stream_events_sequential_ab(spark, SF_SMOKE, base=base)
    want = events_sequential_ab(spark, SF_SMOKE)
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    got_rows = sorted(tuple(r[c] for c in cols) for r in got.collect())
    want_rows = sorted(tuple(r[c] for c in cols) for r in want.collect())
    assert got_rows == want_rows

    resumed = stream_events_sequential_ab(spark, SF_SMOKE, base=base)
    again = sorted(tuple(r[c] for c in cols) for r in resumed.collect())
    assert again == got_rows


_FOLDS = [
    sketch.stream_events_cms,
    sketch.stream_events_kmv,
    sketch.stream_events_hll,
    sketch.stream_events_bloom,
    sketch.stream_events_quantile_hist,
    sketch.stream_events_sequential_ab,
    sketch.stream_docs_heavy_terms,
    incremental.stream_dim_track_incremental,
    incremental.stream_rpt_track_counts_incremental,
    incremental.stream_rpt_artist_counts_incremental,
    incremental.stream_rpt_discovery_rate_incremental,
]


@pytest.mark.parametrize("fold", _FOLDS, ids=lambda f: f.__name__)
def test_fold_leaves_no_persisted_rdd(spark, fold):
    """Every snapshot fold releases what it persists: its per-batch
    hand-off, and the folds' own (the MG compress sums).  A fold that
    leaks grows the executor cache on every call."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    assert fold(spark, SF_SMOKE).collect()
    assert persisted().size() == before
