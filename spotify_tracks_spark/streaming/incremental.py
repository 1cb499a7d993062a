"""Streaming-incremental mart maintenance — ``dim_track`` and the
trailing-window ``rpt_track_counts`` kept up to date per micro-batch
instead of rebuilt from scratch.

The reference rebuilds every mart twice daily (full CTAS,
flows/dbt_build_and_load_turso.py:41,182); SURVEY.md §2.9 notes
streaming-incremental marts are the optimization, not the contract.  This
operator IS that optimization, expressed the Structured Streaming way:
``foreachBatch`` folds each micro-batch of source rows into a running
per-track state table, and a drained run hash-matches the *batch* Q2
oracle — incremental view maintenance with the full-rebuild result as its
correctness contract.

Why this works: every dim_track output column is derivable from
associative, commutative partial aggregates —

- ``total_plays``   = sum of per-batch counts,
- ``dttm_first_played`` = min of per-batch mins,
- ``duration_ms``   = max of per-batch maxes (the reference's conflict
  resolution, dim_track.sql:14-21),
- attribute columns (album/name/artists) are functionally dependent on
  ``track_id`` (they feed its surrogate key), so min = the value —

so ``merge(state, batch) = re-aggregate(state ∪ partial(batch))`` needs no
replay and no per-play state.  State cardinality is one row per *track*
(entity count, ≪ play count); each batch shuffles only its own partials
plus the state — at 100 TB this is the difference between touching the
whole fact table twice a day and touching one day of increments.

The state table snapshots to a per-batch parquet dir (read prev snapshot,
write ``state_b{batch_id}``) — the single-process analog of a
transactional table format's snapshot log, and the snapshot name doubles
as the applied-batch marker that makes the fold replay-idempotent under
foreachBatch's at-least-once contract.  Delta/Iceberg MERGE would replace
both on a real deployment without changing the dataflow.  ``_drain_fold``
holds that protocol once for every snapshot fold in the engine: these
marts and the mergeable sketches of ``streaming/sketch.py``.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.memo import _fingerprint
from ..plans.staging import stg_recent_tracks
from ..sources.mapping import src_recent_tracks
from .drain import run

N_SLICES = 2
# Files written (and drained) per micro-batch: the slice write fans out to
# n_slices × FILES_PER_BATCH tasks instead of n_slices (a 2-task write of
# the whole staged log was the operator's dominant cost), and
# maxFilesPerTrigger=FILES_PER_BATCH re-groups them into the same
# n_slices micro-batches.  Batch composition shifts with file ordering,
# which is irrelevant: the fold is associative/commutative and the
# contract is the drained result, not per-batch contents.  The sketch
# folds pass files_per_batch=1 instead: a planted source of a few rows
# then still spans n_slices micro-batches.
FILES_PER_BATCH = 16

_ATTRS = ("album_id", "album", "track_name", "artists")

# (source tag, session id, sf_dir, fingerprint of sf_dir) -> materialized
# source-slice dir, one dict for every fold; see _drain_fold for why
# fixture prep is shared.
_SRC_CACHE: dict[tuple[str, int, str, tuple], str] = {}


def _partials(stg: DataFrame) -> DataFrame:
    """Per-track partial aggregates of one micro-batch of staged plays."""
    return stg.groupBy("track_id").agg(
        F.min("album_id").alias("album_id"),
        F.min("track_album").alias("album"),
        F.min("track_name").alias("track_name"),
        F.min("track_artists").alias("artists"),
        F.count("*").alias("total_plays"),
        F.min("played_at_mtn").alias("dttm_first_played"),
        F.max("duration_ms").alias("duration_ms"),
    )


def _remerge(u: DataFrame) -> DataFrame:
    """Fold state ∪ partials back to one row per track (associative)."""
    return u.groupBy("track_id").agg(
        *[F.min(a).alias(a) for a in _ATTRS],
        F.sum("total_plays").alias("total_plays"),
        F.min("dttm_first_played").alias("dttm_first_played"),
        F.max("duration_ms").alias("duration_ms"),
    )


def _drain_fold(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    source: Callable[[SparkSession, str], DataFrame],
    partials: Callable[[DataFrame], DataFrame],
    remerge: Callable[[DataFrame], DataFrame],
    base: str | None = None,
    n_slices: int = N_SLICES,
    files_per_batch: int = FILES_PER_BATCH,
    prefix: str = "incr_dim_",
) -> DataFrame:
    """The snapshot-fold drain: every streaming fold in the engine (these
    marts and the ``streaming/sketch.py`` sketches) runs through it.

    ``source(spark, sf_dir)`` is the frame sliced into
    ``n_slices × files_per_batch`` parquet files; each availableNow
    trigger drains ``files_per_batch`` of them.  ``partials(batch_df)``
    maps one micro-batch to state-grain partials; ``remerge(state ∪
    partials)`` folds back to one row per state key (associative, and may
    EVICT state rows that can never contribute again — the trailing-window
    mart's mechanism for keeping state bounded).  Returns the final state
    read from the durable snapshot; a source that yields no micro-batch
    returns the fold of an empty batch.

    ``base`` is the state/checkpoint root.  Pass the SAME directory on a
    restarted run to resume: the snapshot scan below picks up the last
    applied batch and the stream resumes from its checkpoint, so already-
    folded batches are skipped, not double-counted.  The default (None)
    allocates a fresh tempdir — a single from-scratch drain."""
    if base is None:
        base = tempfile.mkdtemp(prefix=prefix)
        # Fresh-base runs share one materialized source per (tag, session,
        # sf): slicing the source into arrival files is FIXTURE PREP (the
        # stand-in for files landing from an ingest), not part of the fold
        # being measured — and it costs ~3× the fold itself at sf0.1.
        # State + checkpoint stay per-call (fresh fold every run); an
        # explicit ``base`` keeps everything under one dir for the
        # restart-recovery contract.  The key carries ``memo``'s
        # fingerprint of sf_dir: slices cut from an older state of the
        # input would fold stale rows, so a changed input re-slices and
        # the replaced slice dir is deleted.
        key = (tag, id(spark), sf_dir, _fingerprint(sf_dir))
        src_path = _SRC_CACHE.get(key)
        if src_path is None or not os.path.isdir(src_path):
            for old in [k for k in _SRC_CACHE if k[:3] == key[:3]]:
                shutil.rmtree(os.path.dirname(_SRC_CACHE.pop(old)), ignore_errors=True)
            src_path = tempfile.mkdtemp(prefix=f"{prefix}src_") + "/src"
            _SRC_CACHE[key] = src_path
    else:
        src_path = f"{base}/src"
    # A resumed run reuses the already-written slices (same files ⇒ same
    # offsets for the checkpointed stream).
    if not os.path.isdir(src_path):
        source(spark, sf_dir).repartition(n_slices * files_per_batch).write.parquet(
            src_path
        )
    slices = spark.read.parquet(src_path)

    # State snapshots are named by the batch id that produced them — the
    # snapshot name IS the applied-batch marker, so a micro-batch
    # re-delivered under foreachBatch's at-least-once contract (replayed
    # after the state write but before the offset commit, in-process or
    # after a restart) is detected and skipped instead of double-counted.
    # A transactional table format (Delta/Iceberg MERGE) subsumes this on
    # a real deployment; the recovery scan below is its snapshot log.
    done = sorted(
        int(m.group(1))
        for p in glob.glob(f"{base}/state_b*")
        if (m := re.search(r"state_b(\d+)$", p))
    )
    cur: dict = {"batch": done[-1] if done else -1, "df": None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= cur["batch"]:
            return  # replayed batch: already folded into the snapshot
        partial = partials(batch_df)
        if cur["batch"] >= 0:
            # previous state: the in-memory hand-off from the prior batch
            # of THIS run, else (resumed run) the last snapshot on disk
            prev = (
                cur["df"]
                if cur["df"] is not None
                else spark.read.parquet(f"{base}/state_b{cur['batch']}")
            )
            partial = prev.unionByName(partial)
        # persist-then-write: the snapshot write computes the fold once and
        # the cache serves the NEXT batch's read side without a parquet
        # round-trip (the snapshot files stay the replay-idempotence log)
        merged = remerge(partial).persist()
        merged.write.mode("overwrite").parquet(f"{base}/state_b{batch_id}")
        if cur["df"] is not None:
            cur["df"].unpersist()
        cur["df"] = merged
        cur["batch"] = batch_id

    slice_stream = (
        spark.readStream.schema(slices.schema)
        .option("maxFilesPerTrigger", str(files_per_batch))
        .parquet(src_path)
    )
    try:
        run(spark, slice_stream.writeStream.foreachBatch(merge), f"{base}/ckpt")
    finally:
        # release the hand-off: the result is read from the durable
        # snapshot, so it never depends on executor memory state
        if cur["df"] is not None:
            cur["df"].unpersist()
    if cur["batch"] < 0:
        return remerge(partials(slices.limit(0)))
    return spark.read.parquet(f"{base}/state_b{cur['batch']}")


def _drain_mart(
    spark: SparkSession,
    sf_dir: str,
    base: str | None,
    partials: Callable[[DataFrame], DataFrame],
    remerge: Callable[[DataFrame], DataFrame],
    prefix: str,
) -> DataFrame:
    """``_drain_fold`` over the play log, shared by the four mart folds:
    each micro-batch of the deduped log is staged on arrival, then folded
    by the mart's own partials."""
    return _drain_fold(
        spark, sf_dir, "plays", src_recent_tracks,
        lambda batch_df: partials(stg_recent_tracks(batch_df)), remerge,
        base, prefix=prefix,
    )


def stream_dim_track_incremental(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
) -> DataFrame:
    """Maintain dim_track incrementally over a micro-batched source stream
    (availableNow drain) and return the final mart — hash-equal to the
    batch ``dim_track`` (same Q2 oracle).  See ``_drain_fold`` for the
    snapshot/restart contract."""
    state = _drain_mart(spark, sf_dir, base, _partials, _remerge, prefix="incr_dim_")
    first_date = F.col("dttm_first_played").cast("date")
    return state.select(
        "track_id",
        "album_id",
        "album",
        "track_name",
        "artists",
        "total_plays",
        "dttm_first_played",
        F.year(first_date).cast("long").alias("yr_first_played"),
        F.weekofyear(first_date).cast("long").alias("wk_first_played"),
        "duration_ms",
    )


def _rpt_partials(stg: DataFrame) -> DataFrame:
    """Two-grain partials of one staged micro-batch.

    DAY rows ((track_id, play_date) grain) carry the in-window play
    counts — the grain that makes a TRAILING-window mart incrementally
    maintainable, because a track-grain running sum could never evict the
    days that fall out of the window.  One SENTINEL row per track
    (play_date NULL) carries what Q6 takes from the CORPUS-WIDE dim
    regardless of the window — the max-resolved ``duration_ms``
    (dim_track.sql's conflict resolution) and the label attributes — so
    eviction of old days never loses them."""
    day = stg.groupBy("track_id", F.to_date("played_at").alias("play_date")).agg(
        F.count("*").alias("plays"),
        F.lit(None).cast("double").alias("dur_max"),
        F.min("track_name").alias("track_name"),
        F.min("track_artists").alias("artists"),
        F.min("track_album").alias("album"),
    )
    sentinel = stg.groupBy("track_id").agg(
        F.lit(None).cast("date").alias("play_date"),
        F.lit(0).cast("long").alias("plays"),
        F.max("duration_ms").alias("dur_max"),
        F.min("track_name").alias("track_name"),
        F.min("track_artists").alias("artists"),
        F.min("track_album").alias("album"),
    )
    return day.unionByName(sentinel)


def _rpt_remerge(u: DataFrame) -> DataFrame:
    """Fold state ∪ partials at (track_id, play_date) grain, then EVICT
    day rows the trailing window has passed: with the run_date fixed, a
    day with date_diff > 30 can never re-enter the window, so dropping
    it keeps state bounded at ~31 days × active tracks regardless of how
    long the stream runs (mirrors ``within_trailing_days``: deliberately
    no lower bound, so future-dated days are retained).  The NULL-date
    sentinel rows (track grain: corpus-wide max duration + labels) are
    exempt — they are what survives the window."""
    from ..config import RUN_DATE
    from ..functions.time_utils import within_trailing_days

    return (
        u.groupBy("track_id", "play_date")
        .agg(
            F.sum("plays").alias("plays"),
            F.max("dur_max").alias("dur_max"),
            F.min("track_name").alias("track_name"),
            F.min("artists").alias("artists"),
            F.min("album").alias("album"),
        )
        .filter(
            F.col("play_date").isNull()
            | within_trailing_days(F.col("play_date"), RUN_DATE)
        )
    )


def _q8_partials(stg: DataFrame) -> DataFrame:
    """Three-grain partials of one staged micro-batch for the Q8 fold.

    Q8's hard incremental problem is its two COUNT(DISTINCT)s per week
    (uniq_tracks, uniq_artists): a week-grain running aggregate cannot
    merge distinct counts, so the state keeps the DISTINCT SET itself at
    (year, week, track_id) grain — "WK" rows, the exact set-state whose
    merge is just the keyed groupBy (sets union by key collision; plays
    sum; week_dt maxes).  "TRK" rows live at (track_id, artists) grain
    — the SAME key the batch ``dim_track``'s trailing ``.distinct()``
    de-duplicates on for these two columns — so a source whose artists
    string is inconsistent within a track yields one state row per
    distinct pair, exactly like the batch dim, instead of silently
    min-folding to one (the round-6 advice divergence).  They carry the
    first-played min per pair; the read step re-derives the corpus-wide
    per-TRACK min (the batch dim's ``dttm_first_played`` is track-grain)
    by a bounded track-grain re-aggregate.  Remaining contract: the
    OTHER dim attributes (album, track_name) are assumed consistent per
    track — they never enter this mart's output, but a source dirty in
    those columns would split batch dim rows and inflate the batch
    new_tracks count in a way week-grain state cannot see.  "ART" rows
    (artist-string grain) carry the artist
    first-played min for new_artists.  All three grains are entity- or
    week×entity-scale, never play-scale, and every aggregate is
    associative/commutative (sum/min/max) so the snapshot fold replays
    idempotently like the other marts."""
    wk = stg.groupBy(
        F.year("played_at_mtn").cast("long").alias("year_played"),
        F.weekofyear("played_at_mtn").cast("long").alias("week_played"),
        "track_id",
    ).agg(
        F.count("*").alias("plays"),
        F.max(F.col("played_at_mtn").cast("date")).alias("week_dt"),
        F.lit(None).cast("string").alias("artists"),
        F.lit(None).cast("timestamp").alias("first_played"),
        F.lit("wk").alias("grain"),
    )
    # attribute-contract fingerprint: a digest over the dim attributes
    # the fold does NOT key on (album, track_name).  The state carries
    # its min AND max per (track_id, artists); any contradiction —
    # within a batch or across batches — makes min != max survive the
    # fold, and the read path fails loudly instead of silently
    # diverging from the batch dim's distinct grain (round-7 advice).
    # In the current pipeline the surrogate track_id hashes these very
    # columns, so the invariant holds by construction; the guard exists
    # to catch a staging change (e.g. normalizing album BEFORE hashing)
    # or an upstream key scheme that breaks the functional dependency.
    # Each field is md5'd SEPARATELY before combining: per-field digests
    # are fixed-width hex, so no boundary-shifted pair of values can
    # collide, and the NULL sentinel is a digest of a reserved marker —
    # distinct from md5("") — so a NULL->empty-string attribute change
    # also trips the guard (round-8 advice).
    def _field_fp(col: str):
        return F.coalesce(
            F.md5(F.col(col)), F.lit("0" * 32)  # reserved: md5 never all-zero
        )

    attr_digest = F.md5(F.concat(_field_fp("track_album"), _field_fp("track_name")))
    trk = stg.groupBy(
        "track_id", F.col("track_artists").alias("artists")
    ).agg(
        F.lit(None).cast("long").alias("year_played"),
        F.lit(None).cast("long").alias("week_played"),
        F.lit(0).cast("long").alias("plays"),
        F.lit(None).cast("date").alias("week_dt"),
        F.min("played_at_mtn").alias("first_played"),
        F.lit("trk").alias("grain"),
        F.min(attr_digest).alias("attr_lo"),
        F.max(attr_digest).alias("attr_hi"),
    )
    art = stg.groupBy(F.col("track_artists").alias("artists")).agg(
        F.lit(None).cast("long").alias("year_played"),
        F.lit(None).cast("long").alias("week_played"),
        F.lit(None).cast("string").alias("track_id"),
        F.lit(0).cast("long").alias("plays"),
        F.lit(None).cast("date").alias("week_dt"),
        F.min("played_at_mtn").alias("first_played"),
        F.lit("art").alias("grain"),
    )
    wk = wk.withColumn("attr_lo", F.lit(None).cast("string")).withColumn(
        "attr_hi", F.lit(None).cast("string")
    )
    art = art.withColumn("attr_lo", F.lit(None).cast("string")).withColumn(
        "attr_hi", F.lit(None).cast("string")
    )
    cols = [
        "grain", "year_played", "week_played", "track_id", "artists",
        "plays", "week_dt", "first_played", "attr_lo", "attr_hi",
    ]
    return (
        wk.select(*cols).unionByName(trk.select(*cols)).unionByName(
            art.select(*cols)
        )
    )


def _q8_remerge(u: DataFrame) -> DataFrame:
    """Fold state ∪ partials per grain.  The artists column is a GROUP
    KEY for trk and art rows (trk state is (track_id, artists)-grain —
    mirroring dim_track's distinct — and art state is artists-grain)
    but stays NULL in the wk key (wk rows never carry it; a per-batch
    attribute there would split a track's week row).  No eviction: Q8
    reports all weeks, and state is bounded by weeks × tracks +
    track-artists pairs + artists — entity-scale, not play-scale."""
    folded = u.groupBy(
        "grain",
        "year_played",
        "week_played",
        "track_id",
        F.when(
            F.col("grain").isin("art", "trk"), F.col("artists")
        ).alias("artists"),
    ).agg(
        F.sum("plays").alias("plays"),
        F.max("week_dt").alias("week_dt"),
        F.min("first_played").alias("first_played"),
        # the attribute-contract fingerprint folds associatively: a
        # contradiction anywhere in the stream keeps min != max forever
        F.min("attr_lo").alias("attr_lo"),
        F.max("attr_hi").alias("attr_hi"),
    )
    return folded.select(
        "grain",
        "year_played",
        "week_played",
        "track_id",
        "artists",
        "plays",
        "week_dt",
        "first_played",
        "attr_lo",
        "attr_hi",
    )


def _q8_assert_attr_consistency(state: DataFrame) -> None:
    """The Q8 fold's loud-failure guard (round-7 advice): the fold keys
    track state on (track_id, artists) — dim_track's distinct grain for
    those columns — and ASSUMES album/track_name are consistent per
    track.  The trk state rows carry a digest min/max over exactly
    those attributes (``_q8_partials``); any source row contradicting
    the assumption, in any micro-batch, leaves ``attr_lo != attr_hi``
    in the folded state.  One entity-grain count — a dirty source
    raises here instead of silently diverging from the batch build."""
    dirty = (
        state.filter(F.col("grain") == "trk")
        .filter(F.col("attr_lo") != F.col("attr_hi"))
        .count()
    )
    if dirty:
        raise ValueError(
            f"incremental Q8 attribute contract violated: {dirty} "
            "(track_id, artists) state rows saw more than one distinct "
            "(album, track_name) pair in the source — the streaming "
            "fold would silently diverge from the batch dim_track "
            "distinct grain; fix the source (or the surrogate key "
            "derivation) before resuming"
        )


def stream_rpt_discovery_rate_incremental(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
) -> DataFrame:
    """Maintain ``rpt_discovery_rate`` (Q8) incrementally — the mart
    whose incremental-maintenance problem neither sibling has: weekly
    COUNT(DISTINCT) pairs (tracks, artists) plus "new this week" counts
    that depend on a corpus-wide first-played minimum.  The fold keeps
    the distinct sets as (year, week, track_id) state rows and the
    first-played minima as track-/artist-grain rows (see
    ``_q8_partials``); the drained read then reproduces the batch Q8
    plan shape over entity-grain state: week rollup with the two
    distincts, broadcast dim join for artists, first-played week counts
    for new_tracks/new_artists, same safe_divide rates — hash-equal to
    the batch build (same Q8 oracle)."""
    from ..functions.math_utils import safe_divide

    state = _drain_mart(
        spark, sf_dir, base, _q8_partials, _q8_remerge, prefix="incr_q8_"
    )
    _q8_assert_attr_consistency(state)
    wk = state.filter(F.col("grain") == "wk").drop("artists")
    # trk state is (track_id, artists)-grain; the batch dim's
    # dttm_first_played is TRACK-grain, so restore the corpus-wide
    # per-track min with a bounded track-grain re-aggregate before the
    # new_tracks week rollup (one extra entity-scale shuffle at read).
    trk_pairs = state.filter(F.col("grain") == "trk").select(
        "track_id", "artists", "first_played"
    )
    trk_first = trk_pairs.groupBy("track_id").agg(
        F.min("first_played").alias("first_played")
    )
    trk = trk_pairs.select("track_id", "artists").join(
        F.broadcast(trk_first), "track_id"
    )
    art = state.filter(F.col("grain") == "art").select(
        "artists", "first_played"
    )
    base_rpt = (
        wk.join(F.broadcast(trk.select("track_id", "artists")), "track_id", "left")
        .groupBy("year_played", "week_played")
        .agg(
            F.max("week_dt").alias("week_dt"),
            F.sum("plays").alias("plays"),
            F.countDistinct("artists").alias("uniq_artists"),
            F.countDistinct("track_id").alias("uniq_tracks"),
        )
    )
    first_date = F.col("first_played").cast("date")
    new_tracks = trk.groupBy(
        F.year(first_date).cast("long").alias("year_played"),
        F.weekofyear(first_date).cast("long").alias("week_played"),
    ).agg(F.count("*").alias("new_tracks"))
    new_artists = art.groupBy(
        F.year(first_date).cast("long").alias("year_played"),
        F.weekofyear(first_date).cast("long").alias("week_played"),
    ).agg(F.count("*").alias("new_artists"))
    return (
        base_rpt.join(F.broadcast(new_tracks), ["year_played", "week_played"], "left")
        .join(F.broadcast(new_artists), ["year_played", "week_played"], "left")
        .select(
            "year_played",
            "week_played",
            "week_dt",
            "plays",
            "uniq_artists",
            "uniq_tracks",
            "new_tracks",
            "new_artists",
            safe_divide(F.col("new_tracks"), F.col("uniq_tracks")).alias(
                "track_discovery_rate"
            ),
            safe_divide(F.col("new_artists"), F.col("uniq_artists")).alias(
                "artist_discovery_rate"
            ),
        )
    )


def stream_rpt_artist_counts_incremental(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
) -> DataFrame:
    """Maintain ``rpt_artist_counts`` (Q7) incrementally — a SECOND mart
    read over the SAME (track_id, play_date)-grain state design as the
    Q6 fold: the state already carries everything Q7 needs (per-day play
    counts inside the trailing window, the max-resolved duration and the
    min-folded artists label), so the artist mart is just a different
    final aggregation of the identical fold.  On a deployment both marts
    read ONE shared state table (Delta/Iceberg) maintained by one
    streaming job — the "one incremental state, N downstream views"
    shape that makes state-grain design the load-bearing decision at
    scale; here each call drains its own fold so bench cost attribution
    stays per-query (the Q6 twin's discipline).

    Exactness: per track the in-window minutes are plays × max-resolved
    duration — exact integral doubles (< 2^53) — and Q7's artist-grain
    ``sum(duration_ms)`` is their exact sum over the artist's tracks,
    with the single /1000/60 division applied once at read: bit-equal to
    the batch Q7 (same oracle).  Q7's INNER dim join is vacuous against
    this state (every fct track has a dim row by construction), and the
    artists label rides the sentinel rows min-folded — functionally
    dependent on track_id, the dim_track attribute argument."""
    state = _drain_mart(
        spark, sf_dir, base, _rpt_partials, _rpt_remerge, prefix="incr_rpt7_"
    )
    per_track = (
        state.groupBy("track_id")
        .agg(
            F.sum("plays").alias("plays"),
            F.max("dur_max").alias("dur_max"),
            F.min("artists").alias("artists"),
        )
        .filter(F.col("plays") > 0)
    )
    return per_track.groupBy("artists").agg(
        F.sum("plays").alias("plays"),
        (F.sum(F.col("plays") * F.col("dur_max")) / 1000 / 60).alias(
            "minutes_played"
        ),
    )


def stream_rpt_track_counts_incremental(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
) -> DataFrame:
    """Maintain ``rpt_track_counts`` (Q6) incrementally — the trailing-
    30-day mart whose interesting state problem is EVICTION, which the
    dim_track fold doesn't have: state lives at (track_id, play_date)
    grain, each micro-batch folds its per-day partials in and drops days
    outside the window, and the final read re-aggregates the surviving
    days to track grain.

    Exactness: Q6's ``sum(dim_track.duration_ms)`` adds the MAX-resolved
    per-track duration once per in-window play — i.e. exactly
    plays × max_duration, both integral doubles, so the product and the
    repeated addition are the same exact value (< 2^53) and the single
    ``/1000/60`` division happens once at read: the drained mart is
    BIT-equal to the batch Q6 (same oracle).  Label columns ride the
    sentinel rows as min-folded attributes (each is functionally
    dependent on track_id, so min = the value — the same argument as
    dim_track's attribute columns, making the batch build's broadcast
    dim joins unnecessary here)."""
    state = _drain_mart(
        spark, sf_dir, base, _rpt_partials, _rpt_remerge, prefix="incr_rpt_"
    )
    return (
        state.groupBy("track_id")
        .agg(
            F.sum("plays").alias("plays"),  # sentinel rows contribute 0
            F.max("dur_max").alias("dur_max"),  # only sentinels carry it
            F.min("track_name").alias("track_name"),
            F.min("artists").alias("artists"),
            F.min("album").alias("album"),
        )
        .filter(F.col("plays") > 0)  # tracks with no in-window plays
        .select(
            "track_name",
            "artists",
            "album",
            "plays",
            (F.col("plays") * F.col("dur_max") / 1000 / 60).alias("minutes_played"),
        )
    )
