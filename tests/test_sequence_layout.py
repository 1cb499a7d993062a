"""Semantic tests for the sequence / segmentation / layout operators
(events_markov, events_rfm, corpus_vocab_encode, corpus_length_batches,
events_zorder_key, stream_events_peak_rate).  Hash-parity vs DuckDB is
covered for all of these by test_extra_parity; these tests pin the
properties a hash can't express (probabilities sum to 1, Morton locality,
padding optimality, emission monotonicity).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from spotify_tracks_spark.operators.analytics import (
    events_markov_transitions,
    events_rfm,
)
from spotify_tracks_spark.operators.layout import (
    events_zorder_key,
    interleave_bits,
    interleave_bits_sql,
)
from spotify_tracks_spark.operators.llm_prep import (
    BATCH_SIZE,
    corpus_length_batches,
    corpus_vocab_encode,
)

from .conftest import SF_SMOKE


def test_markov_rows_are_probability_distributions(spark):
    m = events_markov_transitions(spark, SF_SMOKE)
    rows = m.groupBy("from_type").agg(
        F.sum("p").alias("total"), F.sum("n_transitions").alias("n")
    ).collect()
    assert rows, "transition matrix is empty"
    for r in rows:
        assert abs(r["total"] - 1.0) < 1e-9, f"{r['from_type']} sums to {r['total']}"
        assert r["n"] > 0
    # sequence conservation: total transitions = total events - one per
    # user (the last event of each user has no successor)
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    expected = ev.count() - ev.select("user_id").distinct().count()
    assert m.agg(F.sum("n_transitions")).collect()[0][0] == expected


def test_rfm_quartiles_cover_and_segments_exhaust(spark):
    r = events_rfm(spark, SF_SMOKE)
    users = r.count()
    # every quartile column uses the full 1..4 range (ntile is balanced)
    for c in ("r_q", "f_q", "m_q"):
        vals = {row[0] for row in r.select(c).distinct().collect()}
        assert vals == {1, 2, 3, 4}, f"{c}: {vals}"
        # balanced buckets: sizes differ by at most 1
        sizes = [row[1] for row in r.groupBy(c).count().collect()]
        assert max(sizes) - min(sizes) <= 1
    assert r.filter(F.col("segment").isNull()).count() == 0
    assert r.select("user_id").distinct().count() == users


def test_vocab_encode_roundtrip_token_counts(spark):
    enc = corpus_vocab_encode(spark, SF_SMOKE)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert enc.count() == docs.count()
    # id sequence length == token count for every doc
    bad = enc.filter(
        F.size(F.split("ids_str", " ")) != F.col("n_tokens")
    ).count()
    assert bad == 0
    # the id space is bounded: 0 (unk) .. VOCAB_K
    from spotify_tracks_spark.operators.llm_prep import VOCAB_K

    ids = enc.select(
        F.explode(F.split("ids_str", " ")).alias("id_s")
    ).select(F.col("id_s").cast("int").alias("id"))
    mn, mx = ids.agg(F.min("id"), F.max("id")).collect()[0]
    assert 0 <= mn and mx <= VOCAB_K


def test_length_batches_padding_is_bucket_bounded(spark):
    b = corpus_length_batches(spark, SF_SMOKE)
    rows = b.collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == docs
    for r in rows:
        assert 1 <= r["n_docs"] <= BATCH_SIZE
        assert r["min_tokens"] <= r["max_tokens"]
        # length-sorted batching ⇒ within-batch spread can't exceed the
        # batch's own min→max, and padding is (max−len) summed
        assert r["padded_tokens"] <= (r["max_tokens"] - r["min_tokens"]) * r["n_docs"]
        assert 0.0 <= r["pad_frac"] < 1.0


def test_interleave_bits_known_values(spark):
    # 0b11 ⨉ 0b00 → a-bits land at odd positions: 0b1010 = 10
    df = spark.range(1).select(
        interleave_bits(F.lit(3), F.lit(0)).alias("a_only"),
        interleave_bits(F.lit(0), F.lit(3)).alias("b_only"),
        interleave_bits(F.lit(3), F.lit(3)).alias("both"),
        interleave_bits(F.lit(0xFFFF), F.lit(0)).alias("a_max"),
    )
    r = df.collect()[0]
    assert r["a_only"] == 0b1010
    assert r["b_only"] == 0b0101
    assert r["both"] == 0b1111
    # 16 a-bits fill the odd positions of a 32-bit key
    assert r["a_max"] == sum(1 << (2 * i + 1) for i in range(16))
    # the SQL twin is generated from the same loop — spot-check via duckdb
    import duckdb

    sql = interleave_bits_sql("5", "3", bits=4)
    assert duckdb.sql(f"select {sql} as z").fetchone()[0] == (
        (1 << 1) + (1 << 5)  # a=0b0101 → odd slots 1,5... plus b bits
        + (1 << 0) + (1 << 2)  # b=0b0011 → even slots 0,2
    )


def test_zorder_improves_two_dimensional_pruning(spark):
    """The layout claim, measured as parquet min/max pruning would see it:
    for a point filter on dimension X, a file must be read iff its
    [min_X, max_X] range contains the value — so the expected fraction of
    files scanned under a uniform point filter is Σ_files range_X / |X|.
    A single-column sort makes one dimension perfect (score → 1 file) and
    the other unprunable (score → ALL files); Z-order bounds BOTH.  On a
    square grid the z-layout must beat each single-column sort on the
    SUM of the two scores — that's the whole reason the operator exists."""
    n = 64
    grid = spark.range(n * n).select(
        (F.col("id") / n).cast("long").alias("a"),
        (F.col("id") % n).alias("b"),
    )
    keyed = grid.withColumn("zkey", interleave_bits(F.col("a"), F.col("b"), bits=6))

    def scan_score(df, col):
        parts = df.repartitionByRange(8, F.col(col)).withColumn(
            "pid", F.spark_partition_id()
        )
        boxes = parts.groupBy("pid").agg(
            ((F.max("a") - F.min("a") + 1) / n).alias("fa"),
            ((F.max("b") - F.min("b") + 1) / n).alias("fb"),
        )
        r = boxes.agg(F.sum("fa").alias("sa"), F.sum("fb").alias("sb")).collect()[0]
        return r["sa"], r["sb"]

    za, zb = scan_score(keyed, "zkey")
    aa, ab = scan_score(keyed, "a")
    ba, bb = scan_score(keyed, "b")
    # a-sorted: filters on b scan every file; symmetric for b-sorted
    assert ab == 8.0 and ba == 8.0
    # z-order strictly beats both single-column sorts on combined
    # prunability, and neither dimension degenerates to all-files
    assert za + zb < min(aa + ab, ba + bb), (za, zb, aa, ab, ba, bb)
    assert za < 8.0 and zb < 8.0


def test_pit_join_never_leaks_the_future(spark):
    from spotify_tracks_spark.operators.analytics import events_pit_join

    pit = events_pit_join(spark, SF_SMOKE)
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase")
    # row preservation: exactly one output row per purchase (disjoint
    # SCD2 intervals ⇒ the interval filter can't fan out)
    assert pit.count() == purchases.count()
    # the feature-store contract: the looked-up state began strictly
    # before the event — nothing from the future
    assert pit.filter(F.col("prior_state_from") >= F.col("ts")).count() == 0
    # NULL prior state iff the purchase is its user's first event
    firsts = (
        ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    )
    null_rows = pit.filter(F.col("prior_state").isNull())
    joined = null_rows.join(firsts, "user_id")
    assert joined.filter(F.col("ts") != F.col("t0")).count() == 0


def test_type_correlation_matrix_shape_and_bounds(spark):
    from spotify_tracks_spark.operators.timeseries import events_type_correlation

    c = events_type_correlation(spark, SF_SMOKE)
    rows = c.collect()
    # 5 event types → C(5,2) unordered pairs
    assert len(rows) == 10
    for r in rows:
        assert r["type_a"] < r["type_b"]
        if r["corr"] is not None:
            assert -1.0 - 1e-9 <= r["corr"] <= 1.0 + 1e-9
        assert r["n_days"] > 0


def test_session_cooccurrence_support_and_lift_bounds(spark):
    from spotify_tracks_spark.operators.events import events_session_cooccurrence

    co = events_session_cooccurrence(spark, SF_SMOKE).collect()
    assert co, "no co-occurring pairs"
    for r in co:
        assert r["type_a"] < r["type_b"]
        assert 0.0 < r["support"] <= 1.0
        assert r["lift"] > 0.0
        # lift ≤ S / max(n_a, n_b) ≤ S / n_both... loose sanity: the
        # observed pair can't exceed either item's session count, so
        # support(pair) ≤ support(item) ⇒ lift ≤ 1/max(support_a, support_b)
        assert r["n_both"] > 0


def test_session_paths_ranked_and_bounded(spark):
    from spotify_tracks_spark.operators.events import (
        PATH_LEN,
        PATH_TOP_K,
        events_session_paths,
    )

    rows = events_session_paths(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= PATH_TOP_K
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    ns = [r["n_sessions"] for r in rows]
    assert ns == sorted(ns, reverse=True)
    for r in rows:
        assert 1 <= len(r["path"].split(">")) <= PATH_LEN


def test_user_entropy_bounds(spark):
    import math

    from spotify_tracks_spark.operators.analytics import events_user_entropy

    rows = events_user_entropy(spark, SF_SMOKE).collect()
    assert rows
    hmax = math.log(5)
    for r in rows:
        assert 0.0 <= r["entropy"] <= hmax + 1e-12
        assert 0.0 <= r["evenness"] <= 1.0 + 1e-12
        # single-type users have zero entropy; multi-type strictly positive
        if r["n_types"] == 1:
            assert r["entropy"] == 0.0
        else:
            assert r["entropy"] > 0.0


def test_weighted_sample_is_take_ordered_and_biased(spark):
    from spotify_tracks_spark.operators.analytics import (
        WSAMPLE_K,
        events_weighted_sample,
    )

    samp = events_weighted_sample(spark, SF_SMOKE)
    # the scale claim: global top-k must compile to TakeOrderedAndProject
    # (per-partition heaps), never a global Sort or single-partition window
    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:500]
    rows = samp.collect()
    assert len(rows) == min(WSAMPLE_K, 1000)
    # weighting works: the sample's mean weight must exceed the
    # population mean (heavier rows win proportionally more often)
    pop_mean = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .agg(F.avg("value"))
        .collect()[0][0]
    )
    samp_mean = sum(r["value"] for r in rows) / len(rows)
    assert samp_mean > pop_mean * 1.2, (samp_mean, pop_mean)
    # deterministic: a second evaluation returns the identical set
    again = {r["event_id"] for r in events_weighted_sample(spark, SF_SMOKE).collect()}
    assert again == {r["event_id"] for r in rows}


def test_chi2_components_nonnegative_and_additive(spark):
    from spotify_tracks_spark.operators.timeseries import events_chi2_independence

    rows = events_chi2_independence(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    assert sum(r["n_row"] for r in rows) == ev.count()
    for r in rows:
        assert r["chi2_component"] >= 0.0
        assert r["dof"] == 6


def test_compact_table_file_count_and_pruning_order(spark, tmp_path_factory):
    import glob

    from spotify_tracks_spark.operators.layout import compact_table

    tmp = tmp_path_factory.mktemp("compact")
    # simulate the small-file problem: 64 files for 10k rows
    src = spark.range(10_000).withColumn("k", F.col("id") % 100)
    src.repartition(64).write.parquet(f"{tmp}/small")
    assert len(glob.glob(f"{tmp}/small/part-*")) == 64
    n = compact_table(
        spark.read.parquet(f"{tmp}/small"),
        f"{tmp}/compact",
        target_rows_per_file=4_000,
        sort_col="id",
    )
    files = glob.glob(f"{tmp}/compact/part-*")
    assert len(files) == n == 3  # ceil(10000/4000)
    back = spark.read.parquet(f"{tmp}/compact")
    assert back.count() == 10_000
    # range-clustered: per-file id ranges must not overlap (min/max
    # pruning works after compaction)
    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(files):
        t = pq.read_table(f, columns=["id"])
        ids = t.column("id").to_pylist()
        ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, ranges


def test_new_operator_plans_broadcast_their_small_sides(spark):
    """Plan audit: every operator whose docstring claims a broadcast of a
    tiny frame must actually compile to a BroadcastHashJoin (or BNLJ for
    the single-row cross joins) — a silent fallback to SortMergeJoin on
    these would shuffle the big side twice at scale."""
    from spotify_tracks_spark.operators.llm_prep import corpus_vocab_encode
    from spotify_tracks_spark.operators.profile import events_value_histogram
    from spotify_tracks_spark.operators.timeseries import (
        events_mad_outliers,
        events_type_correlation,
    )

    for name, fn in (
        ("vocab_encode", corpus_vocab_encode),
        ("histogram", events_value_histogram),
        ("mad_outliers", events_mad_outliers),
        ("type_correlation", events_type_correlation),
    ):
        plan = fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan, f"{name}: no broadcast in plan"
        assert "CartesianProduct" not in plan, name


def test_dim_calendar_iso_year_handles_year_boundary(spark, tmp_path_factory):
    """Dec 29+ can belong to ISO week 1 of the NEXT year and Jan 1-3 to
    week 52/53 of the PREVIOUS — the pairing bug the reference's Q8
    exhibits with year(ts).  Build a spine across 2025→2026 (Jan 1 2026
    is a Thursday in ISO week 1) and assert the iso_year re-pairing."""
    import datetime

    from spotify_tracks_spark.operators.timeseries import dim_calendar

    tmp = tmp_path_factory.mktemp("cal")
    days = [datetime.datetime(2025, 12, 28) + datetime.timedelta(days=i) for i in range(10)]
    rows = [(i, d, 1, "view", 1.0, "{}") for i, d in enumerate(days)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{tmp}/events.parquet")

    cal = {r["day"].isoformat(): r for r in dim_calendar(spark, str(tmp)).collect()}
    assert len(cal) == 10
    # Mon Dec 29 2025 .. Sun Jan 4 2026 are ISO week 1 of 2026
    for iso, want_week, want_iso_year in (
        ("2025-12-28", 52, 2025),  # Sunday, last day of ISO week 52/2025
        ("2025-12-29", 1, 2026),   # Monday: ISO week 1 of 2026 begins
        ("2025-12-31", 1, 2026),
        ("2026-01-01", 1, 2026),
        ("2026-01-04", 1, 2026),   # Sunday, ISO week 1 ends
        ("2026-01-05", 2, 2026),
    ):
        r = cal[iso]
        assert (r["iso_week"], r["iso_year"]) == (want_week, want_iso_year), (iso, r)
        assert r["year"] == int(iso[:4])


def test_corpus_survival_chains_and_matches_prep(spark):
    from spotify_tracks_spark.operators.corpus import corpus_prep, corpus_survival

    rows = sorted(
        corpus_survival(spark, SF_SMOKE).collect(), key=lambda r: r["stage_no"]
    )
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert rows[0]["n_in"] == docs
    for prev, nxt in zip(rows, rows[1:]):
        assert prev["n_out"] == nxt["n_in"]
        assert prev["n_in"] - prev["n_dropped"] == prev["n_out"]
    # the funnel's survivors ARE the corpus_prep output
    assert rows[-1]["n_out"] == corpus_prep(spark, SF_SMOKE).count()


def test_retention_rate_offset_zero_is_one(spark):
    from spotify_tracks_spark.operators.analytics import events_retention_rate

    rows = events_retention_rate(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["rate"] <= 1.0
        if r["week_offset"] == 0:
            assert r["rate"] == 1.0
        assert r["n_users"] <= r["cohort_size"]
