"""As-of join unit tests + a plan lint across the whole query surface."""

from __future__ import annotations

import datetime as dt

import pytest

import __spark_entry__ as entrymod
from spotify_tracks_spark.functions import memo
from spotify_tracks_spark.operators.asof import asof_join

from .conftest import SF_SMOKE


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def asof_fixture(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "p1"),
            (1, _ts("2024-01-01 12:00:00"), "p2"),
            (2, _ts("2024-01-01 09:00:00"), "p3"),  # before any right row
            (3, _ts("2024-01-01 10:00:00"), "p4"),  # user with no right rows
        ],
        "user_id: long, ts: timestamp, pid: string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 09:30:00"), "c1"),
            (1, _ts("2024-01-01 10:00:00"), "c2"),  # ties p1's ts exactly
            (1, _ts("2024-01-01 11:59:00"), "c3"),
            (2, _ts("2024-01-01 09:30:00"), "c4"),  # after p3
        ],
        "user_id: long, ts: timestamp, cid: string",
    )
    return left, right


def test_asof_matches_latest_at_or_before(spark, asof_fixture):
    left, right = asof_fixture
    out = {
        r.pid: r.asof_cid
        for r in asof_join(left, right, ["user_id"], "ts", ["cid"]).collect()
    }
    assert out["p1"] == "c2"  # equal-ts right row matches (at-or-before)
    assert out["p2"] == "c3"  # latest preceding, not first
    assert out["p3"] is None  # right rows exist but all later
    assert out["p4"] is None  # no right rows for the key at all


def test_asof_null_payload_fields_survive(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"))], "user_id: long, ts: timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 09:00:00"), None)],
        "user_id: long, ts: timestamp, note: string",
    )
    row = asof_join(left, right, ["user_id"], "ts", ["note", "ts"]).collect()[0]
    # the matched ROW is found even though its payload field is NULL
    assert row.asof_ts == _ts("2024-01-01 09:00:00")
    assert row.asof_note is None


def test_no_accidental_cartesian_products(spark):
    """Plan lint: no query may compile to a CartesianProduct.  Intentional
    small-side cross joins must go through broadcast (BroadcastNestedLoop)."""
    qs = {**entrymod.queries(), **entrymod.extra_queries()}
    skip = {  # streaming / sink queries execute eagerly; lint is for plans
        "events_stream_dedup",
        "events_stream_window",
        "events_stream_sessionize",
        "publish_roundtrip",
    }
    for name, fn in qs.items():
        if name in skip:
            continue
        plan = fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"


def test_range_join_binned_equals_naive(spark):
    """The binned rewrite must reproduce the naive theta join exactly,
    including values on bin edges and interval boundaries."""
    from pyspark.sql import functions as F

    from spotify_tracks_spark.operators.range_join import BIN_WIDTH, range_join_binned

    vals = spark.createDataFrame(
        [(i, v) for i, v in enumerate(
            [0.0, 9.999, 10.0, 24.999, 25.0, 49.999, 50.0, 399.999, 400.0, 1999.999, 2000.0, -1.0]
        )],
        "id: long, v: double",
    )
    bands = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 50.0), ("c", 50.0, 400.0), ("d", 400.0, 2000.0)],
        "band: string, lo: double, hi: double",
    )
    got = {
        (r.id, r.band)
        for r in range_join_binned(vals, "v", bands).collect()
    }
    naive = {
        (r.id, r.band)
        for r in vals.join(bands, (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))).collect()
    }
    assert got == naive
    # boundary sanity: 2000.0 (== top hi) and -1.0 match nothing
    matched_ids = {i for i, _ in got}
    assert 10 not in matched_ids and 11 not in matched_ids


def test_rollup_grand_total(spark):
    from spotify_tracks_spark.operators.events import events_rollup
    from spotify_tracks_spark.sources.tables import read_table

    rows = events_rollup(spark, SF_SMOKE).collect()
    total = read_table(spark, SF_SMOKE, "events").count()
    grand = [r for r in rows if r.gid == 3]
    assert len(grand) == 1 and grand[0].n_events == total
    # per-type subtotals (gid=1) sum to the grand total
    assert sum(r.n_events for r in rows if r.gid == 1) == total


def test_percentiles_ordered(spark):
    from spotify_tracks_spark.operators.events import events_percentiles

    for r in events_percentiles(spark, SF_SMOKE).collect():
        assert r.p50 <= r.p90 <= r.p99


def test_model_chain_joins_are_broadcast(spark):
    """Every dim join in the report models must stay a broadcast hash join
    (dims ≪ fact); a regression to sort-merge would shuffle the fact."""
    import __spark_entry__ as em

    # fresh plans: a memoized chain DataFrame keeps the QueryExecution of
    # its FIRST run — executed under another test's context it may have
    # finalized differently, making this assertion order-sensitive
    memo.clear()
    spark.catalog.clearCache()
    qs = {**em.queries(), **em.extra_queries()}  # q7 rotated to extras in r4
    for name in ("q6_rpt_track_counts", "q7_rpt_artist_counts", "q8_rpt_discovery_rate"):
        df = qs[name](spark, SF_SMOKE)
        df.write.format("noop").mode("overwrite").save()  # let AQE finalize
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast join"
        # the explicit F.broadcast dim joins must be broadcast from the
        # initial plan; stg-internal joins may start sort-merge and AQE
        # converts them — assert none SURVIVE to the final plan
        assert "SortMergeJoin" not in plan or "isFinalPlan=false" in plan, (
            f"{name} has a sort-merge join in the final plan"
        )


def test_approx_stats_within_tolerance(spark):
    """Sketch accuracy contracts: HLL within ±5%, t-digest by RANK (the
    value at the sketch's p99 must cover 95-100% of rows — value-distance
    in the tail is meaningless at small N)."""
    from pyspark.sql import functions as F

    from spotify_tracks_spark.operators.events import events_approx_stats, events_summary
    from spotify_tracks_spark.sources.tables import read_table

    ev = read_table(spark, SF_SMOKE, "events")
    approx = {r.event_type: r for r in events_approx_stats(spark, SF_SMOKE).collect()}
    exact_sum = {r.event_type: r for r in events_summary(spark, SF_SMOKE).collect()}
    for et, a in approx.items():
        assert abs(a.approx_users - exact_sum[et].n_users) <= max(2, 0.05 * exact_sum[et].n_users)
        n = a.n_events
        vals = ev.filter(F.col("event_type") == et)
        frac50 = vals.filter(F.col("value") <= a.approx_p50).count() / n
        frac99 = vals.filter(F.col("value") <= a.approx_p99).count() / n
        assert 0.40 <= frac50 <= 0.60, (et, frac50)
        assert 0.95 <= frac99 <= 1.00, (et, frac99)


def test_kmeans_properties(spark):
    """Iterative Lloyd's: inertia non-increasing with iterations, every
    vector assigned to a valid cluster, deterministic across runs."""
    from spotify_tracks_spark.operators.clustering import (
        K_CLUSTERS,
        embedding_kmeans,
        kmeans_inertia,
    )
    from spotify_tracks_spark.sources.tables import read_table

    n = read_table(spark, SF_SMOKE, "embeddings").count()
    out = embedding_kmeans(spark, SF_SMOKE).collect()
    assert len(out) == n
    assert all(0 <= r.cluster < K_CLUSTERS for r in out)
    assert len({r.cluster for r in out}) > 1  # didn't collapse

    i0 = kmeans_inertia(spark, SF_SMOKE, n_iters=0)
    i1 = kmeans_inertia(spark, SF_SMOKE, n_iters=1)
    i3 = kmeans_inertia(spark, SF_SMOKE, n_iters=3)
    assert i1 <= i0 * (1 + 1e-9)
    assert i3 <= i1 * (1 + 1e-9)

    again = embedding_kmeans(spark, SF_SMOKE).collect()
    assert {(r.vec_id, r.cluster) for r in out} == {(r.vec_id, r.cluster) for r in again}


def test_centroid_plans_are_constant_size_in_k(spark):
    """Round-4 contract: centroid/codebook matrices ride one-row broadcast
    relations, NOT plan literals — the plan must not grow with k×d (a
    literal-matrix plan stops compiling at production k=65k·d=1024).
    Pin it by planning at two k and asserting near-identical plan size,
    plus the BroadcastNestedLoopJoin single-row spine."""
    from spotify_tracks_spark.operators.clustering import kmeans_init_counts
    from spotify_tracks_spark.operators.similarity import (
        _ann_topk_ivf_plan,
        embedding_pq,
    )

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p4 = plan_of(kmeans_init_counts(spark, SF_SMOKE, k=4))
    p8 = plan_of(kmeans_init_counts(spark, SF_SMOKE, k=8))
    assert "BroadcastNestedLoopJoin" in p8
    # doubling k must not grow the plan (allow trivial jitter, not 4×64
    # extra doubles ≈ 2+ kB of literal text)
    assert abs(len(p8) - len(p4)) < 200, (len(p4), len(p8))

    # ann_topk_ivf's registered frame is the session-memoized checkpointed
    # top-k list (round 11) — the centroid-spine contract lives in the
    # INTERIOR plan the memo materializes, so pin that plan directly
    for df in (
        _ann_topk_ivf_plan(spark, SF_SMOKE, 5, 100, 16, 1),
        embedding_pq(spark, SF_SMOKE),
    ):
        p = plan_of(df)
        assert "BroadcastNestedLoopJoin" in p
        assert len(p) < 20_000, len(p)


def test_scan_column_pruning_reaches_parquet(spark):
    """The scale story rests on projections reaching the scan: operators
    must not read columns they don't use (ReadSchema is the contract)."""
    import re

    from spotify_tracks_spark.operators.analytics import events_sample
    from spotify_tracks_spark.operators.text_analysis import text_tokens

    def read_schemas(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return re.findall(r"ReadSchema: struct<([^>]*)>", plan)

    # text_tokens touches only (doc_id, text) of the 5-column documents table
    [schema] = read_schemas(text_tokens(spark, SF_SMOKE))
    assert sorted(c.split(":")[0] for c in schema.split(",")) == ["doc_id", "text"]

    # events_sample never materializes the props JSON column
    for schema in read_schemas(events_sample(spark, SF_SMOKE)):
        assert "props" not in schema


def test_cms_never_undercounts(spark):
    """The Count-Min guarantee: estimate >= true count for EVERY key
    (min over depth cells can only be inflated by collisions, never
    deflated), and at least one estimate in this data is exact."""
    from spotify_tracks_spark.operators.events import events_cms_heavy_hitters

    rows = events_cms_heavy_hitters(spark, SF_SMOKE, k=10**9).collect()
    assert rows and all(r.overcount >= 0 for r in rows)
    assert all(r.est_n == r.true_n + r.overcount for r in rows)


def test_kmv_merge_is_lossless_and_estimate_sane(spark):
    """The two-level KMV path (daily partials → rollup retake) must
    yield the IDENTICAL register set as a single global k-minimum pass
    (the mergeability theorem the operator banks on), and the estimate
    must land within the sketch's statistical envelope."""
    from pyspark.sql import Window, functions as F

    from spotify_tracks_spark.functions.hashing import portable_hash60
    from spotify_tracks_spark.operators.events import (
        KMV_K,
        events_kmv_distinct,
    )
    from spotify_tracks_spark.sources.tables import read_table
    from tests.conftest import SF_T2

    sf = SF_T2
    got = {r.event_type: r for r in events_kmv_distinct(spark, sf).collect()}
    assert got, "no event types"

    # independent single-pass global k-minimum (no daily level)
    ev = read_table(spark, sf, "events").select(
        "event_type", portable_hash60(F.col("user_id")).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    direct = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_kept"), F.max("h").alias("kth_hash"))
    )
    for r in direct.collect():
        g = got[r.event_type]
        assert (g.n_kept, g.kth_hash) == (r.n_kept, r.kth_hash), r.event_type

    # estimate quality: within 5 relative standard errors (1/sqrt(k-2))
    import math

    rse = 1.0 / math.sqrt(KMV_K - 2)
    for t, g in got.items():
        if g.n_kept < KMV_K:
            assert g.est_distinct_users == g.exact_distinct_users, t
        else:
            rel = abs(g.est_distinct_users - g.exact_distinct_users) / g.exact_distinct_users
            assert rel < 5 * rse, (t, rel)


def test_negative_samples_invariants(spark):
    """Per anchor: exactly k positives + neg_k negatives, disjoint sets,
    and (positives being the GLOBAL top-k) every negative's cosine is
    bounded by the weakest positive's."""
    from collections import defaultdict

    from spotify_tracks_spark.operators.similarity import (
        NEG_K,
        embedding_negative_samples,
    )
    from tests.conftest import SF_T2

    rows = embedding_negative_samples(spark, SF_T2).collect()
    by_q = defaultdict(lambda: {"positive": [], "negative": []})
    for r in rows:
        by_q[r.query_id][r.role].append(r)
    assert by_q
    for q, d in by_q.items():
        assert len(d["positive"]) == 5 and len(d["negative"]) == NEG_K, q
        pos_ids = {r.vec_id for r in d["positive"]}
        neg_ids = {r.vec_id for r in d["negative"]}
        assert not (pos_ids & neg_ids), q
        assert q not in pos_ids | neg_ids, q
        weakest_pos = min(r.cos for r in d["positive"])
        assert all(r.cos <= weakest_pos for r in d["negative"]), q


def test_hll_rank_is_exact_integer_math(spark):
    """_hll_rho's trailing-zero rank on hand-picked suffixes: exact
    powers of two, mixed bits, and the all-zero suffix — the cases
    where a floor-of-log2 formulation would be libm-fragile."""
    from pyspark.sql import functions as F

    from spotify_tracks_spark.operators.events import HLL_W_BITS, _hll_rho

    cases = [
        (0, HLL_W_BITS + 1),        # all-zero suffix
        (1, 1),                     # tz 0
        (2, 2),                     # tz 1
        (8, 4),                     # tz 3
        (12, 3),                    # 0b1100 -> tz 2
        (1 << 51, 52),              # highest single bit in the field
        ((1 << 51) | (1 << 7), 8),  # lowest set bit wins
    ]
    df = spark.createDataFrame([(w,) for w, _ in cases], "w long")
    got = {
        r.w: r.rho
        for r in df.select("w", _hll_rho(F.col("w")).alias("rho")).collect()
    }
    assert got == {w: rho for w, rho in cases}


def test_hll_estimate_within_envelope(spark):
    """HLL estimate lands within 5 relative standard errors
    (1.04/sqrt(m)) of truth at the t2 scale, and the small-range
    branch engages when most registers are empty."""
    from spotify_tracks_spark.operators.events import HLL_M, events_hll_distinct
    from tests.conftest import SF_T2

    rows = events_hll_distinct(spark, SF_T2).collect()
    assert rows
    rse = 1.04 / (HLL_M ** 0.5)
    for r in rows:
        rel = abs(r.est_distinct_users - r.exact_distinct_users) / r.exact_distinct_users
        assert rel < 5 * rse, (r.event_type, rel)
        assert 0 <= r.n_zero_regs <= HLL_M


def test_bloom_no_false_negatives(spark):
    """Bloom guarantee: every true member is predicted (predicted =
    members + false positives exactly), and the measured fp rate stays
    within a loose factor of the (1-e^(-kn/m))^k design point."""
    import math

    from spotify_tracks_spark.operators.events import (
        BLOOM_K,
        BLOOM_M_BITS,
        events_bloom_membership,
    )
    from tests.conftest import SF_T2

    r = events_bloom_membership(spark, SF_T2).collect()[0]
    assert r.n_predicted_members == r.n_members + r.n_false_positives
    assert r.n_members > 0 and r.n_users > r.n_members  # both classes real
    load = BLOOM_K * r.n_members / BLOOM_M_BITS
    design = (1.0 - math.exp(-load)) ** BLOOM_K
    assert r.fp_rate <= max(4 * design, 0.05), (r.fp_rate, design)
