"""Semantics test for events_growth_accounting on a planted fixture:
classification (new/retained/resurrected) and churn attribution to the
week AFTER last activity, capped at the corpus max week."""

from __future__ import annotations

from datetime import datetime, timedelta

from spotify_tracks_spark.operators.analytics import events_growth_accounting

W0 = datetime(2024, 1, 1, 12)  # Monday — week boundary-safe anchor


def _at_week(k: int) -> datetime:
    return W0 + timedelta(weeks=k)


def test_growth_ledger_planted(spark, tmp_path):
    rows = [
        # u1: weeks 0, 1, 3  (new, retained, resurrected; gap-churn in wk2)
        (0, _at_week(0), 1, "view", 1.0, "{}"),
        (1, _at_week(1), 1, "view", 1.0, "{}"),
        (2, _at_week(3), 1, "view", 1.0, "{}"),
        # u2: week 1 only (new; churned in wk2)
        (3, _at_week(1), 2, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    out = {r.week: r for r in events_growth_accounting(spark, str(tmp_path)).collect()}
    weeks = sorted(out)
    assert len(weeks) == 4 and weeks == list(range(weeks[0], weeks[0] + 4))
    w0, w1, w2, w3 = (out[w] for w in weeks)
    assert (w0.n_new, w0.n_retained, w0.n_resurrected, w0.n_churned) == (1, 0, 0, 0)
    assert (w1.n_new, w1.n_retained, w1.n_resurrected, w1.n_churned) == (1, 1, 0, 0)
    # week 2: nobody active; u1 (gap) and u2 (gone) both churn here
    assert (w2.n_new, w2.n_retained, w2.n_resurrected, w2.n_churned) == (0, 0, 0, 2)
    # week 3: u1 comes back; u1's post-wk3 silence is past max week → no row 4
    assert (w3.n_new, w3.n_retained, w3.n_resurrected, w3.n_churned) == (0, 0, 1, 0)


def test_merge_upsert_planted_actions(spark, tmp_path):
    from spotify_tracks_spark.operators.analytics import events_merge_upsert

    d0, d1 = datetime(2024, 6, 1, 10), datetime(2024, 6, 2, 10)
    rows = [
        # u1: snapshot only → carry
        (0, d0, 1, "view", 1.0, "{}"),
        # u2: snapshot + batch update (latest batch event wins)
        (1, d0, 2, "view", 2.0, "{}"),
        (2, d1, 2, "click", 3.0, "{}"),
        (3, d1.replace(hour=12), 2, "view", 4.0, "{}"),
        # u3: batch only → insert
        (4, d1, 3, "signup", 5.0, "{}"),
        # u4: snapshot + batch delete-marker → no row
        (5, d0, 4, "view", 6.0, "{}"),
        (6, d1, 4, "error", 7.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    got = {r.user_id: r for r in events_merge_upsert(spark, str(tmp_path)).collect()}
    assert set(got) == {1, 2, 3}  # u4 deleted
    assert (got[1].action, got[1].event_id) == ("carry", 0)
    assert (got[2].action, got[2].event_id, got[2].value) == ("update", 3, 4.0)
    assert (got[3].action, got[3].event_id) == ("insert", 4)


def test_user_trend_planted_line(spark, tmp_path):
    from spotify_tracks_spark.operators.analytics import events_user_trend

    rows = [  # u1: y = 2x + 3 exactly over days 0..3; u2: single day
        (0, datetime(2024, 7, 1, 9), 1, "view", 3.0, "{}"),
        (1, datetime(2024, 7, 2, 9), 1, "view", 5.0, "{}"),
        (2, datetime(2024, 7, 3, 9), 1, "view", 7.0, "{}"),
        (3, datetime(2024, 7, 4, 9), 1, "view", 9.0, "{}"),
        (4, datetime(2024, 7, 2, 9), 2, "view", 42.0, "{}"),
        (5, datetime(2024, 7, 2, 11), 2, "view", 41.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    got = {r.user_id: r for r in events_user_trend(spark, str(tmp_path)).collect()}
    assert abs(got[1].slope - 2.0) < 1e-12 and abs(got[1].intercept - 3.0) < 1e-12
    assert got[2].slope is None and got[2].intercept is None  # zero x-variance


def test_session_overlap_planted(spark, tmp_path):
    from spotify_tracks_spark.operators.events import events_session_overlap

    t = lambda m: datetime(2024, 8, 1, 10, m)  # noqa: E731
    rows = [
        # u1: browse session 10:00-10:10 overlaps purchase session 10:05-10:06
        (0, t(0), 1, "view", 1.0, "{}"),
        (1, t(10), 1, "click", 1.0, "{}"),
        (2, t(5), 1, "purchase", 1.0, "{}"),
        (3, t(6), 1, "purchase", 1.0, "{}"),
        # u2: browse 10:00-10:01, purchase at 10:01 exactly → touch, overlap 0
        (4, t(0), 2, "view", 1.0, "{}"),
        (5, t(1), 2, "view", 1.0, "{}"),
        (6, t(1), 2, "purchase", 1.0, "{}"),
        # u3: browse 10:00 only, purchase 10:50 (> 30 min gap-separated,
        # and intervals disjoint) → no pair
        (7, t(0), 3, "view", 1.0, "{}"),
        (8, t(50), 3, "purchase", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    got = {r.user_id: r for r in events_session_overlap(spark, str(tmp_path)).collect()}
    assert set(got) == {1, 2}
    assert got[1].overlap_us == 60_000_000  # 10:05-10:06 inside browse
    assert got[2].overlap_us == 0  # touching endpoints still join


def test_corpus_split_is_disjoint_and_exhaustive(spark):
    from spotify_tracks_spark.operators.llm_prep import SPLIT_BOUNDS, corpus_split
    from spotify_tracks_spark.sources.tables import read_table

    from .conftest import SF_SMOKE

    out = corpus_split(spark, SF_SMOKE).collect()
    n_docs = read_table(spark, SF_SMOKE, "documents").count()
    assert len(out) == n_docs  # one row per doc: disjoint + exhaustive
    names = {name for name, _, _ in SPLIT_BOUNDS}
    assert {r.split for r in out} <= names
    assert all(r.split is not None and 0 <= r.bucket < 100 for r in out)
    # ~90/5/5 by construction; allow generous hash variance on 500 docs
    frac_train = sum(r.split == "train" for r in out) / len(out)
    assert 0.8 < frac_train < 0.97


from collections import defaultdict
from datetime import timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

ACTIVITY = st.sets(
    st.tuples(st.integers(min_value=0, max_value=4),   # user
              st.integers(min_value=0, max_value=6)),  # week offset
    min_size=1, max_size=25,
)


@given(activity=ACTIVITY)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_growth_accounting_matches_bruteforce(spark, tmp_path_factory, activity):
    base = datetime(2024, 1, 1, 12)  # Monday noon: week-boundary safe
    rows = [
        (i, base + timedelta(weeks=w), u, "view", 1.0, "{}")
        for i, (u, w) in enumerate(sorted(activity))
    ]
    sf = str(tmp_path_factory.mktemp("growth"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    got = {
        r.week: (r.n_new, r.n_retained, r.n_resurrected, r.n_churned)
        for r in events_growth_accounting(spark, sf).collect()
    }
    # brute force on relative week indexes, then shift to the engine's
    # epoch-week numbering via the observed minimum
    per_user = defaultdict(set)
    for u, w in activity:
        per_user[u].add(w)
    max_w = max(w for _, w in activity)
    ledger = defaultdict(lambda: [0, 0, 0, 0])
    for u, weeks in per_user.items():
        first = min(weeks)
        for w in sorted(weeks):
            prev = max((p for p in weeks if p < w), default=None)
            if w == first:
                ledger[w][0] += 1
            elif prev == w - 1:
                ledger[w][1] += 1
            else:
                ledger[w][2] += 1
            nxt = min((n for n in weeks if n > w), default=None)
            if (nxt is None or nxt > w + 1) and w + 1 <= max_w:
                ledger[w + 1][3] += 1
    shift = min(got) - min(ledger)
    want = {w + shift: tuple(v) for w, v in ledger.items()}
    assert got == want


MERGE_EVENT = st.tuples(
    st.integers(min_value=0, max_value=3),  # user
    st.integers(min_value=0, max_value=2),  # day offset (max day = batch)
    st.sampled_from(["view", "click", "error"]),
)


@given(events=st.lists(MERGE_EVENT, min_size=1, max_size=20))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_upsert_matches_bruteforce(spark, tmp_path_factory, events):
    from spotify_tracks_spark.operators.analytics import (
        MERGE_DELETE_TYPE,
        events_merge_upsert,
    )

    base = datetime(2024, 9, 1, 6)
    rows = [
        (i, base + timedelta(days=d, minutes=i), u, t, float(i), "{}")
        for i, (u, d, t) in enumerate(events)
    ]
    sf = str(tmp_path_factory.mktemp("merge"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    got = {r.user_id: (r.event_id, r.action) for r in events_merge_upsert(spark, sf).collect()}
    # brute force
    batch_day = max(d for _, d, _ in events)
    latest_snap, latest_chg = {}, {}
    best = {}  # (user, side) -> (d, i) — ts order is (day, then minute=i)
    for i, (u, d, t) in enumerate(events):
        side = d == batch_day
        if best.get((u, side), (-1, -1)) < (d, i):
            best[(u, side)] = (d, i)
            (latest_chg if side else latest_snap)[u] = (i, t)
    want = {}
    for u in set(latest_snap) | set(latest_chg):
        if u in latest_chg:
            eid, t = latest_chg[u]
            if t == MERGE_DELETE_TYPE:
                continue
            want[u] = (eid, "update" if u in latest_snap else "insert")
        else:
            want[u] = (latest_snap[u][0], "carry")
    assert got == want


def test_retention_offsets_continuous_across_year_boundary(spark, tmp_path):
    """Round-2 ask, closed in round 4: a Dec→Jan cohort must produce
    CONSECUTIVE week offsets (0, 1) — the old year*100+weekofyear index
    jumped by ~48 at New Year.  Cohort week: Mon 2024-12-23; activity the
    following week (Mon 2024-12-30 .. Sun 2025-01-05) is offset 1."""
    from datetime import datetime

    from spotify_tracks_spark.operators.analytics import events_retention

    rows = [
        # user 1: active Dec-29 (cohort week) and Jan-3 (next week)
        (0, datetime(2024, 12, 29, 10), 1, "view", 1.0, "{}"),
        (1, datetime(2025, 1, 3, 10), 1, "view", 1.0, "{}"),
        # user 2: cohort only (Dec-23)
        (2, datetime(2024, 12, 23, 10), 2, "view", 1.0, "{}"),
        # user 3: joins in the new year (its own cohort, offset 0)
        (3, datetime(2025, 1, 2, 10), 3, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")

    got = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in events_retention(spark, str(tmp_path)).collect()
    }
    # Mon 2024-12-23 is epoch-week 2868 (weeks since Mon 1970-01-05);
    # Mon 2024-12-30 / Jan-3 2025 fall in epoch-week 2869
    dec_cohort = (datetime(2024, 12, 23) - datetime(1970, 1, 5)).days // 7
    assert got == {
        (dec_cohort, 0): 2,      # users 1 and 2 in the Dec cohort week
        (dec_cohort, 1): 1,      # user 1 retained across New Year: offset 1
        (dec_cohort + 1, 0): 1,  # user 3's own Jan cohort
    }
