"""Semantics tests for the time-series operators (operators/timeseries.py)
on planted fixtures — year-boundary rolling windows, hand-computed
z-scores, and interior-gap interpolation that the corpus oracle parity
(test_extra_parity.py) exercises only on one-month single-year data.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from spotify_tracks_spark.operators.timeseries import (
    events_anomaly,
    events_interpolate,
    events_rolling_7d,
)


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, ts, user_id, event_type, value)."""
    df = spark.createDataFrame(
        [(i, ts, u, t, v, "{}") for i, ts, u, t, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    return str(tmp_path)


def test_rolling_7d_spans_year_boundary_and_resets_after_gap(spark, tmp_path):
    d = datetime
    rows = [
        # two days in late Dec 2024, one in early Jan 2025: the Jan 2
        # trailing-7d frame [Dec 27 .. Jan 2] must count all three days
        (0, d(2024, 12, 28, 10), 1, "view", 1.0),
        (1, d(2024, 12, 29, 10), 1, "view", 1.0),
        (2, d(2024, 12, 29, 11), 2, "view", 1.0),
        (3, d(2025, 1, 2, 10), 3, "view", 1.0),
        # then a >7-day silence: Jan 15's frame [Jan 9 .. 15] sees only itself
        (4, d(2025, 1, 15, 10), 1, "view", 1.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        str(r.day): r for r in events_rolling_7d(spark, sf).collect()
    }
    jan2 = got["2025-01-02"]
    assert jan2.n_events == 1
    assert jan2.n_events_7d == 4  # RANGE frame crosses the year boundary
    assert jan2.n_users_7d == 3  # users 1,2,3; user 1's two events count once
    jan15 = got["2025-01-15"]
    assert (jan15.n_events_7d, jan15.n_users_7d) == (1, 1)  # gap reset
    dec29 = got["2024-12-29"]
    assert (dec29.n_events_7d, dec29.n_users_7d) == (3, 2)


def test_anomaly_z_is_integer_exact_and_zero_variance_is_null(spark, tmp_path):
    d = datetime
    rows = []
    eid = 0
    # 'view': ten 1-event days then one 30-event day
    for day in range(1, 11):
        rows.append((eid, d(2024, 3, day, 12), 1, "view", 1.0))
        eid += 1
    for k in range(30):
        rows.append((eid, d(2024, 3, 11, 1 + (k % 20)), 1, "view", 1.0))
        eid += 1
    # 'click': constant series — variance 0, z must be NULL, never ±inf
    for day in range(1, 4):
        rows.append((eid, d(2024, 3, day, 12), 2, "click", 1.0))
        eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = events_anomaly(spark, sf).collect()
    view = {str(r.day): r for r in out if r.event_type == "view"}
    spike = view["2024-03-11"]
    mean = 40 / 11  # exact integer inputs: Σn=40 over 11 days
    var = (10 + 900) / 11 - mean * mean
    assert abs(spike.mean_n - mean) < 1e-12
    assert abs(spike.z - (30 - mean) / var**0.5) < 1e-12
    assert spike.is_anomaly
    assert all(not r.is_anomaly for day, r in view.items() if day != "2024-03-11")
    for r in (r for r in out if r.event_type == "click"):
        assert r.z is None and not r.is_anomaly


def test_interpolate_fills_interior_gap_linearly(spark, tmp_path):
    d = datetime
    rows = [
        # day 1 mean = (2+4)/2 = 3.0; day 5 observed 11.0; days 2-4 missing
        (0, d(2024, 5, 1, 9), 1, "view", 2.0),
        (1, d(2024, 5, 1, 10), 1, "view", 4.0),
        (2, d(2024, 5, 5, 9), 1, "view", 11.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {str(r.day): r for r in events_interpolate(spark, sf).collect()}
    assert len(got) == 5  # dense spine over [May 1, May 5]
    expect = {"2024-05-01": (True, 3.0), "2024-05-02": (False, 5.0),
              "2024-05-03": (False, 7.0), "2024-05-04": (False, 9.0),
              "2024-05-05": (True, 11.0)}
    for day, (observed, v) in expect.items():
        assert got[day].observed is observed, day
        assert abs(got[day].value_interp - v) < 1e-12, day


from collections import defaultdict
from datetime import date, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

EVENT = st.tuples(
    st.integers(min_value=0, max_value=20),  # day offset
    st.integers(min_value=0, max_value=4),   # user
    st.sampled_from(["view", "click"]),
)


@given(events=st.lists(EVENT, min_size=1, max_size=60))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rolling_7d_matches_bruteforce(spark, tmp_path_factory, events):
    base = date(2024, 3, 1)
    rows = [
        (i, datetime(2024, 3, 1 + 0, 12) + timedelta(days=off), u, t, 1.0, "{}")
        for i, (off, u, t) in enumerate(events)
    ]
    sf = str(tmp_path_factory.mktemp("roll"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    got = {
        (r.event_type, str(r.day)): (r.n_events, r.n_events_7d, r.n_users_7d)
        for r in events_rolling_7d(spark, sf).collect()
    }
    # brute force: for every observed (type, day), walk the trailing window
    per_day = defaultdict(list)
    for off, u, t in events:
        per_day[(t, base + timedelta(days=off))].append(u)
    want = {}
    for (t, d), users in per_day.items():
        win = [
            u
            for (t2, d2), us in per_day.items()
            if t2 == t and 0 <= (d - d2).days <= 6
            for u in us
        ]
        want[(t, str(d))] = (len(users), len(win), len(set(win)))
    assert got == want


def test_ewma_daily_gap_decay_planted(spark, tmp_path):
    """Dyadic EWMA hand-check with a calendar gap: days 1/2/4 carry
    counts 4/2/8 (day 3 missing).  At day 4 the weights are the DAY-GAP
    powers 2⁰, 2⁻², 2⁻³ — the missing day decays history by position in
    the calendar, not by row: ewma = (8 + 2/4 + 4/8)/(1 + 1/4 + 1/8)."""
    from datetime import datetime as d

    from spotify_tracks_spark.operators.timeseries import events_ewma_daily

    rows = []
    eid = 0
    for day, n in ((1, 4), (2, 2), (4, 8)):
        for _ in range(n):
            rows.append((eid, d(2024, 3, day, 12), 1, "view", 1.0))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = {r.day.day: r for r in events_ewma_daily(spark, sf).collect()}
    assert got[1].n_events == 4 and got[1].ewma == 4.0
    # day 2: (2 + 4/2) / (1 + 1/2)
    assert got[2].ewma == (2 + 2.0) / 1.5
    # day 4: gap-aware — weights 1, 1/4, 1/8 (day 3 absent)
    assert got[4].n_events == 8
    assert got[4].ewma == (8 + 0.5 + 0.5) / 1.375


def test_attribution_linear_planted(spark, tmp_path):
    """Two purchases: one splits across 2 in-window touches (0.5 each),
    one has a single touch (full credit).  Boundary pins: a touch AT the
    purchase instant counts (inclusive upper); a touch exactly
    window_days before does NOT (strict lower); purchases with no touch
    assign nothing."""
    from datetime import datetime as d, timedelta

    from spotify_tracks_spark.operators.events import events_attribution_linear

    T = d(2024, 3, 10, 12, 0, 0)
    rows = [
        (0, T, 1, "purchase", 1.0),
        (1, T - timedelta(hours=1), 1, "click", 1.0),    # in window
        (2, T, 1, "view", 1.0),                           # at the instant
        (3, T - timedelta(days=7), 1, "signup", 1.0),     # exactly -7d: out
        (4, T, 2, "purchase", 1.0),
        (5, T - timedelta(days=6, hours=23), 2, "click", 1.0),  # sole touch
        (6, T, 3, "purchase", 1.0),                       # no touches
        (7, T + timedelta(hours=1), 3, "view", 1.0),      # after: out
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: (r.n_touches, r.attributed_purchases)
        for r in events_attribution_linear(spark, sf).collect()
    }
    assert got == {"click": (2, 0.5 + 1.0), "view": (1, 0.5)}


def test_attribution_time_decay_planted(spark, tmp_path):
    """One purchase with touches at ages 0, 1 and 2 days: dyadic weights
    1, 1/2, 1/4 → credits 4/7, 2/7, 1/7 EXACTLY (every weight a power
    of two, the weight sum exact, one division per touch).  A second
    purchase with a sole age-5 touch gets full credit regardless of its
    tiny weight.  Same window boundary semantics as the linear twin."""
    from datetime import datetime as d, timedelta

    from spotify_tracks_spark.operators.events import (
        events_attribution_time_decay,
    )

    T = d(2024, 3, 10, 12, 0, 0)
    rows = [
        (0, T, 1, "purchase", 1.0),
        (1, T, 1, "view", 1.0),                        # age 0 -> weight 1
        (2, T - timedelta(days=1), 1, "click", 1.0),   # age 1 -> 1/2
        (3, T - timedelta(days=2), 1, "signup", 1.0),  # age 2 -> 1/4
        (4, T, 2, "purchase", 1.0),
        (5, T - timedelta(days=5), 2, "click", 1.0),   # sole touch
        (6, T - timedelta(days=7), 1, "click", 1.0),   # exactly -7d: out
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: (r.n_touches, r.attributed_purchases)
        for r in events_attribution_time_decay(spark, sf).collect()
    }
    assert got["view"] == (1, 4 / 7)
    assert got["signup"] == (1, 1 / 7)
    assert got["click"][0] == 2
    assert abs(got["click"][1] - (2 / 7 + 1.0)) < 1e-12
    # credits close: every attributed purchase hands out exactly one unit
    assert abs(sum(v for _, v in got.values()) - 2.0) < 1e-12


def test_weekday_profile_iso_numbering(spark, tmp_path):
    """2024-03-04 was a Monday: its events must land on iso_weekday 1,
    Sunday 2024-03-10 on 7; shares sum to 1 per type."""
    from datetime import datetime as d

    from spotify_tracks_spark.operators.timeseries import events_weekday_profile

    rows = [
        (0, d(2024, 3, 4, 9), 1, "view", 1.0),    # Monday
        (1, d(2024, 3, 4, 10), 2, "view", 1.0),
        (2, d(2024, 3, 11, 9), 1, "view", 1.0),   # next Monday
        (3, d(2024, 3, 10, 9), 1, "view", 1.0),   # Sunday
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.iso_weekday: r for r in events_weekday_profile(spark, sf).collect()
    }
    assert set(got) == {1, 7}
    assert (got[1].n_days, got[1].total_events, got[1].avg_daily) == (2, 3, 1.5)
    assert (got[7].n_days, got[7].total_events) == (1, 1)
    assert got[1].share == 0.75 and got[7].share == 0.25


def test_ab_test_null_calibration(spark):
    """A hash split of one population is an A/A test: the true lift is
    zero, so |z| must sit inside +-3 and both arms' rates must be in
    (0, 1) (a degenerate all-convert metric would zero the variance
    and hide a miswired pipeline)."""
    from spotify_tracks_spark.operators.analytics import events_ab_test
    from tests.conftest import SF_T2

    r = events_ab_test(spark, SF_T2).collect()[0]
    assert r.n_a > 0 and r.n_b > 0
    assert 0.0 < r.rate_a < 1.0 and 0.0 < r.rate_b < 1.0
    assert abs(r.z_score) < 3.0, r.z_score
    assert r.conv_a + r.conv_b < r.n_a + r.n_b


def test_cuped_moment_invariants(spark):
    """Exact-moment identities: centered sums obey Cauchy-Schwarz
    (sxy_c^2 <= sxx_c * syy_c, so rho2 in [0, 1]) and theta's sign
    matches the covariance's."""
    from spotify_tracks_spark.operators.analytics import events_cuped
    from tests.conftest import SF_T2

    r = events_cuped(spark, SF_T2).collect()[0]
    assert r.sxx_c >= 0 and r.syy_c >= 0
    assert r.sxy_c * r.sxy_c <= r.sxx_c * r.syy_c
    assert 0.0 <= r.rho2 <= 1.0
    assert (r.theta >= 0) == (r.sxy_c >= 0)


def test_holt_planted_trajectory(spark, tmp_path):
    """Hand-computed dyadic fold on a 4-day series [8, 4, 6, 10]:
    init (8, 0); then
    d2: l=.5*4+.5*8=6,      t=.25*(6-8)+.75*0=-0.5
    d3: l=.5*6+.5*5.5=5.75, t=.25*(-.25)+.75*(-.5)=-0.4375
    d4: l=.5*10+.5*5.3125=7.65625,
        t=.25*1.90625+.75*(-0.4375)=0.1484375"""
    from datetime import datetime

    from spotify_tracks_spark.operators.timeseries import events_holt_daily

    rows = []
    eid = 0
    for day, n in [(1, 8), (2, 4), (3, 6), (4, 10)]:
        for _ in range(n):
            eid += 1
            rows.append((eid, datetime(2024, 3, day, 12), 1, "view", 0.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")

    r = events_holt_daily(spark, str(tmp_path)).collect()[0]
    assert r.n_days == 4
    assert r.level == 7.65625
    assert r.trend == 0.1484375
    assert r.forecast_next == 7.8046875


def test_theil_sen_planted_outlier_robustness(spark, tmp_path):
    """Series [10, 12, 14, 100, 18]: OLS is dragged by the day-4 spike;
    the pairwise-slope median stays at 2 (the true trend). Lower
    median over 10 pairs = 5th ranked slope."""
    from datetime import datetime

    from spotify_tracks_spark.operators.timeseries import events_theil_sen

    rows = []
    eid = 0
    for day, n in [(1, 10), (2, 12), (3, 14), (4, 100), (5, 18)]:
        for _ in range(n):
            eid += 1
            rows.append((eid, datetime(2024, 3, day, 12), 1, "view", 0.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")

    r = events_theil_sen(spark, str(tmp_path)).collect()[0]
    assert r.n_pairs == 10
    assert r.theil_slope == 2.0, (r.med_num, r.med_den)


def test_theil_sen_sampled_pins_to_exact_at_mod_one(spark):
    """The subsampled variant at sample_mod=1 keeps every pair through
    the SAME hash-filter code path, so it must be bit-identical to the
    exact estimator; and at the registered mod it must still rank over
    a nonempty sample per type (the estimator never goes vacuous)."""
    from spotify_tracks_spark.operators.timeseries import (
        THEIL_SAMPLE_MOD,
        events_theil_sen,
        events_theil_sen_sampled,
    )
    from tests.conftest import SF_SMOKE

    sf = SF_SMOKE
    exact = {r.event_type: r for r in events_theil_sen(spark, sf).collect()}
    pinned = {
        r.event_type: r
        for r in events_theil_sen_sampled(spark, sf, sample_mod=1).collect()
    }
    assert set(exact) == set(pinned)
    for t, r in exact.items():
        p = pinned[t]
        assert (p.n_pairs, p.med_num, p.med_den, p.theil_slope) == (
            r.n_pairs,
            r.med_num,
            r.med_den,
            r.theil_slope,
        ), t

    sampled = events_theil_sen_sampled(spark, sf).collect()
    assert {r.event_type for r in sampled} == set(exact)
    for r in sampled:
        assert 0 < r.n_pairs < exact[r.event_type].n_pairs, (
            f"{r.event_type}: mod={THEIL_SAMPLE_MOD} sample should be a "
            "strict nonempty subset of the pair set at this SF"
        )


def test_mann_whitney_null_calibration(spark):
    """A/A property for the rank-sum twin: U centered near mu, |z|<3,
    and the U identity U_A + U_B = n_A*n_B holds exactly (U_B follows
    from total rank sum n(n+1)/2)."""
    from spotify_tracks_spark.operators.analytics import events_mann_whitney
    from tests.conftest import SF_T2

    r = events_mann_whitney(spark, SF_T2).collect()[0]
    n = r.n_a + r.n_b
    total_ranks = n * (n + 1) / 2.0
    r_b = total_ranks - (r.u_a + r.n_a * (r.n_a + 1) / 2.0)
    u_b = r_b - r.n_b * (r.n_b + 1) / 2.0
    assert r.u_a + u_b == r.n_a * r.n_b
    assert abs(r.z_score) < 3.0, r.z_score


def test_welch_ttest_null_calibration_and_invariants(spark):
    """A/A property for the mean-comparison member of the test family:
    |t| < 3 on the null hash split, variances nonnegative, and the
    Welch-Satterthwaite df lands in its provable range
    [min(n_a, n_b) - 1, n_a + n_b - 2]."""
    from spotify_tracks_spark.operators.analytics import events_welch_ttest
    from tests.conftest import SF_T2

    r = events_welch_ttest(spark, SF_T2).collect()[0]
    assert r.n_a > 1 and r.n_b > 1
    assert r.var_a >= 0 and r.var_b >= 0
    assert abs(r.t_stat) < 3.0, r.t_stat
    lo, hi = min(r.n_a, r.n_b) - 1, r.n_a + r.n_b - 2
    assert lo - 1e-9 <= r.df <= hi + 1e-9, (r.df, lo, hi)


def test_cuped_ab_test_calibration_and_variance_reduction(spark):
    """A/A calibration for the variance-reduced readout (|z'| < 3), plus
    the CUPED guarantee itself: the adjusted per-arm variance never
    exceeds the raw outcome variance (var' = var·(1−ρ²) ≤ var), checked
    against events_welch_ttest's raw moments on the same split."""
    from spotify_tracks_spark.operators.analytics import (
        events_cuped_ab_test,
        events_welch_ttest,
    )
    from tests.conftest import SF_T2

    adj = events_cuped_ab_test(spark, SF_T2).collect()[0]
    raw = events_welch_ttest(spark, SF_T2).collect()[0]
    assert (adj.n_a, adj.n_b) == (raw.n_a, raw.n_b)
    assert abs(adj.z_adj) < 3.0, adj.z_adj
    # CUPED can only remove variance (up to FP slack on the last ulp)
    assert adj.var_adj_a <= raw.var_a * (1 + 1e-12), (adj.var_adj_a, raw.var_a)
    assert adj.var_adj_b <= raw.var_b * (1 + 1e-12), (adj.var_adj_b, raw.var_b)


def test_bootstrap_ci_brackets_the_observed_mean(spark):
    """Poisson-bootstrap sanity: replica means are centered on the
    observed mean, so the percentile CI must bracket it (and its own
    median), with strictly positive width on non-degenerate data."""
    from spotify_tracks_spark.operators.analytics import events_bootstrap_ci
    from tests.conftest import SF_T2

    r = events_bootstrap_ci(spark, SF_T2).collect()[0]
    assert r.n_users > 0 and r.n_replicas == 40
    assert r.ci_lo <= r.boot_median <= r.ci_hi
    assert r.ci_lo <= r.mean_obs <= r.ci_hi, (r.ci_lo, r.mean_obs, r.ci_hi)
    assert r.ci_hi > r.ci_lo


def test_srm_check_passes_on_healthy_split_and_fires_when_planted(spark, tmp_path):
    """The health gate must stay quiet on the healthy hash split and
    ALARM on a planted broken randomization (9:1 assignment): a health
    check that can't fire is vacuous."""
    from datetime import datetime

    from spotify_tracks_spark.operators.analytics import events_srm_check
    from tests.conftest import SF_T2

    healthy = events_srm_check(spark, SF_T2).collect()[0]
    assert healthy.n_a + healthy.n_b == healthy.n_users
    assert not healthy.srm_detected, (healthy.chi2_stat, healthy.n_a, healthy.n_b)

    # plant a 9:1 split: user ids chosen so the portable hash lands
    # ~half/half, then 90% of users collapsed onto arm-A ids — simulate
    # by synthesizing many more users on one hash side via rejection
    from spotify_tracks_spark.functions.hashing import portable_hash60
    from pyspark.sql import functions as F

    ids = spark.range(0, 4000).select(F.col("id").alias("user_id"))
    arm = (portable_hash60(F.col("user_id")) % 2 == 0)
    skewed = ids.filter(arm).union(ids.filter(~arm).limit(120))
    rows = skewed.select(
        F.col("user_id").alias("event_id"),
        F.lit(datetime(2024, 3, 1, 12)).alias("ts"),
        "user_id",
        F.lit("view").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    rows.coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    planted = events_srm_check(spark, str(tmp_path)).collect()[0]
    assert planted.srm_detected, (planted.chi2_stat, planted.n_a, planted.n_b)


def test_bootstrap_ab_brackets_the_observed_diff(spark):
    """Treatment-effect bootstrap sanity: the CI brackets the observed
    arm difference (replica diffs are centered on it) and, on the A/A
    hash split, also straddles zero — the no-effect reading."""
    from spotify_tracks_spark.operators.analytics import events_bootstrap_ab
    from tests.conftest import SF_T2

    r = events_bootstrap_ab(spark, SF_T2).collect()[0]
    assert r.n_users > 0 and r.n_replicas == 40
    assert r.ci_lo <= r.boot_median <= r.ci_hi
    assert r.ci_lo <= r.diff_obs <= r.ci_hi, (r.ci_lo, r.diff_obs, r.ci_hi)
    assert r.ci_lo <= 0.0 <= r.ci_hi, "A/A effect CI should straddle zero"


def test_gini_planted_extremes(spark, tmp_path):
    """Perfect equality scores 0; with counts [1, 1, 18] over three
    users G = (2*58 - 4*20) / (3*20) = 0.6 by the exact formula."""
    from datetime import datetime

    from spotify_tracks_spark.operators.analytics import events_gini

    t = datetime(2024, 3, 1, 12)
    rows = []
    eid = 0
    for uid, n in [(1, 1), (2, 1), (3, 18)]:
        for _ in range(n):
            eid += 1
            rows.append((eid, t, uid, "view", 0.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    r = events_gini(spark, str(tmp_path)).collect()[0]
    # i*x: 1*1 + 2*1 + 3*18 = 57 -> (2*57 - 4*20)/(3*20) = 34/60
    assert r.gini == 34 / 60


def test_ks_test_null_calibration(spark):
    """A/A property for the distribution test: the scaled KS statistic
    stays below the alpha=0.05 critical value 1.358, and the exact
    fraction reproduces the double (d_num/d_den == ks_d)."""
    from spotify_tracks_spark.operators.analytics import events_ks_test
    from tests.conftest import SF_T2

    r = events_ks_test(spark, SF_T2).collect()[0]
    assert 0 <= r.ks_d <= 1
    assert r.ks_d == r.d_num / r.d_den
    assert r.ks_scaled < 1.358, r.ks_scaled


def test_kaplan_meier_planted(spark, tmp_path):
    """Textbook KM hand-check with censoring: durations
    event@2 (n=4 -> S=3/4), censored@3, event@5 (n=2 -> S=3/8),
    censored-at-window-end user never drops S to 0."""
    from datetime import datetime

    from spotify_tracks_spark.operators.timeseries import events_kaplan_meier

    def p(uid, day):
        return (uid * 100 + day, datetime(2024, 3, day, 12), uid,
                "purchase", 1.0, "{}")

    rows = [
        # window end anchor: a view on day 10 fixes end_day
        (9999, datetime(2024, 3, 10, 12), 99, "view", 0.0, "{}"),
        p(1, 1), p(1, 3),    # event at t=2
        p(2, 1),             # censored at t=9 (end 10 - t1 1)
        p(3, 2), p(3, 7),    # event at t=5
        p(4, 7),             # censored at t=3
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")

    got = {
        r.t_days: (r.n_risk, r.n_events, round(r.km_survival, 9))
        for r in events_kaplan_meier(spark, str(tmp_path)).collect()
    }
    assert got == {2: (4, 1, 0.75), 5: (2, 1, 0.375)}


def test_log_rank_null_calibration(spark):
    """A/A property for the censored-time test: O close to E (|z|<3)
    and the variance positive with both arms populated."""
    from spotify_tracks_spark.operators.timeseries import events_log_rank
    from tests.conftest import SF_T2

    r = events_log_rank(spark, SF_T2).collect()[0]
    assert r.n_a > 0 and r.n_b > 0 and r.v > 0
    assert abs(r.z_score) < 3.0, r.z_score


def test_cusum_changepoint_finds_planted_level_shift(spark, tmp_path):
    """10 quiet days (1 event/day) then 10 loud days (5 events/day): the
    integer-exact CUSUM statistic must peak at the last pre-shift day
    (the tent function's apex for a level shift)."""
    from datetime import datetime, timedelta

    from spotify_tracks_spark.operators.timeseries import (
        events_cusum_changepoint,
    )

    rows, eid = [], 0
    base = datetime(2024, 3, 1, 12, 0, 0)
    for d in range(20):
        for k in range(1 if d < 10 else 5):
            rows.append((eid, base + timedelta(days=d), 1, "click", 1.0))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = events_cusum_changepoint(spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_days == 20
    # |S_i| = |D*C_i - i*T| peaks at i=10 (day index 9): the shift edge
    assert str(r.change_day) == "2024-03-10"
    # S_10 = 20*10 - 10*60 = -400 -> stat = 400/400 = 1.0 exactly
    assert r.cusum_stat == 1.0


def test_autocorrelation_periodic_and_constant_series(spark, tmp_path):
    """A period-2 alternating series has ACF(-1 at lag 1, +1 at lag 2);
    a constant series has zero variance -> NULL acf at every lag."""
    from datetime import datetime, timedelta

    from spotify_tracks_spark.operators.timeseries import (
        events_autocorrelation,
    )

    rows, eid = [], 0
    base = datetime(2024, 3, 1, 12, 0, 0)
    for d in range(14):
        # 'click' alternates 1,3,1,3,...; 'view' constant 2/day
        for k in range(1 if d % 2 == 0 else 3):
            rows.append((eid, base + timedelta(days=d), 1, "click", 1.0))
            eid += 1
        for k in range(2):
            rows.append((eid, base + timedelta(days=d), 1, "view", 1.0))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = {
        (r.event_type, r.lag): (r.n_terms, r.acf)
        for r in events_autocorrelation(spark, sf).collect()
    }
    assert got[("click", 1)][0] == 13
    # centered series is +-1 scaled by D: lag-1 products all negative
    assert got[("click", 1)][1] == pytest.approx(-13 / 14)
    assert got[("click", 2)][1] == pytest.approx(12 / 14)
    for k in range(1, 8):
        assert got[("view", k)][1] is None  # constant -> den = 0 -> NULL


def test_spearman_is_monotone_invariant_and_matches_signs(spark, tmp_path):
    """Spearman rho = 1 for any strictly increasing pair of series
    (here y = x^2-ish via repeated counts), -1 for reversed ranks."""
    from datetime import datetime, timedelta

    from spotify_tracks_spark.operators.timeseries import (
        events_spearman_corr,
    )

    rows, eid = [], 0
    base = datetime(2024, 3, 1, 12, 0, 0)
    up = [1, 2, 4, 8, 16]       # strictly increasing
    down = [9, 7, 5, 3, 1]      # strictly decreasing
    for d in range(5):
        for k in range(up[d]):
            rows.append((eid, base + timedelta(days=d), 1, "click", 1.0))
            eid += 1
        for k in range(up[d] * up[d]):  # monotone transform of up
            rows.append((eid, base + timedelta(days=d), 1, "purchase", 1.0))
            eid += 1
        for k in range(down[d]):
            rows.append((eid, base + timedelta(days=d), 1, "view", 1.0))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = {
        (r.type_a, r.type_b): r.rho
        for r in events_spearman_corr(spark, sf).collect()
    }
    assert got[("click", "purchase")] == pytest.approx(1.0)
    assert got[("click", "view")] == pytest.approx(-1.0)
    assert got[("purchase", "view")] == pytest.approx(-1.0)


def test_did_null_calibration(spark):
    """On the A/A hash split (no real treatment) the DiD z-statistic
    must sit inside +-1.96; structure checks pin the paired-diff
    moment identities (effect = mean_a - mean_b, se > 0)."""
    from spotify_tracks_spark.operators.analytics import events_did

    from .conftest import SF_SMOKE

    r = events_did(spark, SF_SMOKE).collect()[0]
    assert r.n_a > 0 and r.n_b > 0
    assert abs(r.z_stat) < 1.96, "A/A DiD fired — split or math broken"
    assert r.did_effect == pytest.approx(r.mean_diff_a - r.mean_diff_b)
    assert r.se > 0


def test_power_mde_scales_inverse_sqrt_n(spark):
    """MDE(n) ~ 1/sqrt(n_arm): each horizon's MDE must equal the base
    MDE scaled by sqrt(n_arm_base / n_arm_h), and mde_rel must be
    mde_abs / mean."""
    import math

    from spotify_tracks_spark.operators.analytics import events_power_mde

    from .conftest import SF_SMOKE

    rows = {r.horizon_x: r for r in events_power_mde(spark, SF_SMOKE).collect()}
    assert set(rows) == {1, 2, 4, 8}
    base = rows[1]
    assert base.mde_abs > 0 and base.var_outcome > 0
    for h in (2, 4, 8):
        want = base.mde_abs * math.sqrt(base.n_arm / rows[h].n_arm)
        assert rows[h].mde_abs == pytest.approx(want, rel=1e-12)
        assert rows[h].mde_rel == pytest.approx(
            rows[h].mde_abs / rows[h].mean_outcome
        )


def test_sequential_ab_boundary_and_monotonicity(spark):
    """Sequential monitor invariants on the fixture: cumulative
    converter counts are monotone, the OBF-shape boundary is strictly
    decreasing and lands exactly on z_alpha at the final look, and the
    crosses flag is consistent with |z| vs bound on every row."""
    from spotify_tracks_spark.operators.analytics import (
        SEQ_Z_ALPHA,
        events_sequential_ab,
    )

    from .conftest import SF_SMOKE

    rows = sorted(
        events_sequential_ab(spark, SF_SMOKE).collect(),
        key=lambda r: r.day_idx,
    )
    assert rows and rows[0].day_idx == 1
    assert rows[-1].day_idx == rows[-1].n_days
    for prev, cur in zip(rows, rows[1:]):
        assert cur.conv_a >= prev.conv_a and cur.conv_b >= prev.conv_b
        assert cur.obf_bound < prev.obf_bound
    assert rows[-1].obf_bound == pytest.approx(SEQ_Z_ALPHA)
    for r in rows:
        assert r.crosses == (abs(r.z_stat) > r.obf_bound)
    # A/A split: the final fixed-horizon look must not fire
    assert not rows[-1].crosses


def test_robust_mean_ignores_planted_outlier(spark, tmp_path):
    """21 values 1..21 plus one 1e9 corruption: the raw mean explodes,
    the 5%-trimmed mean (k=1 each side) and the winsorized mean must
    stay at hand-computed small values."""
    from datetime import datetime as d

    from spotify_tracks_spark.operators.events import events_robust_mean

    vals = [float(v) for v in range(1, 22)] + [1e9]
    rows = [
        (i, d(2024, 3, 1 + i % 20, 12), 1, "view", v)
        for i, v in enumerate(vals)
    ]
    sf = _write_events(spark, tmp_path, rows)
    r = events_robust_mean(spark, sf).collect()[0]
    # n=22, k = floor(22*5/100) = 1: drop min (1.0) and max (1e9)
    assert (r.n, r.n_trimmed) == (22, 20)
    kept = sorted(vals)[1:-1]
    assert r.trimmed_mean == pytest.approx(sum(kept) / 20)
    # winsorize: clamp 1.0 -> 2.0 and 1e9 -> 21.0
    assert r.winsorized_mean == pytest.approx((sum(kept) + 2.0 + 21.0) / 22)


def test_retention_curve_fit_recovers_planted_half_life(spark, tmp_path):
    """One cohort whose active set halves every week: rates (1/2, 1/4,
    1/8) are exactly log-linear, so the OLS slope is ln(1/2) and the
    half-life exactly 1.0 weeks."""
    from datetime import datetime, timedelta

    from spotify_tracks_spark.operators.analytics import (
        events_retention_curve_fit,
    )

    base = datetime(2024, 3, 4, 12)  # a Monday: week boundaries align
    rows, eid = [], 0
    for u in range(16):
        rows.append((eid, base, u, "view", 1.0)); eid += 1
    for wk, alive in ((1, 8), (2, 4), (3, 2)):
        for u in range(alive):
            rows.append((eid, base + timedelta(weeks=wk), u, "view", 1.0))
            eid += 1
    # one later observation so offset-3 cohorts stay observable
    sf = _write_events(spark, tmp_path, rows)
    r = events_retention_curve_fit(spark, sf).collect()[0]
    assert r.n_points == 3
    import math

    assert r.slope == pytest.approx(math.log(0.5), rel=1e-12)
    assert r.half_life_weeks == pytest.approx(1.0, rel=1e-12)


def test_seasonal_decompose_planted(spark, tmp_path):
    """Planted series: a constant-7 daily count for 14 consecutive days
    decomposes to trend=7, seasonal=0, residual=0 everywhere (the mean
    of any centered window of a constant is the constant, so the
    detrended series is identically zero).  A second type with a single
    +6 spike on day 8 must put the spike's weekday seasonal above the
    others and reconstruct n = trend + seasonal + residual exactly."""
    from datetime import datetime

    from spotify_tracks_spark.operators.timeseries import (
        events_seasonal_decompose,
    )

    rows = []
    for d in range(1, 15):
        for i in range(7):
            rows.append((1000 + i, "flat", datetime(2024, 3, d, 10, 0, 0), 1.0))
    for d in range(1, 15):
        n = 8 if d == 8 else 2
        for i in range(n):
            rows.append((2000 + i, "spiky", datetime(2024, 3, d, 10, 0, 0), 1.0))
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, value double"
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")

    out = events_seasonal_decompose(spark, str(tmp_path)).collect()
    flat = [r for r in out if r.event_type == "flat"]
    assert len(flat) == 14
    for r in flat:
        assert r.trend == 7.0 and r.seasonal == 0.0 and r.residual == 0.0
    spiky = {r.day.day: r for r in out if r.event_type == "spiky"}
    assert len(spiky) == 14
    # reconstruction is exact up to float associativity
    for r in spiky.values():
        assert abs(r.n_events - (r.trend + r.seasonal + r.residual)) < 1e-9
    # day 8 (2024-03-08, a Friday) carries the only positive seasonal cell
    fri = spiky[8].seasonal
    assert fri > 0
    assert all(spiky[d].seasonal < fri for d in spiky if d not in (1, 8))
