"""General analytics operators over ``events`` — the query shapes the
reference's SQL surface omits (SURVEY.md §2.10 marks them absent) but any
user of an analytics engine reaches for on day one: top-k per group,
pivot, and deterministic sampling.

Scale notes per operator are inline; all three are single-shuffle-or-less
plans with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.hashing import portable_hash60
from ..sources.tables import read_table

TOPK_PER_USER = 3
# explicit pivot values: skips the extra distinct-scan job Spark otherwise
# runs, and pins the output schema (a new event type must be a schema
# change, not a silent new column)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SAMPLE_PCT = 10


def events_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TOPK_PER_USER`` events by value per user.

    ``row_number`` over (value desc, event_id asc) — the tie-break on the
    unique event_id makes the ranking a total order, so the result is
    deterministic and oracle-checkable.  One shuffle on user_id; the rank
    filter is applied before any further join, so at scale this is the
    standard "top-k per key" pattern: shuffle once, sort within key groups,
    emit k rows per key (Spark pushes the rn<=k filter into the window via
    WindowGroupLimit — no full materialization of ranked rows).
    """
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK_PER_USER)
        .select("user_id", "event_id", "value", "rnk")
    )


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: per event_type, one row for EVERY day
    between that type's first and last event — observed days carry their
    count, missing days an explicit 0 (time-series models need the zeros;
    a groupBy only yields observed days).

    The day spine is generated from per-type (min, max) bounds via
    ``sequence``+``explode`` — a projection over the TINY per-(type, day)
    aggregate, never over the event log.  The log shuffles ONCE (into
    ``counts``); ``bounds`` folds counts again (a |types|×|days|-row
    aggregate, ReuseExchange shares the first shuffle), and the outer join
    broadcasts ``counts`` — the build side of a left-outer BHJ must be the
    non-preserved (right) side, so the hint goes on counts, not the spine;
    both are |types|×|days| rows, so either fits in a broadcast.  At
    100 TB gap filling costs one fact shuffle plus small-side work."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    counts = ev.groupBy("event_type", "day").agg(F.count("*").alias("n"))
    bounds = counts.groupBy("event_type").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"),
    )
    return (
        spine.join(F.broadcast(counts), ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


def events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins compaction: one row per user keeping that user's most
    recent event — the CDC/upsert-log compaction every mutable-table
    ingest needs (the keep-FIRST mirror of the ingest dedup).

    ``row_number`` over (ts desc, event_id desc) — the unique event_id
    tie-break makes it a total order; WindowGroupLimit prunes to one row
    per key during the sort, so the shuffle is the only full-data cost.
    At scale this is the compaction step of a MERGE-on-read table."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, counted
    distinct in each subsequent week — the engagement matrix every
    product-analytics stack computes.

    Two aggregates over one scan shape: per-user first week (one shuffle
    on user_id), broadcast back onto the per-(user, week) activity set
    (distinct shuffles once), then the tiny (cohort × offset) count.  The
    broadcast side is |users| rows of two ints; at 100 TB cohort-mapping
    a fact row costs a hash probe, not a second fact shuffle.

    Output: (cohort_week, week_offset, n_users) — users from cohort W
    active in week W+offset."""
    # dense epoch-week index: whole weeks since Monday 1970-01-05 — a
    # monotone total order across year boundaries (year*100+weekofyear is
    # not: offsets jump by ~48 at New Year, and ISO week 1 can fall in
    # late December of the prior calendar year)
    week = F.floor(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-05"))) / 7
    ).alias("week")
    ev = read_table(spark, sf_dir, "events").select("user_id", week)
    activity = ev.distinct()
    first = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(F.broadcast(first), "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: view → click → purchase, each step strictly after
    the previous one for the same user (conversion analysis with event
    ORDER, not mere co-occurrence).

    One conditional aggregation per user — min event time per step from
    a single scan (no per-step self-joins: three joins of the fact to
    itself would shuffle the log three times; this shuffles once on
    user_id) — then ordered-timestamp comparisons decide how deep each
    user got.  Output: one row per funnel stage with the user count that
    reached it."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    reached_view = F.col("t_view").isNotNull()
    reached_click = reached_view & (F.col("t_click") > F.col("t_view"))
    reached_purchase = reached_click & (F.col("t_purchase") > F.col("t_click"))
    agg = per_user.agg(
        F.count(F.when(reached_view, 1)).alias("n_view"),
        F.count(F.when(reached_click, 1)).alias("n_click"),
        F.count(F.when(reached_purchase, 1)).alias("n_purchase"),
    )
    return agg.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("stage"), F.lit("view").alias("step"), F.col("n_view").alias("n_users")),
                F.struct(F.lit(2).alias("stage"), F.lit("click").alias("step"), F.col("n_click").alias("n_users")),
                F.struct(F.lit(3).alias("stage"), F.lit("purchase").alias("step"), F.col("n_purchase").alias("n_users")),
            )
        ).alias("s")
    ).select("s.stage", "s.step", "s.n_users")


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per (day × event_type) as a wide table, one column per type.

    ``pivot`` with an explicit value list compiles to a single
    Expand-free aggregate: count(when(type=v)) per value — one shuffle on
    day, map-side combined.  Counts use coalesce(...,0): a day with no
    events of a type reads 0, not NULL (pivot-of-count semantics).
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    pivoted = (
        ev.groupBy("day")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    )


def events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the inverse of ``events_pivot``: the wide per-day
    count table back to long (day, event_type, n_events) rows, zero-filled
    combinations included (pivot-of-count round-trip semantics).

    ``DataFrame.unpivot`` compiles to an Expand node — a narrow per-row
    generator (×|EVENT_TYPES| rows, no shuffle, no state), so at 100 TB it
    runs at scan speed on top of the already-aggregated wide table."""
    wide = events_pivot(spark, sf_dir)
    long = wide.unpivot(
        ["day"],
        [f"n_{t}" for t in EVENT_TYPES],
        "metric",
        "n",
    )
    return long.select(
        "day",
        F.substring("metric", 3, 100).alias("event_type"),
        F.col("n").cast("long").alias("n_events"),
    )


def events_sample(spark: SparkSession, sf_dir: str, pct: int = SAMPLE_PCT) -> DataFrame:
    """Deterministic ``pct``% sample keyed on event_id.

    Hash-mod sampling (portable 60-bit hash of the key) instead of
    ``df.sample``: reproducible across runs/engines, stable under
    repartitioning, and — the property that matters in a pipeline —
    *consistent*: every operator sampling on the same key draws the same
    rows, so sampled tables still join.  Executes as a scan-side filter
    (no shuffle, no state); selectivity reaches the parquet row-group
    reader via normal predicate evaluation.
    """
    ev = read_table(spark, sf_dir, "events")
    bucket = F.pmod(portable_hash60(F.col("event_id").cast("string")), F.lit(100))
    return ev.filter(bucket < pct).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )


# Per-type sampling rates for the stratified sample: downsample the
# high-volume interaction types hard, keep every rare conversion event —
# the class-rebalancing shape a training pipeline actually runs.
STRATA_PCT = {"view": 5, "click": 10, "error": 50, "signup": 100, "purchase": 100}


def events_sample_stratified(
    spark: SparkSession, sf_dir: str, strata: dict[str, int] | None = None
) -> DataFrame:
    """Deterministic per-stratum sampling: each event_type gets its own
    hash-mod rate (``df.stat.sampleBy``'s job, minus its partition-order-
    dependent rand(seed) — this is stable under repartitioning and
    engine-portable, so it oracle-checks).

    The rate lookup compiles to a tiny CASE over event_type beside the
    same scan-side hash filter as ``events_sample`` — no shuffle, no
    state, and strata unlisted in the map default to 0% (dropped), which
    is the honest contract for "keep only what you asked for"."""
    rates = strata if strata is not None else STRATA_PCT
    ev = read_table(spark, sf_dir, "events")
    bucket = F.pmod(portable_hash60(F.col("event_id").cast("string")), F.lit(100))
    rate = F.lit(None).cast("int")
    for etype, pct in sorted(rates.items()):
        rate = F.when(F.col("event_type") == etype, F.lit(pct)).otherwise(rate)
    return ev.filter(bucket < F.coalesce(rate, F.lit(0))).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )


def events_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operator surface (SURVEY.md §2.7 marks these absent in the
    reference): one result with a row per (user_id, cohort) where cohort ∈
    {viewer_only, buyer_only, both} — EXCEPT / EXCEPT / INTERSECT over the
    viewer and buyer user sets.

    Spark compiles except/intersect to left-anti / left-semi joins over
    pre-aggregated (distinct) inputs; both sides shuffle once on user_id
    and AQE broadcasts the smaller cohort.  The union of the three is
    disjoint by construction, so the plan is also a correctness witness
    for the set algebra.
    """
    ev = read_table(spark, sf_dir, "events")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return (
        viewers.exceptAll(buyers).select("user_id", F.lit("viewer_only").alias("cohort"))
        .unionByName(
            buyers.exceptAll(viewers).select("user_id", F.lit("buyer_only").alias("cohort"))
        )
        .unionByName(
            viewers.intersect(buyers).select("user_id", F.lit("both").alias("cohort"))
        )
    )


def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING + uncorrelated scalar subquery (both absent from the
    reference, §2.10): users with strictly more events than the average
    per-user event count.

    Single computation, no value round-trip: the per-user frame is
    persisted and pinned (the dedup.py pattern — AQE plans the broadcast
    side as its own query stage, which defeats ReuseExchange across the
    two branches; measured in the round-3 plan audit), then the one-row
    average frame is cross-joined back with a broadcast hint — Catalyst's
    scalar-subquery shape.  The fact scans and shuffles ONCE; the HAVING
    filter is map-side against the cached counts.  At 100 TB the cache is
    |users| rows of two longs (entity-grain, ≪ fact).
    """
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n_events")).persist()
    per_user.count()
    # exact average as int-sum / int-count, one IEEE division (parity rule)
    avg_df = per_user.agg((F.sum("n_events") / F.count("user_id")).alias("avg_n"))
    return (
        per_user.crossJoin(F.broadcast(avg_df))
        .filter(F.col("n_events") > F.col("avg_n"))
        .select("user_id", "n_events")
    )


def events_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 state history: treat each user's event stream as a
    state-observation log (state = event_type) and emit one validity
    interval per *run* of consecutive identical states — the
    gaps-and-islands compaction behind every slowly-changing-dimension
    table and session-state warehouse.

    Three window passes over ONE partitioning (user_id, ordered by ts with
    the unique event_id tie-break), so the whole operator is a single
    shuffle + a single per-key sort: flag state changes with lag, running-
    sum the flags into island ids, aggregate each island to its span, then
    lead() the next island's start as this interval's ``valid_to``
    (NULL = current).  At 100 TB this is the canonical one-shuffle
    compaction; a MERGE-based SCD2 maintenance job applies the same frame
    incrementally."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.col("event_type").alias("state"), "ts", "event_id"
    )
    order = [F.asc("ts"), F.asc("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    changed = (
        F.lag("state").over(w).isNull() | (F.col("state") != F.lag("state").over(w))
    ).cast("long")
    islands = ev.withColumn(
        "island", F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = islands.groupBy("user_id", "island", "state").agg(
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_observations"),
    )
    w_isl = Window.partitionBy("user_id").orderBy("island")
    return spans.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w_isl).alias("valid_to"),
        F.lead("valid_from").over(w_isl).isNull().alias("is_current"),
        "n_observations",
    )


ATTRIBUTION_DAYS = 7


def events_window_funnel(
    spark: SparkSession, sf_dir: str, window_days: int = ATTRIBUTION_DAYS
) -> DataFrame:
    """Attribution-window funnel: view → click → purchase where each step
    must land strictly after the previous one AND within ``window_days``
    of it — conversion analysis with a bounded attribution window, the
    form ad/product analytics actually bills on (the unbounded
    ``events_funnel`` overcounts a purchase made months later).

    All three step timestamps are per-user window minima over the SAME
    unbounded partitioning (user_id), so Catalyst chains them through one
    exchange with no sort (unbounded frames); each later step's predicate
    references the previous step's window value, which Spark evaluates as
    stacked Window operators over the same partitioning — one fact
    shuffle total, same as the unbounded funnel.  NULL propagation does
    the gating: no view ⇒ t_view NULL ⇒ every click comparison NULL ⇒
    t_click NULL, and so on down the funnel."""
    iv = F.expr(f"INTERVAL {int(window_days)} DAYS")
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    with_view = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    click_ok = (
        (F.col("event_type") == "click")
        & (F.col("ts") > F.col("t_view"))
        & (F.col("ts") <= F.col("t_view") + iv)
    )
    with_click = with_view.withColumn(
        "t_click", F.min(F.when(click_ok, F.col("ts"))).over(w)
    )
    purchase_ok = (
        (F.col("event_type") == "purchase")
        & (F.col("ts") > F.col("t_click"))
        & (F.col("ts") <= F.col("t_click") + iv)
    )
    per_user = (
        with_click.withColumn(
            "t_purchase", F.min(F.when(purchase_ok, F.col("ts"))).over(w)
        )
        .select("user_id", "t_view", "t_click", "t_purchase")
        .distinct()
    )
    agg = per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    )
    return agg.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("stage"), F.lit("view").alias("step"), F.col("n_view").alias("n_users")),
                F.struct(F.lit(2).alias("stage"), F.lit("click").alias("step"), F.col("n_click").alias("n_users")),
                F.struct(F.lit(3).alias("stage"), F.lit("purchase").alias("step"), F.col("n_purchase").alias("n_users")),
            )
        ).alias("s")
    ).select("s.stage", "s.step", "s.n_users")


def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active (user, week) is classified
    as new / retained / resurrected, and users who go silent are counted
    as churned in the week AFTER their last activity — the
    new+retained+resurrected−churned ledger growth teams reconcile MAU
    against.

    One shuffle total: the distinct (user, week) activity set partitions
    by user_id, and lag/lead over that single per-user ordering drive
    both the classification (lag: gap to previous active week) and churn
    attribution (lead: next active week, NULL = churned after this one).
    The weekly ledger is a |weeks|-row aggregate; churn rows cap at the
    corpus max week (broadcast scalar) so the final silence after the
    observation window doesn't invent a churn week nobody observed.

    Output: (week, n_new, n_retained, n_resurrected, n_churned), dense
    over the weeks where anything happened."""
    week = F.floor(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-05"))) / 7
    ).alias("week")
    act = read_table(spark, sf_dir, "events").select("user_id", week).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    base = act.select(
        "user_id",
        "week",
        F.lag("week").over(w).alias("prev_w"),
        F.lead("week").over(w).alias("next_w"),
    )
    cat_new = F.col("prev_w").isNull()
    cat_ret = F.col("prev_w") == F.col("week") - 1
    weekly = base.groupBy("week").agg(
        F.sum(cat_new.cast("long")).alias("n_new"),
        F.sum(cat_ret.cast("long")).alias("n_retained"),
        F.sum((~cat_new & ~cat_ret).cast("long")).alias("n_resurrected"),
    )
    max_w = act.agg(F.max("week").alias("max_week"))
    churn = (
        base.filter(F.col("next_w").isNull() | (F.col("next_w") > F.col("week") + 1))
        .select((F.col("week") + 1).alias("week"))
        .join(F.broadcast(max_w))
        .filter(F.col("week") <= F.col("max_week"))
        .groupBy("week")
        .agg(F.count("*").alias("n_churned"))
    )
    return (
        weekly.join(churn, "week", "full")
        .select(
            "week",
            *[
                F.coalesce(c, F.lit(0)).cast("long").alias(c)
                for c in ("n_new", "n_retained", "n_resurrected", "n_churned")
            ],
        )
    )


MERGE_DELETE_TYPE = "error"


def events_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics over a keyed state table — the
    update/insert/delete maintenance step (Delta/Iceberg ``MERGE INTO``)
    expressed as pure DataFrame algebra: the events of the LAST observed
    day are a change batch applied to the snapshot built from every
    earlier day.  Per user: the batch's latest event updates (matched) or
    inserts (not matched) the state row, except a ``MERGE_DELETE_TYPE``
    latest event, which deletes it; untouched snapshot rows carry over.

    One fact shuffle builds BOTH sides: a single row_number window over
    (user_id, is_batch) picks each user's latest snapshot event and
    latest batch event in the same per-key sort, and the sides then
    full-outer join at entity grain (user rows, ≪ fact).  The batch-day
    cutoff is a broadcast one-row scalar, not a driver round-trip.  At
    100 TB the snapshot side would be the stored table (no rebuild scan)
    and the join becomes the standard keyed MERGE shuffle; the algebra —
    full outer + CASE on match/null — is exactly what a lakehouse MERGE
    compiles to.

    Output: (user_id, event_id, event_type, ts, value, action) with
    action ∈ {carry, update, insert}; deleted users emit no row."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value", F.to_date("ts").alias("day")
    )
    cutoff = ev.agg(F.max("day").alias("batch_day"))
    flagged = ev.join(F.broadcast(cutoff)).withColumn(
        "is_batch", F.col("day") == F.col("batch_day")
    )
    w = Window.partitionBy("user_id", "is_batch").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = flagged.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    cols = ["user_id", "event_id", "event_type", "ts", "value"]
    snap = latest.filter(~F.col("is_batch")).select(*cols)
    chg = latest.filter(F.col("is_batch")).select(
        *[F.col(c).alias(f"c_{c}") for c in cols]
    )
    merged = snap.join(chg, snap.user_id == chg.c_user_id, "full")
    action = (
        F.when(F.col("c_user_id").isNull(), F.lit("carry"))
        .when(F.col("user_id").isNull(), F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    return (
        merged.filter(
            F.col("c_user_id").isNull() | (F.col("c_event_type") != MERGE_DELETE_TYPE)
        )
        .select(
            F.coalesce("user_id", "c_user_id").alias("user_id"),
            *[
                F.when(F.col("c_user_id").isNull(), F.col(c))
                .otherwise(F.col(f"c_{c}"))
                .alias(c)
                for c in cols[1:]
            ],
            action.alias("action"),
        )
    )


SKEW_TOP_N = 10


def events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: the ``SKEW_TOP_N`` heaviest user_id keys with
    their share of total events — the report you run BEFORE picking a
    partition key, salting factor, or AQE skew threshold (every
    skew-handling knob in this repo is sized from exactly this shape).

    One fact shuffle into the per-key aggregate; the ranking window runs
    over that entity-grain frame in a single partition — |users| rows,
    the documented tiny-frame exception, same as the dims — and the
    grand total broadcasts as a one-row scalar.  Output: (rank, user_id,
    n_events, share), rank by (count desc, user_id) total order."""
    ev = read_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    total = per_key.agg(F.sum("n_events").alias("n_total"))
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return (
        per_key.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SKEW_TOP_N)
        .join(F.broadcast(total))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "user_id",
            "n_events",
            (F.col("n_events") / F.col("n_total")).alias("share"),
        )
    )


def events_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of event value over time: slope/intercept of
    value ~ days-since-corpus-start — the per-entity regression feature
    (spend trajectory, engagement drift) feature stores batch-compute.

    Built-in closed form, one shuffle: x is an exact small integer (day
    offset from the broadcast corpus min day — regressing on raw epoch
    seconds would square 1e9s into catastrophic float cancellation), the
    five sufficient statistics (n, Σx, Σx², Σy, Σxy) come from a single
    groupBy, and slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) is the same IEEE
    expression in the oracle.  Degenerate users (all events one day) get
    NULL slope/intercept via the nullif guard.

    Output: (user_id, n_events, slope, intercept)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "value"
    )
    origin = ev.agg(F.min("day").alias("day0"))
    with_x = ev.join(F.broadcast(origin)).select(
        "user_id",
        F.datediff("day", "day0").cast("long").alias("x"),
        F.col("value").alias("y"),
    )
    stats = with_x.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    denom = F.nullif(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        F.lit(0.0),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return stats.select(
        "user_id",
        F.col("n").alias("n_events"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


K_ANON = 5
ANON_SALT = "spark-graft-r3"


def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-release report: pseudonymize the direct identifier and
    measure k-anonymity over the quasi-identifier tuple (event_type,
    day, value decade) — the pre-publication check a training-data or
    analytics-release pipeline runs before sharing event-level data.

    Pseudonymization is salted-hash (md5 over salt‖user_id) —, a keyed
    deterministic mapping, so joins across released tables still work
    but raw ids never leave the engine.  The k-anonymity pass is ONE
    aggregate over the quasi-identifier tuple: a group smaller than
    ``K_ANON`` re-identifies its members and is flagged for suppression.
    Both passes ride the same scan; the report is group-grain (tiny).

    Output: (event_type, day, value_decade, group_size, suppress,
    n_pseudonyms) — n_pseudonyms counts distinct salted ids per group,
    proving the mapping kept distinctness (no accidental merges)."""
    ev = read_table(spark, sf_dir, "events")
    pseud = F.md5(F.concat(F.lit(ANON_SALT), F.lit("|"), F.col("user_id").cast("string")))
    qi_day = F.to_date("ts")
    decade = (F.floor(F.col("value") / 10) * 10).cast("long")
    return (
        ev.select(
            "event_type",
            qi_day.alias("day"),
            decade.alias("value_decade"),
            pseud.alias("pid"),
        )
        .groupBy("event_type", "day", "value_decade")
        .agg(
            F.count("*").alias("group_size"),
            F.countDistinct("pid").alias("n_pseudonyms"),
        )
        .withColumn("suppress", F.col("group_size") < K_ANON)
    )


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for every ordered pair of consecutive events of one user, count the
    (from_type -> to_type) transition and normalize rows to probabilities
    — the behavioral model behind next-action prediction and funnel
    simulation (no counterpart in the reference; SURVEY.md §2.10 has no
    sequence analytics at all).

    Plan: ONE shuffle of the log (hash by user_id for the ``lead``
    window, ordered by (ts, event_id) — the deterministic total order all
    sequence operators here share), then a map-side-combined aggregate
    into at most |types|² rows.  The row normalization is a window over
    that tiny matrix, not the log.  Nothing about this plan changes at
    100 TB: the exchange carries (user, ts, type) triples only.

    Output: (from_type, to_type, n_transitions, p) where p sums to 1 per
    from_type (exact bigint counts; one IEEE division each — byte-exact
    across engines)."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_transitions"))
    )
    row_total = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        (F.col("n_transitions") / F.sum("n_transitions").over(row_total)).alias("p"),
    )


# RFM quartile segment rules (applied in order, first match wins)
RFM_SEGMENTS = (
    ("champion", "r_q = 1 and f_q = 1"),
    ("loyal", "r_q <= 2 and f_q <= 2"),
    ("at_risk", "r_q >= 3 and f_q <= 2"),
    ("recent", "r_q <= 2"),
    ("hibernating", "true"),
)


def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation — the
    classic customer-value scoring: per user, days since last activity,
    total events, and total spend, each cut into quartiles, then mapped
    to a named segment.

    Plan: the log collapses to entity grain (one row per user: max ts,
    count, sum) in a single shuffle.  Each quartile score is then
    derived from a TWO-LEVEL global rank (``functions/ranking.py``:
    range partition on the score's sort keys + partitioned local
    row_number + broadcast per-partition offsets) and the driver-side
    ``ntile_from_rank`` bucket formula — reproducing Spark's NTILE
    contract exactly (first ``n%4`` buckets get the extra row) with NO
    partition-less WindowExec, so the per-user frame never serializes
    through one task at any user count.

    Determinism: every rank ordering tie-breaks on user_id, so bucket
    assignment is total-ordered in both engines.  ``monetary`` is one
    per-user double sum; engines may differ in the last ulp, but ordering
    flips would need two users within ~1e-10 of each other — the
    tie-break handles exact equality, the output hash rounds to 1e-6."""
    from ..functions.ranking import ntile_from_rank, two_level_prefix

    ev = read_table(spark, sf_dir, "events").select("user_id", F.to_date("ts").alias("day"), "value")
    per_user = ev.groupBy("user_id").agg(
        F.max("day").alias("last_day"),
        F.count("*").alias("frequency"),
        F.sum("value").alias("monetary"),
    )
    anchor = ev.agg(F.max("day").alias("max_day"))
    base = per_user.join(F.broadcast(anchor)).select(
        "user_id",
        F.datediff("max_day", "last_day").cast("long").alias("recency_days"),
        "frequency",
        "monetary",
    )
    orders = {
        "r_q": [F.asc("recency_days"), F.asc("user_id")],
        "f_q": [F.desc("frequency"), F.asc("user_id")],
        "m_q": [F.desc("monetary"), F.asc("user_id")],
    }
    scored = base
    for name, order_cols in orders.items():
        ranked, totals = two_level_prefix(scored, order_cols, rank_col="__r")
        scored = ranked.withColumn(
            name, ntile_from_rank(F.col("__r"), totals["__r"], 4)
        ).drop("__r")
    expr = None
    for name, cond in RFM_SEGMENTS:
        expr = F.when(F.expr(cond), name) if expr is None else expr.when(F.expr(cond), name)
    return scored.select(
        "user_id", "recency_days", "frequency", "monetary", "r_q", "f_q", "m_q",
        expr.alias("segment"),
    )


def events_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join — the feature-store lookup: for every
    purchase event, fetch the SCD2 state interval in effect immediately
    BEFORE the event (``valid_from < ts <= coalesce(valid_to, ∞)``), so a
    model scored at event time sees exactly the features that existed
    then, never the future (no label leakage).  A purchase that is its
    user's first event has no prior state → NULL (left join).

    Plan: both sides hash-partition on user_id, so the interval predicate
    is a post-join filter inside a SortMergeJoin on the equi-key — the
    per-user interval count is session-scale, never log-scale, and SCD2
    intervals are disjoint per user, so at most ONE interval survives the
    filter per probe row (row counts are purchase-grain in and out).  At
    100 TB the dimension side (SCD2 history) is entity-grain; the fact
    side streams through the join.

    Output: (event_id, user_id, ts, prior_state, prior_state_from)."""
    intervals = events_scd2_user_state(spark, sf_dir).select(
        "user_id",
        F.col("state").alias("prior_state"),
        F.col("valid_from").alias("prior_state_from"),
        "valid_to",
    )
    purchases = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "ts")
    cond = (
        (purchases["user_id"] == intervals["user_id"])
        & (intervals["prior_state_from"] < purchases["ts"])
        & (
            intervals["valid_to"].isNull()
            | (intervals["valid_to"] >= purchases["ts"])
        )
    )
    return purchases.join(intervals, cond, "left").select(
        purchases["event_id"],
        purchases["user_id"],
        purchases["ts"],
        intervals["prior_state"],
        intervals["prior_state_from"],
    )


def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type Shannon entropy — the behavioral-diversity
    feature (0 = a user does one thing; ln|types| = perfectly even usage)
    feature stores derive next to counts and trends.

    Parity discipline: a groupBy SUM of per-row float terms would
    accumulate in partition order (engine-divergent).  Instead the per-
    user type counts land in FIXED columns (conditional sums over the
    pinned EVENT_TYPES tuple — same trick as events_pivot), and entropy
    is one explicit expression whose additions run in tuple order, so
    both engines execute the identical IEEE sequence.  One shuffle at
    user grain; the entropy math is a projection over the aggregate.

    Output: (user_id, n_events, n_types, entropy, evenness) where
    evenness = entropy / ln(|types|)."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    aggs = [
        F.sum((F.col("event_type") == t).cast("long")).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    per_user = ev.groupBy("user_id").agg(*aggs)
    total = None
    for t in EVENT_TYPES:
        c = F.col(f"n_{t}")
        total = c if total is None else total + c
    per_user = per_user.withColumn("n_events", total)
    ent = None
    n_types = None
    for t in EVENT_TYPES:
        c = F.col(f"n_{t}")
        p = c / F.col("n_events")
        term = F.when(c > 0, -p * F.log(p)).otherwise(F.lit(0.0))
        flag = (c > 0).cast("long")
        ent = term if ent is None else ent + term
        n_types = flag if n_types is None else n_types + flag
    import math

    return per_user.select(
        "user_id",
        "n_events",
        n_types.alias("n_types"),
        ent.alias("entropy"),
        (ent / F.lit(math.log(len(EVENT_TYPES)))).alias("evenness"),
    )


# Efraimidis–Spirakis weighted sampling: sample size and the resolution
# of the hash-derived uniform (2^20 buckets, offset half a bucket so
# u ∈ (0,1) exclusive — ln(0) would be -inf)
WSAMPLE_K = 500
WSAMPLE_RES = 1 << 20


def events_weighted_sample(
    spark: SparkSession, sf_dir: str, k: int = WSAMPLE_K
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    each row draws a deterministic uniform u from the portable hash of
    its key and scores ``ln(u) / w`` (w = ``value``); the k highest
    scores ARE a weighted sample — heavier rows win proportionally more
    often.  Deterministic end to end (same hash, same sample, any run /
    any partitioning), which is what makes a *reproducible* weighted
    sample possible at all — ``rand()``-based sampling changes with the
    partition layout.

    Plan: the score is a narrow projection; the global top-k compiles to
    TakeOrderedAndProject — per-partition top-k heaps merged on the
    driver, NO global sort, NO single-partition window — the only
    scale-safe way to take a global ordered prefix of a 100 TB log.

    Rows with non-positive weight are excluded up front: they can never
    be drawn (weight 0 ⇒ score −∞), and ANSI mode would reject the
    division.

    Output: (event_id, user_id, event_type, value, sample_key)."""
    ev = (
        read_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .filter(F.col("value") > 0)
    )
    u = (
        portable_hash60(F.col("event_id")) % WSAMPLE_RES + F.lit(0.5)
    ) / F.lit(float(WSAMPLE_RES))
    key = F.log(u) / F.col("value")
    return (
        ev.withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.asc("event_id"))
        .limit(k)
    )


def events_retention_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention matrix normalized to rates: each (cohort, offset)
    cell divided by its cohort's size (the offset-0 cell) — the form
    retention curves actually plot, and the contract that offset 0 is
    exactly 1.0 for every cohort.

    One broadcast of the |cohorts|-row offset-0 slice onto the matrix;
    exact integer counts, one IEEE division per cell.

    Output: (cohort_week, week_offset, n_users, cohort_size, rate)."""
    matrix = events_retention(spark, sf_dir)
    base = matrix.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("cohort_size")
    )
    return matrix.join(F.broadcast(base), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        "cohort_size",
        (F.col("n_users") / F.col("cohort_size")).alias("rate"),
    )


def sales_by_region_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic warehouse star join: the orders fact rolled up through the
    customer→nation→region dimension chain to (region, year, quarter) —
    the canonical two-tier-dimension OLAP shape (TPC-H Q5's family) over
    the four otherwise-unused TPC-H dims.

    Scale shape: ONE fact-side join — orders⋈customer on the entity key
    (at 100 TB this is the shuffle to co-partition or bucket away; here
    AQE picks broadcast while customer fits) — then nation and region are
    always-broadcast micro-dims, and the rollup groups on a handful of
    (region, year, quarter) keys with full map-side combine.  Revenue
    sums in integer CENTS (round(price·100) per row, then an exact
    bigint sum) — a double sum would be partial-order-dependent and
    break cross-engine hash parity.

    Output: (region_name, year, quarter, n_orders, n_customers,
    revenue_cents)."""
    orders = read_table(spark, sf_dir, "orders", spread=True).select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    j = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.groupBy(
            F.col("r_name").alias("region_name"),
            F.year("o_orderdate").cast("long").alias("year"),
            F.quarter("o_orderdate").cast("long").alias("quarter"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


def supplier_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total windowing over a pre-aggregated fact: each
    supplier's revenue share within its nation, plus its in-nation rank —
    the share-of-segment report every warehouse ships (TPC-H's supplier
    side, previously unused).

    Scale discipline: AGGREGATE FIRST, WINDOW SECOND.  The fact reduces
    to one row per supplier (map-side-combined sum of integer cents:
    round(extendedprice·(1−discount)·100) per line — the same
    order-independent exactness contract as sales_by_region_quarter)
    before any window function runs, so the nation-partitioned windows
    sort |suppliers| rows, never |lineitem| — windowing the raw fact is
    the classic scale mistake this operator exists to demonstrate
    avoiding.  Supplier and nation are broadcast dims.

    Output: (nation_name, supplier_name, revenue_cents, nation_share,
    nation_rank)."""
    li = read_table(spark, sf_dir, "lineitem", spread=True).select(
        "l_suppkey",
        F.round(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
        )
        .cast("long")
        .alias("cents"),
    )
    per_supp = li.groupBy("l_suppkey").agg(F.sum("cents").alias("revenue_cents"))
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = per_supp.join(
        F.broadcast(supp), per_supp.l_suppkey == supp.s_suppkey
    ).join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    wn = Window.partitionBy("n_name")
    wr = Window.partitionBy("n_name").orderBy(
        F.desc("revenue_cents"), F.asc("s_suppkey")
    )
    return j.select(
        F.col("n_name").alias("nation_name"),
        F.col("s_name").alias("supplier_name"),
        "revenue_cents",
        (F.col("revenue_cents") / F.sum("revenue_cents").over(wn)).alias(
            "nation_share"
        ),
        F.row_number().over(wr).cast("long").alias("nation_rank"),
    )


DEBOUNCE_SECONDS = 60


def events_dedup_windowed(
    spark: SparkSession, sf_dir: str, window_s: int = DEBOUNCE_SECONDS
) -> DataFrame:
    """Time-windowed deduplication (trailing-edge burst debounce): group
    consecutive same-(user, type) events whose inter-event gap is
    ≤ ``window_s`` seconds into one burst and keep only the burst's
    first event — the double-click / retry-storm compaction between
    exact dedup (key equality) and sessionization (same gap semantics,
    entity-grain).  NOTE the gap chains off the PREVIOUS event, so
    sustained activity extends suppression (the session-window
    contract); a strict last-KEPT-event debounce is a stateful scan,
    not window-expressible — ``applyInPandasWithState`` territory.

    One shuffle on (user_id, event_type); lag→flag→running-sum turns
    gap-breaks into burst ids, then first-per-burst survives.  Epoch
    math through the shared helpers keeps both engines integer-exact.

    Output: the surviving events (event_id, user_id, event_type, ts,
    value)."""
    from ..functions.time_utils import epoch_seconds

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    sec = epoch_seconds(F.col("ts"))
    gap = sec - F.lag(sec).over(w)
    # burst id = running count of gap-breaks (NULL lag = first row = break)
    brk = F.when(gap.isNull() | (gap > window_s), 1).otherwise(0)
    burst = F.sum(brk).over(
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wb = Window.partitionBy("user_id", "event_type", "burst").orderBy(
        "ts", "event_id"
    )
    return (
        ev.withColumn("burst", burst)
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts", "value")
    )


AB_SPLIT_MOD = 2                # hash(user) % 2 → arm A / arm B


def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion experiment analysis — the A/B readout every
    event pipeline ends at: users split deterministically into two
    arms (hash-mod, the same discipline as every sample here, so the
    assignment is reproducible and join-consistent), conversion =
    ABOVE-MEAN purchase count (integer-exact cnt·n ≥ Σ, the bloom
    operator's scale-free threshold — a has-any-purchase metric is
    vacuously 100% on this data at every SF), and the pooled
    two-proportion z statistic
    z = (p_A − p_B) / √(p̂(1−p̂)(1/n_A + 1/n_B)).

    On a hash split of identical populations the true lift is zero,
    so |z| should sit inside ±3 — the null-calibration property the
    pytest pins (a pipeline whose A/A test rejects is miswired).  All
    inputs are integer counts; the statistic is divisions and one
    IEEE-exact sqrt — tolerance-free cross-engine, like the Wilson
    bound.

    Scale shape: one user-grain aggregate, then a 2-row arm aggregate
    and a 1-row report.  Output: (n_a, n_b, conv_a, conv_b, rate_a,
    rate_b, lift, z_score)."""
    from ..functions.hashing import portable_hash60

    counts = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("cnt")
        )
    )
    totals = counts.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_users")
    )
    per_user = counts.crossJoin(F.broadcast(totals)).select(
        (portable_hash60(F.col("user_id")) % AB_SPLIT_MOD == 0).alias("arm_a"),
        F.when(
            F.col("cnt") * F.col("n_users") >= F.col("total"), 1
        ).otherwise(0).alias("converted"),
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm_a"), F.col("converted")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(~F.col("arm_a"), F.col("converted")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(
        pooled * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return agg.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        p_a.alias("rate_a"),
        p_b.alias("rate_b"),
        (p_a - p_b).alias("lift"),
        F.when(se > 0, (p_a - p_b) / se).otherwise(F.lit(0.0)).alias("z_score"),
    )


CUPED_SPLIT_DATE = "2024-01-16"     # pre-period < split <= post-period


def events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction — the production experimentation
    technique layered on ``events_ab_test``: regress each user's
    post-period outcome (purchases) on their PRE-period activity
    (all events before the split date) and report how much outcome
    variance the covariate removes (ρ², the fraction CUPED would
    shrink confidence intervals by, since var(Y_adj) = var(Y)(1−ρ²)).

    All moments are EXACT integer sums over per-user counts
    (Σx, Σy, Σxy, Σx², Σy², n — the events_type_correlation
    discipline; never var()/corr(), whose float accumulation is
    partial-order-dependent).  θ and ρ² are divisions of exact bigint
    components, cast to double only at the final step with fixed
    operation order — the centered products stay in bigint (they fit:
    n·Σxy ≤ 10⁶·10⁶ at these scales) and only their squares move to
    double.

    Scale shape: one user-grain aggregate, one 1-row moment fold.
    Output: (n_users, sxy_c, sxx_c, syy_c, theta, rho2)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.to_date("ts") < F.lit(CUPED_SPLIT_DATE).cast("date")).alias("pre"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("pre"), 1).otherwise(0)).alias("x"),
        F.sum(
            F.when(
                ~F.col("pre") & (F.col("event_type") == "purchase"), 1
            ).otherwise(0)
        ).alias("y"),
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    sxy_c = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    sxx_c = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    syy_c = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    theta = F.when(sxx_c > 0, sxy_c / sxx_c).otherwise(F.lit(0.0))
    rho2 = F.when(
        (sxx_c > 0) & (syy_c > 0),
        (sxy_c.cast("double") * sxy_c.cast("double"))
        / (sxx_c.cast("double") * syy_c.cast("double")),
    ).otherwise(F.lit(0.0))
    return m.select(
        F.col("n").alias("n_users"),
        sxy_c.alias("sxy_c"),
        sxx_c.alias("sxx_c"),
        syy_c.alias("syy_c"),
        theta.alias("theta"),
        rho2.alias("rho2"),
    )


# chi-square(1) critical value at alpha = 0.05 — the standard SRM alarm
# threshold, embedded as a literal (no runtime distribution function)
SRM_CHI2_CRIT = 3.841458820694124


def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample Ratio Mismatch check — the experiment HEALTH gate that runs
    before any effect readout: if the hash split assigns users to arms
    at a ratio significantly off the designed 50/50, every downstream
    test (z / t / U / KS / CUPED / bootstrap, all sharing this split) is
    reading a broken randomization, not an effect.  The statistic is the
    chi-square goodness-of-fit on arm COUNTS, which for two equal-share
    arms collapses to the exact form (n_a − n_b)² / n — one division of
    exact bigints, compared against the α=0.05 critical literal.

    Scale shape: one user-grain aggregate → a 1-row count fold (the
    cheapest query in the experimentation family, as a health gate
    should be).  Output: (n_users, n_a, n_b, chi2_stat, srm_detected)."""
    from ..functions.hashing import portable_hash60

    arms = (
        read_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            (portable_hash60(F.col("user_id")) % AB_SPLIT_MOD == 0).alias(
                "arm_a"
            )
        )
    )
    m = arms.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).alias("n_b"),
    )
    # d is squared as DOUBLE: a severely broken split at extreme user
    # counts (|d| > ~3.03e9) would overflow exact int64 multiplication
    # and, under ANSI mode, FAIL the health gate instead of alarming.
    # Precision is irrelevant at that magnitude — the threshold
    # comparison is coarse — so the gate trades 53-bit mantissa rounding
    # for guaranteed availability.
    d = (F.col("n_a") - F.col("n_b")).cast("double")
    chi2 = F.when(
        F.col("n_users") > 0, (d * d) / F.col("n_users")
    ).otherwise(F.lit(0.0))
    return m.select(
        "n_users",
        "n_a",
        "n_b",
        chi2.alias("chi2_stat"),
        (chi2 > F.lit(SRM_CHI2_CRIT)).alias("srm_detected"),
    )


def events_cuped_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-ADJUSTED A/B readout — the composition the two standalone
    operators exist for: ``events_cuped`` measures how much outcome
    variance the pre-period covariate removes; this operator APPLIES the
    adjustment and reports the variance-reduced two-sample z on the
    adjusted outcome y' = y − θ·(x − x̄) (θ pooled, x̄ the pooled
    pre-period mean — the standard CUPED estimator; adding the constant
    θ·x̄ changes no variance and keeps y' unbiased for E[y]).

    Exactness — no per-user float ever materializes: every adjusted-arm
    statistic expands into the EXACT bigint moments (n, Σx, Σy, Σxy,
    Σx², Σy² per arm):
      mean' = Σy/n − θ(Σx/n − x̄)
      Σ(y−θx)  = Σy − θΣx ;  Σ(y−θx)² = Σy² − 2θΣxy + θ²Σx²
      var' = (n·Σ(y−θx)² − (Σ(y−θx))²) / (n(n−1))
    so both engines apply the identical fixed-order IEEE ops to
    identical integers.  z' mirrors events_welch_ttest's form on the
    adjusted moments.  A pytest pins |z'| < 3 on the A/A split AND that
    the adjusted variance never exceeds the raw variance (the CUPED
    guarantee var' = var·(1−ρ²)).

    Scale shape: one user-grain aggregate → one 1-row moment fold.
    Output: (n_a, n_b, theta, mean_adj_a, mean_adj_b, var_adj_a,
    var_adj_b, z_adj)."""
    from ..functions.hashing import portable_hash60

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.to_date("ts") < F.lit(CUPED_SPLIT_DATE).cast("date")).alias("pre"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("pre"), 1).otherwise(0)).alias("x"),
        F.sum(
            F.when(
                ~F.col("pre") & (F.col("event_type") == "purchase"), 1
            ).otherwise(0)
        ).alias("y"),
    ).select(
        "x",
        "y",
        (portable_hash60(F.col("user_id")) % AB_SPLIT_MOD == 0).alias("arm_a"),
    )

    def arm(col, flag):
        return F.sum(F.when(flag, col).otherwise(0))

    a_flag, b_flag = F.col("arm_a"), ~F.col("arm_a")
    m = per_user.agg(
        F.count("*").alias("n_t"),
        F.sum("x").alias("sx_t"),
        F.sum("y").alias("sy_t"),
        F.sum(F.col("x") * F.col("y")).alias("sxy_t"),
        F.sum(F.col("x") * F.col("x")).alias("sxx_t"),
        F.sum(F.when(a_flag, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(b_flag, 1).otherwise(0)).alias("n_b"),
        arm(F.col("x"), a_flag).alias("sx_a"),
        arm(F.col("x"), b_flag).alias("sx_b"),
        arm(F.col("y"), a_flag).alias("sy_a"),
        arm(F.col("y"), b_flag).alias("sy_b"),
        arm(F.col("x") * F.col("y"), a_flag).alias("sxy_a"),
        arm(F.col("x") * F.col("y"), b_flag).alias("sxy_b"),
        arm(F.col("x") * F.col("x"), a_flag).alias("sxx_a"),
        arm(F.col("x") * F.col("x"), b_flag).alias("sxx_b"),
        arm(F.col("y") * F.col("y"), a_flag).alias("syy_a"),
        arm(F.col("y") * F.col("y"), b_flag).alias("syy_b"),
    )
    sxx_c = F.col("n_t") * F.col("sxx_t") - F.col("sx_t") * F.col("sx_t")
    sxy_c = F.col("n_t") * F.col("sxy_t") - F.col("sx_t") * F.col("sy_t")
    theta = F.when(sxx_c > 0, sxy_c / sxx_c).otherwise(F.lit(0.0))
    xbar = F.when(
        F.col("n_t") > 0, F.col("sx_t") / F.col("n_t")
    ).otherwise(F.lit(0.0))

    def adjusted(side):
        n = F.col(f"n_{side}")
        sx, sy = F.col(f"sx_{side}"), F.col(f"sy_{side}")
        sxy, sxx, syy = (
            F.col(f"sxy_{side}"),
            F.col(f"sxx_{side}"),
            F.col(f"syy_{side}"),
        )
        mean = F.when(
            n > 0, sy / n - theta * (sx / n - xbar)
        ).otherwise(F.lit(0.0))
        s1 = sy - theta * sx                      # Σ(y − θx), double
        s2 = syy - 2 * theta * sxy + theta * theta * sxx  # Σ(y − θx)²
        var = F.when(n > 1, (n * s2 - s1 * s1) / (n * (n - 1))).otherwise(
            F.lit(0.0)
        )
        return mean, var

    mean_a, var_a = adjusted("a")
    mean_b, var_b = adjusted("b")
    va = F.when(F.col("n_a") > 0, var_a / F.col("n_a")).otherwise(F.lit(0.0))
    vb = F.when(F.col("n_b") > 0, var_b / F.col("n_b")).otherwise(F.lit(0.0))
    se2 = va + vb
    z = F.when(se2 > 0, (mean_a - mean_b) / F.sqrt(se2)).otherwise(F.lit(0.0))
    return m.select(
        "n_a",
        "n_b",
        theta.alias("theta"),
        mean_a.alias("mean_adj_a"),
        mean_b.alias("mean_adj_b"),
        var_a.alias("var_adj_a"),
        var_b.alias("var_adj_b"),
        z.alias("z_adj"),
    )


BOOT_REPLICAS = 40

# Poisson(1) CDF thresholds for k = 0..5 (multiplicities above 6 have
# probability < 1e-4 and truncate to 6).  Computed ONCE here and embedded
# as identical double literals in both engines — the determinism hinge:
# a runtime exp() would reopen the libm cross-engine gap.
def _poisson1_cdf(kmax: int = 6) -> tuple[float, ...]:
    import math

    acc, term, out = 0.0, math.exp(-1.0), []
    for k in range(kmax):
        acc += term
        out.append(acc)
        term /= k + 1
    return tuple(out)


POISSON1_CDF = _poisson1_cdf()


def _poisson_mult(b: Column) -> Column:
    """Replica ``b``'s Poisson(1) multiplicity for the current row's
    user_id: inverse-CDF on the hash-derived uniform (see POISSON1_CDF).
    The hashed string ``concat(b, '|', user_id)`` is the one that
    ``portable_hash60(user_id, seed=b)`` builds, so the oracle's seeded
    hash mirrors it."""
    seeded = F.concat(b.cast("string"), F.lit("|"), F.col("user_id").cast("string"))
    u = portable_hash60(seeded) / F.lit(float(2**60))
    expr = None
    for k, t in enumerate(POISSON1_CDF):
        expr = F.when(u < F.lit(t), k) if expr is None else expr.when(
            u < F.lit(t), k
        )
    return expr.otherwise(F.lit(len(POISSON1_CDF))).cast("long")


def _poisson_replicas(n_replicas: int) -> Column:
    """Exploded (b, m) replica structs — the B× fan-out of the ENTITY
    frame shared by the bootstrap operators.  One ``transform`` over
    ``sequence(0, B-1)`` keeps a single copy of the hash and inverse-CDF
    expression in the plan; B inlined copies made whole-stage codegen
    fail to compile and fall back to interpreted execution."""
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_replicas - 1)),
            lambda b: F.struct(b.alias("b"), _poisson_mult(b).alias("m")),
        )
    )


def events_bootstrap_ci(
    spark: SparkSession,
    sf_dir: str,
    n_replicas: int = BOOT_REPLICAS,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean per-user
    purchase count — THE distributed bootstrap (each row independently
    receives a Poisson(1)-distributed multiplicity per replica, so no
    shared resample index ever exists; the classic multinomial bootstrap
    needs a global draw of n indices, which does not shard).

    Deterministic where bootstraps are usually random: replica ``b``'s
    multiplicity for a user is the Poisson(1) inverse-CDF applied to the
    uniform ``portable_hash60(user, seed=b) / 2^60`` — an exact
    power-of-two scaling of an exact integer, compared against the
    module-level CDF literals, so BOTH engines draw the identical
    pseudo-resamples and the CI is hash-checkable.

    Exactness: each replica mean is Σ(mult·x) / Σ(mult) — two exact
    bigint sums, one IEEE division.  The CI avoids float SUMMATION
    entirely: the ``n_replicas`` replica means are sorted into an array
    and the bounds are ORDER STATISTICS (ranks ⌈0.025·B⌉ and
    ⌈0.975·B⌉ — with B=40 that is min and 39th, the honest small-B
    quantization of the percentile bootstrap; production raises B, same
    plan).  Scale shape: one user-grain aggregate → a B× explode of the
    ENTITY frame (map-side combinable into B partial rows) → a B-row
    fold → one output row.

    Output: (n_users, n_replicas, mean_obs, boot_median, ci_lo, ci_hi)."""
    per_user = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("x")
        )
    )
    reps = per_user.select(
        "x", _poisson_replicas(n_replicas).alias("r")
    ).select("x", "r.b", "r.m")
    boot = reps.groupBy("b").agg(
        F.sum(F.col("m") * F.col("x")).alias("s"),
        F.sum("m").alias("n"),
    )
    means = boot.select(
        F.when(F.col("n") > 0, F.col("s") / F.col("n"))
        .otherwise(F.lit(0.0))
        .alias("boot_mean")
    )
    lo_rank = max(1, -(-25 * n_replicas // 1000))   # ceil(0.025 B)
    hi_rank = -(-975 * n_replicas // 1000)          # ceil(0.975 B)
    med_rank = (n_replicas + 1) // 2                # lower median
    arr = means.agg(F.sort_array(F.collect_list("boot_mean")).alias("a"))
    obs = per_user.agg(
        F.count("*").alias("n_users"),
        F.when(F.count("*") > 0, F.sum("x") / F.count("*"))
        .otherwise(F.lit(0.0))
        .alias("mean_obs"),
    )
    return obs.join(F.broadcast(arr)).select(
        "n_users",
        F.lit(n_replicas).cast("long").alias("n_replicas"),
        "mean_obs",
        F.try_element_at("a", F.lit(med_rank)).alias("boot_median"),
        F.try_element_at("a", F.lit(lo_rank)).alias("ci_lo"),
        F.try_element_at("a", F.lit(hi_rank)).alias("ci_hi"),
    )


def events_bootstrap_ab(
    spark: SparkSession,
    sf_dir: str,
    n_replicas: int = BOOT_REPLICAS,
) -> DataFrame:
    """Poisson-bootstrap CI on the TREATMENT EFFECT — the experimentation
    readout the plain bootstrap exists for: each replica resamples both
    arms jointly (every user keeps its hash-assigned arm and carries the
    same Poisson(1) multiplicity, so the replica is one coherent
    pseudo-dataset) and contributes diff_b = mean_A,b − mean_B,b; the CI
    is the order-statistic band over the sorted diffs.  Where the z / t
    tests buy their intervals with a normality assumption, this prices
    the same uncertainty from the resampling distribution itself — the
    cross-check experimentation platforms run when metrics are skewed.

    Same determinism and exactness as ``events_bootstrap_ci``: shared
    hash-derived multiplicities (``_poisson_replicas``), per-arm replica
    means as exact bigint-sum divisions, CI as order statistics of the
    sorted diff array (no float summation), everything mirrored in the
    oracle.  Output: (n_users, n_replicas, diff_obs, boot_median,
    ci_lo, ci_hi)."""
    from ..functions.hashing import portable_hash60

    per_user = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("x")
        )
        .select(
            "user_id",
            "x",
            (portable_hash60(F.col("user_id")) % AB_SPLIT_MOD == 0).alias(
                "arm_a"
            ),
        )
    )
    reps = per_user.select(
        "x", "arm_a", _poisson_replicas(n_replicas).alias("r")
    ).select("x", "arm_a", "r.b", "r.m")
    boot = reps.groupBy("b").agg(
        F.sum(F.when(F.col("arm_a"), F.col("m") * F.col("x")).otherwise(0)).alias("s_a"),
        F.sum(F.when(F.col("arm_a"), F.col("m")).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("arm_a"), F.col("m") * F.col("x")).otherwise(0)).alias("s_b"),
        F.sum(F.when(~F.col("arm_a"), F.col("m")).otherwise(0)).alias("n_b"),
    )
    mean_a = F.when(F.col("n_a") > 0, F.col("s_a") / F.col("n_a")).otherwise(
        F.lit(0.0)
    )
    mean_b = F.when(F.col("n_b") > 0, F.col("s_b") / F.col("n_b")).otherwise(
        F.lit(0.0)
    )
    diffs = boot.select((mean_a - mean_b).alias("diff"))
    lo_rank = max(1, -(-25 * n_replicas // 1000))
    hi_rank = -(-975 * n_replicas // 1000)
    med_rank = (n_replicas + 1) // 2
    arr = diffs.agg(F.sort_array(F.collect_list("diff")).alias("a"))
    obs_ma = F.when(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)) > 0,
        F.sum(F.when(F.col("arm_a"), F.col("x")).otherwise(0))
        / F.sum(F.when(F.col("arm_a"), 1).otherwise(0)),
    ).otherwise(F.lit(0.0))
    obs_mb = F.when(
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)) > 0,
        F.sum(F.when(~F.col("arm_a"), F.col("x")).otherwise(0))
        / F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)),
    ).otherwise(F.lit(0.0))
    obs = per_user.agg(
        F.count("*").alias("n_users"),
        (obs_ma - obs_mb).alias("diff_obs"),
    )
    return obs.join(F.broadcast(arr)).select(
        "n_users",
        F.lit(n_replicas).cast("long").alias("n_replicas"),
        "diff_obs",
        F.try_element_at("a", F.lit(med_rank)).alias("boot_median"),
        F.try_element_at("a", F.lit(lo_rank)).alias("ci_lo"),
        F.try_element_at("a", F.lit(hi_rank)).alias("ci_hi"),
    )


def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on the hash-split arms' per-user
    purchase counts — the fourth (and in practice most-used) member of
    the test family: z compares RATES (events_ab_test), U compares RANKS
    (events_mann_whitney), KS compares the WHOLE distribution
    (events_ks_test); Welch compares MEANS without assuming equal arm
    variances, the default mean test when arm sizes or spreads differ.

    Exactness (the events_cuped moment discipline): per arm only n, Σx,
    Σx² accumulate — exact bigints in any partition order.  The sample
    variance is the exact-integer form (n·Σx² − (Σx)²) / (n·(n−1)) —
    one division of exact operands; t and the Welch–Satterthwaite df
    then apply a FIXED number of IEEE ops in an order the oracle
    mirrors literally.  On the A/A hash split |t| sits well below 1.96
    (pytest calibration pin, like the z/U/KS siblings).

    Scale shape: one user-grain aggregate → a 1-row two-arm moment fold.
    Output: (n_a, n_b, mean_a, mean_b, var_a, var_b, t_stat, df)."""
    from ..functions.hashing import portable_hash60

    per_user = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("x")
        )
        .select(
            "x",
            (portable_hash60(F.col("user_id")) % AB_SPLIT_MOD == 0).alias(
                "arm_a"
            ),
        )
    )
    m = per_user.agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm_a"), F.col("x")).otherwise(0)).alias("sx_a"),
        F.sum(F.when(~F.col("arm_a"), F.col("x")).otherwise(0)).alias("sx_b"),
        F.sum(
            F.when(F.col("arm_a"), F.col("x") * F.col("x")).otherwise(0)
        ).alias("sxx_a"),
        F.sum(
            F.when(~F.col("arm_a"), F.col("x") * F.col("x")).otherwise(0)
        ).alias("sxx_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    # every division ANSI-guarded: an empty or single-user arm yields 0.0
    # (the oracle mirrors the same CASE WHEN guards)
    mean_a = F.when(n_a > 0, F.col("sx_a") / n_a).otherwise(F.lit(0.0))
    mean_b = F.when(n_b > 0, F.col("sx_b") / n_b).otherwise(F.lit(0.0))
    var_a = F.when(
        n_a > 1,
        (n_a * F.col("sxx_a") - F.col("sx_a") * F.col("sx_a"))
        / (n_a * (n_a - 1)),
    ).otherwise(F.lit(0.0))
    var_b = F.when(
        n_b > 1,
        (n_b * F.col("sxx_b") - F.col("sx_b") * F.col("sx_b"))
        / (n_b * (n_b - 1)),
    ).otherwise(F.lit(0.0))
    va = F.when(n_a > 0, var_a / n_a).otherwise(F.lit(0.0))
    vb = F.when(n_b > 0, var_b / n_b).otherwise(F.lit(0.0))
    se2 = va + vb
    t_stat = F.when(se2 > 0, (mean_a - mean_b) / F.sqrt(se2)).otherwise(
        F.lit(0.0)
    )
    df = F.when(
        (se2 > 0) & (n_a > 1) & (n_b > 1),
        (se2 * se2) / (va * va / (n_a - 1) + vb * vb / (n_b - 1)),
    ).otherwise(F.lit(0.0))
    return m.select(
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        var_a.alias("var_a"),
        var_b.alias("var_b"),
        t_stat.alias("t_stat"),
        df.alias("df"),
    )


def events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test between the two hash-split arms on
    per-user purchase counts — the NONPARAMETRIC sibling of
    ``events_ab_test`` (no normality assumption; the test a skewed
    heavy-user metric actually calls for).

    Exactness: midranks are computed per VALUE GROUP (cum_before +
    (t+1)/2 — an exact half-integer, not a float average of row
    numbers), so the rank sum R_A is an exact sum of halves; U_A =
    R_A − n_A(n_A+1)/2 is exact.  The normal approximation uses the
    tie-corrected variance n_A·n_B/12·((n+1) − Σ(t³−t)/(n(n−1))) —
    integer ingredients, fixed-order double arithmetic, one IEEE-exact
    sqrt.  On an A/A hash split |z| < 3 (pinned in pytest alongside
    the parametric twin).

    Scale shape: user-grain aggregate → value-grain rank table
    (|distinct counts| rows) → 1-row fold; the fact is scanned once.
    Output: (n_a, n_b, u_a, mu_u, z_score)."""
    from ..functions.hashing import portable_hash60

    per_user = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("x")
        )
        .select(
            "x",
            (portable_hash60(F.col("user_id")) % AB_SPLIT_MOD == 0).alias(
                "arm_a"
            ),
        )
    )
    vals = per_user.groupBy("x").agg(
        F.count("*").alias("t"),
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).alias("t_a"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.withColumn(
        "cum_before", F.coalesce(F.sum("t").over(w), F.lit(0))
    ).withColumn(
        "midrank",
        F.col("cum_before") + (F.col("t") + F.lit(1)) / F.lit(2.0),
    )
    agg = ranked.agg(
        F.sum("t_a").alias("n_a"),
        F.sum(F.col("t") - F.col("t_a")).alias("n_b"),
        F.sum(F.col("t_a") * F.col("midrank")).alias("r_a"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_sum"),
    )
    n = F.col("n_a") + F.col("n_b")
    u_a = F.col("r_a") - F.col("n_a") * (F.col("n_a") + 1) / F.lit(2.0)
    mu = F.col("n_a") * F.col("n_b") / F.lit(2.0)
    var = (
        F.col("n_a") * F.col("n_b") / F.lit(12.0)
        * ((n + 1) - F.col("tie_sum") / (n * (n - 1)))
    )
    return agg.select(
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        mu.alias("mu_u"),
        F.when(var > 0, (u_a - mu) / F.sqrt(var)).otherwise(F.lit(0.0)).alias(
            "z_score"
        ),
    )


def events_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of user activity — the one-number inequality
    summary of ``events_pareto``'s curve (load-concentration / key-skew
    exposure in a single comparable metric).

    Exact integer formulation: with per-user counts x sorted ascending
    under the total order (x, user_id) and i = 1..n,
    G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx) — every sum an exact bigint,
    one final IEEE division.  Output: (n_users, total_events, gini).

    Scale shape: the rank i over the FULL per-user population comes from
    the two-level prefix primitive (range partition + partitioned local
    rank + broadcast offsets, ``functions/ranking.py``) — no
    partition-less WindowExec anywhere in the plan, so the entity-grain
    frame never serializes through one task at 100× user counts."""
    from ..functions.ranking import two_level_prefix

    per_user = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("x"))
    )
    ranked, _ = two_level_prefix(
        per_user, [F.asc("x"), F.asc("user_id")], rank_col="i"
    )
    agg = ranked.agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("total_events"),
        F.sum(F.col("i") * F.col("x")).alias("ix"),
    )
    gini = (
        F.lit(2) * F.col("ix") - (F.col("n_users") + 1) * F.col("total_events")
    ) / (F.col("n_users") * F.col("total_events"))
    return agg.select("n_users", "total_events", gini.alias("gini"))


def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the hash-split
    arms' per-user purchase-count distributions — the third member of
    the test trio (z compares rates, U compares ranks, KS compares the
    WHOLE distribution: it catches a variance or shape change the
    other two miss).

    Exactness: D = max_v |F_A(v) − F_B(v)| is located by maximizing
    the INTEGER |cum_A(v)·n_B − cum_B(v)·n_A| over the value-grain
    cumulative table — the argmax involves no floats at all — and only
    the final D and the scaled statistic √(n_A·n_B/(n_A+n_B))·D touch
    doubles (divisions + one IEEE-exact sqrt).  On an A/A split the
    scaled statistic sits well below the α=0.05 critical value 1.358
    (pinned in pytest).

    Scale shape: user-grain aggregate → value-grain cumulative table
    (|distinct counts| rows) → 1-row max.  Output: (n_a, n_b,
    d_num, d_den, ks_d, ks_scaled)."""
    from ..functions.hashing import portable_hash60

    per_user = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("x")
        )
        .select(
            "x",
            (portable_hash60(F.col("user_id")) % AB_SPLIT_MOD == 0).alias(
                "arm_a"
            ),
        )
    )
    vals = per_user.groupBy("x").agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).alias("b"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.select(
        F.sum("a").over(w).alias("cum_a"), F.sum("b").over(w).alias("cum_b")
    )
    totals = per_user.agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).alias("n_b"),
    )
    diff = F.abs(
        F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
    )
    agg = cum.crossJoin(F.broadcast(totals)).agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max(diff).alias("d_num"),
    )
    d = F.col("d_num") / (F.col("n_a") * F.col("n_b"))
    scaled = (
        F.sqrt(
            F.col("n_a") * F.col("n_b") / (F.col("n_a") + F.col("n_b"))
        )
        * d
    )
    return agg.select(
        "n_a",
        "n_b",
        "d_num",
        (F.col("n_a") * F.col("n_b")).alias("d_den"),
        d.alias("ks_d"),
        scaled.alias("ks_scaled"),
    )


def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: users grouped by first-seen week, purchase
    revenue accumulated per week offset — the cumulative-value twin of
    ``events_retention`` (retention counts heads, this sums value; the
    triangle's rightmost column per cohort is the LTV estimate a
    payback model reads).

    Revenue rides the integer-cents discipline (a raw double sum would
    be partial-order-dependent); the cumulative column is a window sum
    over the tiny cohort×offset grid, and per-user averaging is one
    division of exact operands.

    Scale shape: one user-grain pass for cohorts (broadcast back), one
    fact pass for weekly revenue, then windows over ≤ weeks² rows.
    Output: (cohort_week, week_offset, n_users, revenue_cents,
    cum_revenue_cents, cum_ltv_per_user)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cohorts = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohorts.groupBy("cohort_week").agg(F.count("*").alias("n_users"))
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(cohorts), "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            ).cast("long").alias("week_offset"),
        )
        .agg(F.sum("cents").alias("revenue_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_week")
        .withColumn("cum_revenue_cents", F.sum("revenue_cents").over(w))
        .select(
            "cohort_week",
            "week_offset",
            "n_users",
            "revenue_cents",
            "cum_revenue_cents",
            (F.col("cum_revenue_cents") / F.col("n_users")).alias(
                "cum_ltv_per_user"
            ),
        )
    )


def events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout on the hash-split arms — the
    pre/post member of the experimentation family (z/t/U/KS/CUPED/
    bootstrap compare arms at one point; DiD nets out a level shift
    common to both arms across a launch boundary).

    Formulation: PAIRED DiD.  Each user's outcome is the per-user
    purchase-count CHANGE d = x_post − x_pre across the split day (the
    data-derived calendar midpoint — deterministic integer date math,
    broadcast as a one-row spine).  The estimate is then a two-sample
    mean comparison of d between arms — per-user pairing absorbs user
    level effects, and the whole op reduces to the Welch moment
    discipline over d: per arm only (n, Σd, Σd²) accumulate (exact
    bigints), then a fixed handful of IEEE ops the oracle mirrors.

    Scale shape: one user-grain aggregate (two conditional sums per
    user — the period split never shuffles twice) → a 1-row fold.
    On the A/A hash split the effect is null by construction (pytest
    calibration pin, like the sibling tests).

    Output: (split_day, n_a, n_b, mean_diff_a, mean_diff_b, did_effect,
    se, z_stat) — one row."""
    from ..functions.hashing import portable_hash60

    ev = read_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("d_lo"), F.to_date(F.max("ts")).alias("d_hi")
    ).select(
        F.date_add(
            F.col("d_lo"),
            (F.datediff(F.col("d_hi"), F.col("d_lo")) / 2).cast("int"),
        ).alias("split_day")
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", "split_day")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.to_date("ts") > F.col("split_day")),
                    1,
                ).otherwise(0)
            ).alias("x_post"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.to_date("ts") <= F.col("split_day")),
                    1,
                ).otherwise(0)
            ).alias("x_pre"),
        )
        .select(
            "split_day",
            (F.col("x_post") - F.col("x_pre")).alias("d"),
            (portable_hash60(F.col("user_id")) % AB_SPLIT_MOD == 0).alias(
                "arm_a"
            ),
        )
    )
    m = per_user.groupBy("split_day").agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm_a"), F.col("d")).otherwise(0)).alias("sd_a"),
        F.sum(F.when(~F.col("arm_a"), F.col("d")).otherwise(0)).alias("sd_b"),
        F.sum(
            F.when(F.col("arm_a"), F.col("d") * F.col("d")).otherwise(0)
        ).alias("sdd_a"),
        F.sum(
            F.when(~F.col("arm_a"), F.col("d") * F.col("d")).otherwise(0)
        ).alias("sdd_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    mean_a = F.when(n_a > 0, F.col("sd_a") / n_a).otherwise(F.lit(0.0))
    mean_b = F.when(n_b > 0, F.col("sd_b") / n_b).otherwise(F.lit(0.0))
    var_a = F.when(
        n_a > 1,
        (n_a * F.col("sdd_a") - F.col("sd_a") * F.col("sd_a"))
        / (n_a * (n_a - 1)),
    ).otherwise(F.lit(0.0))
    var_b = F.when(
        n_b > 1,
        (n_b * F.col("sdd_b") - F.col("sd_b") * F.col("sd_b"))
        / (n_b * (n_b - 1)),
    ).otherwise(F.lit(0.0))
    d1 = m.select(
        "split_day", "n_a", "n_b",
        mean_a.alias("mean_diff_a"), mean_b.alias("mean_diff_b"),
        var_a.alias("var_a"), var_b.alias("var_b"),
    )
    va = F.when(n_a > 0, F.col("var_a") / n_a).otherwise(F.lit(0.0))
    vb = F.when(n_b > 0, F.col("var_b") / n_b).otherwise(F.lit(0.0))
    d2 = d1.select(
        "*", va.alias("va"), vb.alias("vb"),
        (F.col("mean_diff_a") - F.col("mean_diff_b")).alias("did_effect"),
    )
    se = F.when(
        F.col("va") + F.col("vb") > 0, F.sqrt(F.col("va") + F.col("vb"))
    ).otherwise(F.lit(0.0))
    return d2.select(
        "split_day", "n_a", "n_b", "mean_diff_a", "mean_diff_b",
        "did_effect",
        se.alias("se"),
        F.when(se > 0, F.col("did_effect") / se).otherwise(F.lit(0.0)).alias(
            "z_stat"
        ),
    )


# two-sided alpha=0.05 and power=0.80 normal quantiles, embedded once as
# module literals (the events_bootstrap_ci discipline: runtime quantile
# functions would reopen the cross-engine libm gap)
POWER_Z_ALPHA = 1.959963984540054
POWER_Z_BETA = 0.8416212335729143
POWER_HORIZONS = (1, 2, 4, 8)


def events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power planning: the minimal detectable effect (MDE)
    of the standard two-arm mean test on per-user purchase counts, at
    the CURRENT population size and at 2x/4x/8x horizons — the
    "how long must this test run" readout every experimentation
    platform serves next to its significance tests.

    MDE(n) = (z_{α/2} + z_β) · √(2σ²/n_arm), α=0.05 two-sided,
    power 0.80 — the classic closed form; σ² is the OBSERVED per-user
    outcome variance in its exact-integer formulation
    (n·Σx² − (Σx)²)/(n·(n−1)), z constants are module literals (never
    runtime quantile calls), and each horizon's arm size is driver-side
    integer math n·m/2, so both engines perform the identical two
    IEEE ops per row.

    Scale shape: one user-grain aggregate → a 1-row moment fold →
    |horizons| output rows.  Output: (horizon_x, n_arm, mean_outcome,
    var_outcome, mde_abs, mde_rel)."""
    per_user = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("x")
        )
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n")
    mean = F.when(n > 0, F.col("sx") / n).otherwise(F.lit(0.0))
    var = F.when(
        n > 1,
        (n * F.col("sxx") - F.col("sx") * F.col("sx")) / (n * (n - 1)),
    ).otherwise(F.lit(0.0))
    base = m.select(
        "n", mean.alias("mean_outcome"), var.alias("var_outcome")
    )
    horizons = base.select(
        "*",
        F.explode(
            F.array(*[F.lit(h) for h in POWER_HORIZONS])
        ).alias("horizon_x"),
    ).select(
        "horizon_x",
        # floor division explicitly: Spark's double->long cast TRUNCATES
        # where DuckDB's rounds, so x.5 arm sizes would diverge
        F.floor((F.col("n") * F.col("horizon_x")) / F.lit(2)).cast(
            "long"
        ).alias("n_arm"),
        "mean_outcome",
        "var_outcome",
    )
    mde = F.when(
        F.col("n_arm") > 0,
        F.lit(POWER_Z_ALPHA + POWER_Z_BETA)
        * F.sqrt(
            F.lit(2.0) * F.col("var_outcome") / F.col("n_arm")
        ),
    ).otherwise(F.lit(0.0))
    return horizons.select(
        "horizon_x",
        "n_arm",
        "mean_outcome",
        "var_outcome",
        mde.alias("mde_abs"),
        F.when(
            F.col("mean_outcome") > 0, mde / F.col("mean_outcome")
        ).alias("mde_rel"),
    )


# O'Brien-Fleming-shape sequential boundary scale: the two-sided 0.05
# fixed-horizon quantile stretched by sqrt(1/t) information fraction.
SEQ_Z_ALPHA = 1.959963984540054


def events_sequential_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring: the day-by-day cumulative
    conversion z-statistic against an O'Brien-Fleming-shape boundary
    z_α·√(D/d) — the "peeking problem" member of the experimentation
    family (the fixed-horizon tests above are valid ONCE; a dashboard
    recomputing them daily inflates false positives, which is exactly
    what the widening early boundary corrects).

    Outcome is cumulative CONVERSION (user has ≥1 purchase by day d) —
    deliberately Bernoulli, because that makes the day-d moments
    sparse-computable: a 0/1 outcome has Σx² = Σx, so the whole
    triangular "per-user state at every day" recompute collapses to
    each user's FIRST-purchase day, a day-grain cumulative sum per arm.
    (A count outcome's Σx² cannot fold this way — that readout belongs
    to the fixed-horizon tests.)

    Exactness: converter counts are exact bigint cumulative sums over
    the zero-filled day spine; z and the boundary apply a fixed IEEE
    sequence per row with z_α embedded as a module literal.

    Scale shape: one user-grain aggregate (arm + first-purchase day),
    one |days|-grain zero-filled cumulative window per arm, |days|
    output rows.  Output: (day, day_idx, n_days, n_a, n_b, conv_a,
    conv_b, z_stat, obf_bound, crosses)."""
    from ..functions.hashing import portable_hash60

    ev = read_table(spark, sf_dir, "events")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    F.col("event_type") == "purchase", F.to_date("ts")
                )
            ).alias("fp_day")
        )
        .select(
            "fp_day",
            (portable_hash60(F.col("user_id")) % AB_SPLIT_MOD == 0).alias(
                "arm_a"
            ),
        )
    )
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    return sequential_ab_report(users, days)


def sequential_ab_report(users: DataFrame, days: DataFrame) -> DataFrame:
    """The monitor's report tail over (fp_day, arm_a) user rows and the
    observation-day spine — shared by the batch operator above and the
    streaming state fold (``streaming/sketch.py::
    stream_events_sequential_ab``), so both produce byte-identical
    looks from identical state (the incremental-mart twin contract)."""
    arms = users.groupBy().agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).alias("n_b"),
    )
    per_day = users.filter(F.col("fp_day").isNotNull()).groupBy(
        F.col("fp_day").alias("day")
    ).agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).alias("fp_a"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).alias("fp_b"),
    )
    n_days_tbl = days.agg(F.count("*").cast("long").alias("n_days"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    # |days|-grain global windows: value-grain tiny frame (the
    # events_kaplan_meier adjudication) — allow-listed in the lint gate
    dense = (
        days.join(per_day, "day", "left")
        .select(
            "day",
            F.coalesce("fp_a", F.lit(0)).alias("fp_a"),
            F.coalesce("fp_b", F.lit(0)).alias("fp_b"),
        )
        .select(
            "day",
            F.sum("fp_a").over(w).alias("conv_a"),
            F.sum("fp_b").over(w).alias("conv_b"),
            F.row_number().over(Window.orderBy("day")).cast("long").alias(
                "day_idx"
            ),
        )
    )
    j = dense.crossJoin(F.broadcast(arms)).crossJoin(F.broadcast(n_days_tbl))
    n_a, n_b = F.col("n_a"), F.col("n_b")
    p_a = F.when(n_a > 0, F.col("conv_a") / n_a).otherwise(F.lit(0.0))
    p_b = F.when(n_b > 0, F.col("conv_b") / n_b).otherwise(F.lit(0.0))
    pool = F.when(
        n_a + n_b > 0, (F.col("conv_a") + F.col("conv_b")) / (n_a + n_b)
    ).otherwise(F.lit(0.0))
    d2 = j.select(
        "day", "day_idx", "n_days", "n_a", "n_b", "conv_a", "conv_b",
        F.when(
            (n_a > 0) & (n_b > 0),
            pool
            * (F.lit(1.0) - pool)
            * (F.lit(1.0) / n_a + F.lit(1.0) / n_b),
        ).otherwise(F.lit(0.0)).alias("v"),
        (p_a - p_b).alias("diff"),
    )
    z = F.when(F.col("v") > 0, F.col("diff") / F.sqrt("v")).otherwise(
        F.lit(0.0)
    )
    bound = F.lit(SEQ_Z_ALPHA) * F.sqrt(
        F.col("n_days") / F.col("day_idx").cast("double")
    )
    return d2.select(
        "day", "day_idx", "n_days",
        "n_a", "n_b", "conv_a", "conv_b",
        z.alias("z_stat"),
        bound.alias("obf_bound"),
        (F.abs(z) > bound).alias("crosses"),
    )


# ln(2) embedded once (the bootstrap-CI literal discipline)
LN2 = 0.6931471805599453


def events_retention_curve_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential decay fit of the pooled retention curve: the
    one-number summary ("retention half-life") leadership reads where
    the cohort matrix is the analyst view.  Pools the weekly cohort
    matrix by offset — n_ret(k)/n_base(k) over cohorts OLD ENOUGH to
    be observable at offset k (the triangle correction; naive pooling
    divides late offsets by cohorts that cannot possibly appear) —
    then fits ln r(k) = a + b·k by closed-form OLS over offsets k ≥ 1
    and reports half-life = −ln2/b.

    Exactness: retained/base counts are exact bigints; the OLS moments
    (n, Σk, Σy, Σky, Σk²) accumulate y = ln(rate) doubles over the
    |offsets|-row frame (tiny; summation-order noise ~10 orders under
    the 6-dp hash), and slope/intercept/half-life apply a fixed IEEE
    sequence with ln2 as a module literal.

    Scale shape: the same two aggregates as events_retention + an
    |offsets|-grain fit — the fact log shuffles once.

    Output: (n_points, slope, intercept, half_life_weeks) — one row."""
    week = F.floor(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-05"))) / 7
    ).alias("week")
    ev = read_table(spark, sf_dir, "events").select("user_id", week)
    activity = ev.distinct()
    first = activity.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    cohorts = first.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    max_week = activity.agg(F.max("week").alias("max_week"))
    matrix = (
        activity.join(F.broadcast(first), "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("k"),
        )
        .agg(F.countDistinct("user_id").alias("n_ret"))
    )
    # observable base at offset k = cohorts with cohort_week + k <= max
    base = (
        cohorts.crossJoin(F.broadcast(max_week))
        .crossJoin(
            F.broadcast(
                matrix.select("k").distinct().filter(F.col("k") >= 1)
            )
        )
        .filter(F.col("cohort_week") + F.col("k") <= F.col("max_week"))
        .groupBy("k")
        .agg(F.sum("cohort_size").alias("n_base"))
    )
    pooled = (
        matrix.filter(F.col("k") >= 1)
        .groupBy("k")
        .agg(F.sum("n_ret").alias("n_ret"))
        .join(base, "k")
        .filter((F.col("n_ret") > 0) & (F.col("n_base") > 0))
        .select(
            "k", F.log(F.col("n_ret") / F.col("n_base")).alias("y")
        )
    )
    m = pooled.agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sk"),
        F.sum("y").alias("sy"),
        F.sum(F.col("k") * F.col("y")).alias("sky"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
    )
    n = F.col("n")
    den = n * F.col("skk") - F.col("sk") * F.col("sk")
    slope = F.when(den > 0, (n * F.col("sky") - F.col("sk") * F.col("sy")) / den)
    intercept = F.when(
        n > 0, (F.col("sy") - slope * F.col("sk")) / n
    )
    return m.select(
        F.col("n").cast("long").alias("n_points"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        F.when(slope < 0, -F.lit(LN2) / slope).alias("half_life_weeks"),
    )


def events_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state TRANSITION ENTROPY of the first-order behavior chain —
    the predictability report on top of ``events_markov_transitions``:
    H(from) = −Σ p·log₂p over that state's outgoing distribution.  A
    low-entropy state funnels (next action predictable — automate it);
    a high-entropy one branches (an intervention point).  The classic
    sequence-model diagnostic (entropy rate of the fitted chain).

    Plan: the transitions operator's single log shuffle, then a
    |types|-row aggregate.  Nothing new touches the log.

    Determinism: probabilities are exact-integer divisions; log₂ is
    libm-correctly-rounded in both engines on those exact quotients;
    the ≤|types|-term sum's order noise sits far below the 6-dp
    rounding.

    Output: (from_type, n_out, n_successors, entropy_bits)."""
    trans = events_markov_transitions(spark, sf_dir)
    return trans.groupBy("from_type").agg(
        F.sum("n_transitions").alias("n_out"),
        F.count("*").alias("n_successors"),
        F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("entropy_bits"),
    )
