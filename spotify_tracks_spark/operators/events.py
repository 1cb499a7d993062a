"""Event-stream batch operators over the ``events`` table
(event_id, ts, user_id, event_type, value, props-JSON).

These exercise the engine surface the reference's ingest flow implies
(SURVEY.md §2.9) plus the event-analytics a training-data pipeline needs:

- ``events_summary``     JSON field extraction (the SQL twin of the ingest
                         flatten) + grouped aggregates.  Averages are exact
                         ints divided once — bit-deterministic.
- ``events_sessionize``  gap-based sessionization via window functions
                         (lag → gap flag → running sum = session id) —
                         the canonical stateful-stream op expressed as a
                         batch window, one shuffle on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.time_utils import epoch_micros, epoch_seconds
from ..sources.tables import read_table

SESSION_GAP_MINUTES = 30


def events_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", "user_id", "ts", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("max_ts"),
            F.sum("k").alias("sum_k"),
            (F.sum("k") / F.count("k")).alias("avg_k"),
        )
    )


def events_sessionize(
    spark: SparkSession, sf_dir: str, gap_minutes: int = SESSION_GAP_MINUTES
) -> DataFrame:
    """One row per (user, session): gap > ``gap_minutes`` starts a session.

    Two stacked windows on the same user_id partitioning — a single
    shuffle; the running sum reuses the sort order of the lag."""
    ev = read_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = epoch_seconds(F.col("ts"))
    gap_flag = (sec - F.lag(sec).over(w) > gap_minutes * 60).cast("int")
    with_session = ev.withColumn("new_sess", F.coalesce(gap_flag, F.lit(0))).withColumn(
        "session_no", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return with_session.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


def events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles of ``value`` per event type.

    Spark ``percentile`` and DuckDB ``quantile_cont`` share the same
    linear-interpolation-on-sorted-values definition, so the results are
    bit-identical (probed to 1e-9) — a sketch-free, oracle-checkable
    distribution profile.  At 100 TB the exact sort-based percentile
    becomes ``approx_percentile`` (t-digest) — same plan shape, bounded
    memory, no oracle."""
    ev = read_table(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.5, 0.9, 0.99))")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            pct[0].alias("p50"),
            pct[1].alias("p90"),
            pct[2].alias("p99"),
        )
    )


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (event_type, day): per-day, per-type subtotals + grand total
    in one pass — Catalyst expands to a single Expand+Aggregate (one
    shuffle for all grouping sets).

    Only exact aggregates (counts, distinct users, min/max) — a float SUM
    over doubles would be partial-order-dependent and break hash parity."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id", "value"
    )
    return (
        ev.rollup("event_type", "day")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (event_type, day): all four grouping sets — (type, day),
    (type), (day), () — in ONE Expand+Aggregate pass, the
    ``events_rollup`` shape plus the per-day-across-types slice ROLLUP
    omits.  Same single shuffle; the Expand doubles rows vs rollup's ×3
    (4 grouping sets vs 3), still linear in input.

    Exact aggregates only (see events_rollup: float SUM would be
    partial-order-dependent and break hash parity)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id", "value"
    )
    return ev.cube("event_type", "day").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def events_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value quartile assignment via ``ntile(4)`` — the ranking
    window class (ntile) the other operators don't exercise, plus exact
    quartile boundary stats per bucket.

    One shuffle on event_type, one sort per partition feeding both the
    ntile and the boundary aggregates.  ntile splits ties by sort order,
    so the order-by includes the unique event_id to stay a total order —
    deterministic buckets, oracle-checkable."""
    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("event_type", "quartile")
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .withColumn("quartile", F.col("quartile").cast("long"))
    )


def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction via the VARIANT type (Spark 4) — the
    modern path for the props column: ``parse_json`` once into a binary
    variant, typed ``try_variant_get`` extractions after, instead of
    re-parsing the JSON string per ``get_json_object`` path expression.
    On a real table the variant column is materialized at ingest and every
    downstream read skips string parsing entirely (shredded storage).

    Integer-only aggregates ⇒ exact DuckDB oracle (json_extract).
    ``try_parse_json`` (NULL on malformed input, matching the oracle's
    json_extract_string) + typed ``try_variant_get``; assumes ``props.k``
    is a JSON *number* — a string-encoded "5" nulls here but casts in
    DuckDB (documented data-shape contract, not exercised by testdata)."""
    ev = read_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOP_K = 20


def events_cms_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    k: int = CMS_TOP_K,
) -> DataFrame:
    """Count-Min-sketch heavy hitters — the MERGEABLE frequency sketch a
    streaming/distributed pipeline keeps instead of exact per-key counts
    when the key space outgrows memory.

    Sketch build: each event hashes into one cell per depth row (seeded
    ``portable_hash60``, so both engines compute bit-identical cells);
    one partial-agg pass reduces the log to a depth×width cell table —
    at 100 TB each map task combines locally to ≤ depth×width cells and
    the shuffle carries sketch cells, never keys (that mergeability is
    the point of CMS).  Estimate: a key's count estimate is the MIN over
    its depth cells — always ≥ the true count (only overcounts from
    collisions).  The report joins the tiny cell table back (broadcast,
    4×1024 rows) and emits the top-``k`` keys by estimate beside their
    true counts, so the overcount is visible and exactly checkable:
    unlike HLL/t-digest, a fixed-seed CMS is fully deterministic, which
    makes this the sketch family's exact-oracle representative.

    Output: (user_id, est_n, true_n, overcount), top-k by (est desc,
    user_id asc)."""
    from ..functions.hashing import portable_hash60

    ev = read_table(spark, sf_dir, "events").select("user_id")

    def cell_structs():
        return F.array(
            *[
                F.struct(
                    F.lit(j).alias("d"),
                    F.pmod(
                        portable_hash60(F.col("user_id"), seed=j), F.lit(width)
                    ).alias("cell"),
                )
                for j in range(depth)
            ]
        )

    cells = (
        ev.select(F.explode(cell_structs()).alias("s"))
        .select("s.d", "s.cell")
        .groupBy("d", "cell")
        .agg(F.count("*").alias("c"))
    )
    users = ev.groupBy("user_id").agg(F.count("*").alias("true_n"))
    est = (
        users.select("user_id", "true_n", F.explode(cell_structs()).alias("s"))
        .select("user_id", "true_n", "s.d", "s.cell")
        .join(F.broadcast(cells), ["d", "cell"])
        .groupBy("user_id", "true_n")
        .agg(F.min("c").alias("est_n"))
    )
    return (
        est.select(
            "user_id",
            "est_n",
            "true_n",
            (F.col("est_n") - F.col("true_n")).alias("overcount"),
        )
        .orderBy(F.desc("est_n"), F.asc("user_id"))
        .limit(k)
    )


def events_user_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-(type, day) HLL sketches of user_id,
    union-merged per type WITHOUT rescanning rows — the pattern that makes
    100 TB distinct-count rollups incremental (store daily sketch partials
    ~KB each; any coarser rollup is a sketch merge, not a scan).

    Two-stage aggregate: ``hll_sketch_agg`` shuffles one sketch per
    (type, day) group; ``hll_union_agg`` merges the handful of daily
    sketches per type.  Approximate by construction ⇒ rows-only driver
    check; the test suite bounds the estimate against exact
    countDistinct (HLL++ at lgConfigK=12 is ~2% rsd)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count("*").alias("n_events"),
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("n_events").alias("n_events"),
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users"),
        )
    )


def events_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-based scale path for events_summary/events_percentiles:
    HLL++ distinct counts and t-digest percentiles — bounded memory at any
    cardinality, mergeable across partitions (one narrow shuffle of
    sketches instead of a sort).  Approximate by construction, so no
    value-exact oracle: the driver records a rows-only check, and the
    test suite asserts tolerance against the exact operators."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10_000).alias("approx_p50"),
        F.percentile_approx("value", 0.99, 10_000).alias("approx_p99"),
    )


def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the third grouping-set shape beside
    ``events_rollup`` and ``events_cube``: exactly ((event_type, day),
    (day)), a set combination neither ROLLUP nor CUBE produces (no
    (event_type) slice, no grand total).  Expressed through the SQL
    surface because the DataFrame API only exposes the rollup/cube
    sugar; the plan is the same single Expand+Aggregate, with the
    Expand factor 2 (one replica per grouping set) — still one shuffle,
    linear in input, exactly like cube/rollup at 100 TB.

    Exact aggregates only (count / countDistinct / min / max — float SUM
    would be partial-order-dependent, the events_rollup parity rule)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id", "value"
    )
    ev.createOrReplaceTempView("_events_gs_src")
    return spark.sql(
        """
        select event_type, day,
               cast(grouping_id(event_type, day) as bigint) as gid,
               count(*) as n_events,
               count(distinct user_id) as n_users,
               min(value) as min_value,
               max(value) as max_value
        from _events_gs_src
        group by grouping sets ((event_type, day), (day))
        """
    )


def events_session_overlap(
    spark: SparkSession, sf_dir: str, gap_minutes: int = SESSION_GAP_MINUTES
) -> DataFrame:
    """Interval-overlap join: per user, browse sessions (view/click
    events) overlapped against converting sessions (purchase events) —
    the interval×interval join shape (asof = point×point, range_join =
    point×interval; this completes the family), answering "which browse
    activity was concurrent with a purchase run".

    Each side sessionizes independently with the shared lag/cumsum frame
    (one shuffle each, same user_id key) down to session grain — per-user
    session counts are small, so the overlap join is an equi-join on
    user_id with the interval predicate (a.start ≤ b.end ∧ b.start ≤
    a.end) applied as a join-ON residual: Spark plans SortMergeJoin on
    user_id with the band filter inline, never a cartesian.  Overlap
    length is exact integer epoch-micros arithmetic (hash-stable).

    Output: (user_id, b_start, b_end, c_start, c_end, overlap_us)."""
    def sessions(types: tuple[str, ...], prefix: str) -> DataFrame:
        ev = (
            read_table(spark, sf_dir, "events")
            .filter(F.col("event_type").isin(*types))
            .select("event_id", "ts", "user_id")
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        sec = epoch_seconds(F.col("ts"))
        gap_flag = (sec - F.lag(sec).over(w) > gap_minutes * 60).cast("int")
        return (
            ev.withColumn("new_sess", F.coalesce(gap_flag, F.lit(0)))
            .withColumn(
                "sno",
                F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            )
            .groupBy("user_id", "sno")
            .agg(
                F.min("ts").alias(f"{prefix}_start"),
                F.max("ts").alias(f"{prefix}_end"),
            )
            .drop("sno")
        )

    browse = sessions(("view", "click"), "b")
    convert = sessions(("purchase",), "c")
    joined = browse.join(convert, "user_id").filter(
        (F.col("b_start") <= F.col("c_end")) & (F.col("c_start") <= F.col("b_end"))
    )
    overlap = epoch_micros(F.least("b_end", "c_end")) - epoch_micros(
        F.greatest("b_start", "c_start")
    )
    return joined.select(
        "user_id", "b_start", "b_end", "c_start", "c_end",
        overlap.alias("overlap_us"),
    )


def events_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type lower median of ``value`` — the order-statistic
    aggregate (events_percentiles covers approx percentiles; this is the
    exact form, with a deterministic lower-median rule: the value at
    1-based position ⌈n/2⌉ of the value-sorted group).

    One shuffle + one per-key sort: row_number and the group count ride
    the same (event_type) partitioning, and the pick is a conditional
    aggregate — no second pass, no collect.  At 100 TB exact medians per
    key cost exactly this one sort; the approximate sketch is the cheap
    alternative when the sort is too much.

    Output: (event_type, n, median_value)."""
    ev = read_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type"))
    )
    return ranked.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2)).select(
        "event_type", F.col("n").cast("long").alias("n"), F.col("value").alias("median_value")
    )


def events_session_cooccurrence(
    spark: SparkSession, sf_dir: str, gap_minutes: int = SESSION_GAP_MINUTES
) -> DataFrame:
    """Market-basket co-occurrence over sessions: for every unordered
    pair of event types, in how many sessions do BOTH occur, with
    support (share of all sessions) and lift (observed co-occurrence vs
    independence) — association mining, the remaining classic analytics
    family (sequence analytics is events_markov, funnels are ordered;
    this is unordered co-presence).

    Plan: the same single-shuffle sessionization as events_sessionize,
    reduced to the distinct (user, session, type) item set — session
    grain, ≤ |types| rows per session — then a self-join on the session
    key whose fan-out is bounded by |types|²/2 per session, never by
    session length.  The per-type counts and the session total are
    |types|+1 rows, broadcast back.  Lift is computed in double
    multiplication order identical to the oracle (products can exceed
    int64 at corpus scale, so both engines cast first).

    Output: (type_a, type_b, n_both, support, lift)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = epoch_seconds(F.col("ts"))
    gap_flag = (sec - F.lag(sec).over(w) > gap_minutes * 60).cast("int")
    items = (
        ev.withColumn("new_sess", F.coalesce(gap_flag, F.lit(0)))
        .withColumn(
            "session_no",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select("user_id", "session_no", "event_type")
        .distinct()
    )
    sessions = items.select("user_id", "session_no").distinct()
    total = sessions.agg(F.count("*").alias("n_sessions"))
    per_type = items.groupBy("event_type").agg(F.count("*").alias("n_type"))
    a = items.select(
        "user_id", "session_no", F.col("event_type").alias("type_a")
    )
    b = items.select(
        "user_id", "session_no", F.col("event_type").alias("type_b")
    )
    pairs = (
        a.join(b, ["user_id", "session_no"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    na = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_type").alias("n_a")
    )
    nb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_type").alias("n_b")
    )
    enriched = (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .join(F.broadcast(total))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return enriched.select(
        "type_a",
        "type_b",
        "n_both",
        (d("n_both") / d("n_sessions")).alias("support"),
        ((d("n_both") * d("n_sessions")) / (d("n_a") * d("n_b"))).alias("lift"),
    )


PATH_LEN = 3
PATH_TOP_K = 10


def events_session_paths(
    spark: SparkSession,
    sf_dir: str,
    gap_minutes: int = SESSION_GAP_MINUTES,
    path_len: int = PATH_LEN,
    k: int = PATH_TOP_K,
) -> DataFrame:
    """Top-k session PATHS — the first ``path_len`` event types of each
    session joined into a path string, ranked by how many sessions open
    that way: sequence mining one level up from the pairwise Markov
    matrix (events_markov models one step; this surfaces the common
    multi-step openings product teams read as user intents).

    Plan: the shared single-shuffle sessionization, then one groupBy
    (user, session) whose aggregate carries ordered (ts, event_id, type)
    structs ONLY until the path string is cut — the collect_list is
    bounded by session length, and the path table that reaches the
    ranking window is |distinct paths| rows (≤ |types|^path_len), tiny
    at any corpus size.  Total-order tie-breaks everywhere make top-k
    deterministic.

    Output: (rank, path, n_sessions)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = epoch_seconds(F.col("ts"))
    gap_flag = (sec - F.lag(sec).over(w) > gap_minutes * 60).cast("int")
    sessions = (
        ev.withColumn("new_sess", F.coalesce(gap_flag, F.lit(0)))
        .withColumn(
            "session_no",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_no")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.collect_list(F.struct("ts", "event_id", "event_type"))
                        ),
                        1,
                        path_len,
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    counts = sessions.groupBy("path").agg(F.count("*").alias("n_sessions"))
    rank = F.row_number().over(Window.orderBy(F.desc("n_sessions"), F.col("path")))
    return (
        counts.withColumn("rank", rank)
        .filter(F.col("rank") <= k)
        .select("rank", "path", "n_sessions")
    )


def events_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranking-window classes in one pass: per event type
    ordered by value DESC — ``dense_rank`` (leaderboard position without
    gaps), ``percent_rank`` ((rank−1)/(n−1)), and ``cume_dist``
    (fraction ≤ this row) — row_number, rank-with-tie-break, and ntile
    are exercised by top-k/quartiles; these three complete the family.

    Ties are deliberately NOT broken: all three functions are
    SET-deterministic (they depend only on the value multiset, not on
    row order within a tie), which is exactly the semantics under test —
    and why the oracle hash matches without a tie-break column.  One
    shuffle, one per-key sort, all three functions ride the same frame.

    Output: (event_id, event_type, value, d_rank, pct_rank, cume) at
    log grain."""
    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"))
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.dense_rank().over(w).cast("long").alias("d_rank"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def events_bounce_rate(
    spark: SparkSession, sf_dir: str, gap_minutes: int = SESSION_GAP_MINUTES
) -> DataFrame:
    """Daily bounce rate: share of sessions STARTING each day that
    contain exactly one event — the engagement-quality companion to
    session counts (a spike in sessions with a bounce-rate spike is bot
    traffic, not growth).

    Built on the shared one-shuffle sessionization at session grain:
    sessions aggregate to (start day, n_events), then one tiny daily
    aggregate.  Exact integer counts, one IEEE division.

    Output: (day, n_sessions, n_bounces, bounce_rate)."""
    sess = events_sessionize(spark, sf_dir, gap_minutes=gap_minutes)
    daily = sess.select(
        F.to_date("session_start").alias("day"),
        (F.col("n_events") == 1).cast("long").alias("is_bounce"),
    )
    agg = daily.groupBy("day").agg(
        F.count("*").alias("n_sessions"), F.sum("is_bounce").alias("n_bounces")
    )
    return agg.select(
        "day",
        "n_sessions",
        F.col("n_bounces").cast("long").alias("n_bounces"),
        (F.col("n_bounces") / F.col("n_sessions")).alias("bounce_rate"),
    )


KMV_K = 64                # sketch size; rel. std. error ≈ 1/√(k−2) ≈ 13%
KMV_SPACE = 1 << 60       # portable_hash60's range


def events_kmv_distinct(
    spark: SparkSession, sf_dir: str, k: int = KMV_K
) -> DataFrame:
    """K-Minimum-Values distinct-count sketch with a TWO-LEVEL MERGE —
    the mergeable cardinality sketch (Bar-Yossef et al., RANDOM'02;
    the θ-sketch family's simplest member) built the way a 100 TB
    pipeline would: per-(event_type, day) partials first, then a rollup
    merge per event_type.  Merging KMV partials is lossless for the
    final sketch: every hash in the global k-minimum set is also in its
    own day's k-minimum set, so union-then-retake-k equals the sketch
    of the union — the property that lets daily partial tables roll up
    to any coarser grain without touching raw data again.

    Like the CMS twin, fixed hashing (``portable_hash60``) makes the
    sketch fully deterministic, so the oracle reproduces the registers
    bit-for-bit and the estimate exactly — KMV needs one window and
    one division (``events_hll_distinct`` below does the heavier
    engine-matched register math for the deployed-at-scale sketch).
    Estimate: exact n while the type holds < k distinct hashes, else
    (k−1)·2⁶⁰ / h₍ₖ₎.  The true distinct count rides along so the
    sketch error is visible (and tolerance-tested).

    Scale shape: the only corpus-sized steps are the distinct and the
    per-(type, day) window, both partitioned fine-grained; everything
    after operates on ≤ k rows per (type, day).  Output: (event_type,
    n_kept, kth_hash, est_distinct_users, exact_distinct_users)."""
    from ..functions.hashing import portable_hash60

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        portable_hash60(F.col("user_id")).alias("h"),
    )
    w_day = Window.partitionBy("event_type", "day").orderBy("h")
    partials = (
        ev.distinct()
        .withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") <= k)
        .select("event_type", "h")
    )
    w_type = Window.partitionBy("event_type").orderBy("h")
    merged = (
        partials.distinct()  # a user active on many days appears once
        .withColumn("rn", F.row_number().over(w_type))
        .filter(F.col("rn") <= k)
    )
    sk = merged.groupBy("event_type").agg(
        F.count("*").alias("n_kept"), F.max("h").alias("kth_hash")
    )
    # (k−1)·2⁶⁰ exceeds int64 — carried as an exactly-representable
    # double literal; the estimate is one IEEE division in both engines
    numer = float((k - 1) * KMV_SPACE)
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(F.lit(numer) / F.col("kth_hash"))
    exact = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct_users"))
    )
    return (
        sk.join(exact, "event_type")
        .select(
            "event_type",
            "n_kept",
            "kth_hash",
            est.alias("est_distinct_users"),
            "exact_distinct_users",
        )
    )


def events_hll_set_ops(
    spark: SparkSession, sf_dir: str, include_exact: bool = True
) -> DataFrame:
    """HLL SET OPERATIONS: estimated audience union and intersection for
    every event-type pair by INCLUSION-EXCLUSION over register-max
    merges — the deployed-at-scale sibling of ``events_kmv_set_ops``
    (same question, answered from 256-register HLL sketches instead of
    k-min sets; ~6.5% rse vs KMV's 13% at the configured sizes).

    The union sketch is exactly the register-wise max of the two types'
    registers (the HLL merge theorem — the union estimate is what a
    roll-up of persisted per-type register tables would produce without
    touching raw data); intersection has no native HLL form, so the
    standard inclusion-exclusion est_a + est_b − est_union applies,
    clamped at zero (the estimator can go negative for near-disjoint
    sets — a documented property, not an error; with the default
    ``include_exact=True`` the exact intersection rides along so the
    error is visible).

    ``include_exact`` gates that validation rider EXPLICITLY: the exact
    column is a corpus-scale distinct + self-join — the very work the
    sketch path exists to avoid — so the 100 TB deployment shape is
    ``include_exact=False`` (registers-only; no second corpus scan).
    The default stays True because the test-SF oracle checks the exact
    column (round-8 advice).

    Determinism: registers are integer-exact and bit-identical
    cross-engine (the events_hll_distinct math); every estimate is the
    same fixed-order expression; the inclusion-exclusion combine is
    parenthesized identically in the oracle.

    Scale shape: corpus-sized work is the distinct and the per-(type,
    bucket) max with full map-side combine; the pair report operates on
    ≤ 256 registers per type and a |types|² spine.  Output: (type_a,
    type_b, union_zero_regs, union_reg_sum_e61, est_a, est_b,
    est_union, est_intersection, exact_intersection)."""
    from ..functions.hashing import portable_hash60

    ev = (
        read_table(spark, sf_dir, "events")
        .select("event_type", portable_hash60(F.col("user_id")).alias("h"))
        .distinct()
    )
    b = ev.select(
        "event_type",
        F.shiftright(F.col("h"), HLL_W_BITS).alias("bucket"),
        F.col("h").bitwiseAND(F.lit((1 << HLL_W_BITS) - 1)).alias("w"),
    )
    reg = (
        b.groupBy("event_type", "bucket")
        .agg(F.max(_hll_rho(F.col("w"))).alias("m"))
        .persist()
    )
    try:
        reg.count()
        return _hll_set_ops_tail(spark, sf_dir, reg, include_exact)
    finally:
        reg.unpersist()


def _hll_set_ops_tail(
    spark: SparkSession,
    sf_dir: str,
    reg: DataFrame,
    include_exact: bool = True,
) -> DataFrame:
    """The pair union/inclusion-exclusion math over prepared (event_type,
    bucket, m) HLL registers — shared by the batch build above and the
    streaming fold (streaming/sketch.py:stream_events_hll_set_ops),
    whose register-wise max merge is lossless and must therefore produce
    the identical report (same oracle)."""
    two61 = 1 << 61
    shift_sum = F.sum(
        F.expr(
            "cast(shiftleft(cast(1 as bigint), cast(61 - m as int))"
            " as decimal(38,0))"
        )
    ).alias("s_present")

    def sketch(df: DataFrame, keys: list[str]) -> DataFrame:
        agg = df.groupBy(*keys).agg(
            F.count("*").alias("n_present"), shift_sum
        )
        v = F.lit(HLL_M) - F.col("n_present")
        s = (
            F.col("s_present")
            + v.cast("decimal(38,0)") * F.lit(two61).cast("decimal(38,0)")
        ).cast("decimal(38,0)")
        return agg.select(
            *keys,
            v.cast("long").alias("nz"),
            s.cast("double").alias("rs"),
        )

    per_type = sketch(reg, ["event_type"]).select(
        "event_type", _hll_est(F.col("nz"), F.col("rs")).alias("est_t")
    )
    spine = (
        per_type.select(
            F.col("event_type").alias("type_a"), F.col("est_t").alias("est_a")
        )
        .crossJoin(
            F.broadcast(
                per_type.select(
                    F.col("event_type").alias("type_b"),
                    F.col("est_t").alias("est_b"),
                )
            )
        )
        .filter(F.col("type_a") < F.col("type_b"))
    )
    union_regs = (
        spine.select("type_a", "type_b")
        .join(reg.withColumnRenamed("event_type", "type_a"), "type_a")
        .select("type_a", "type_b", "bucket", "m")
        .unionByName(
            spine.select("type_a", "type_b")
            .join(reg.withColumnRenamed("event_type", "type_b"), "type_b")
            .select("type_a", "type_b", "bucket", "m")
        )
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("m").alias("m"))
    )
    union_sk = sketch(union_regs, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        F.col("nz").alias("union_zero_regs"),
        F.col("rs").alias("union_reg_sum_e61"),
        _hll_est(F.col("nz"), F.col("rs")).alias("est_union"),
    )
    est_cols = [
        "type_a",
        "type_b",
        "union_zero_regs",
        "union_reg_sum_e61",
        "est_a",
        "est_b",
        "est_union",
        F.greatest(
            F.lit(0.0), (F.col("est_a") + F.col("est_b")) - F.col("est_union")
        ).alias("est_intersection"),
    ]
    joined = spine.join(union_sk, ["type_a", "type_b"])
    if include_exact:
        tu = (
            read_table(spark, sf_dir, "events")
            .select("event_type", "user_id")
            .distinct()
        )
        exact = (
            tu.select(F.col("event_type").alias("type_a"), "user_id")
            .join(
                tu.select(F.col("event_type").alias("type_b"), "user_id"),
                "user_id",
            )
            .filter(F.col("type_a") < F.col("type_b"))
            .groupBy("type_a", "type_b")
            .agg(F.count("*").alias("exact_intersection"))
        )
        joined = joined.join(exact, ["type_a", "type_b"], "left")
        est_cols.append(
            F.coalesce("exact_intersection", F.lit(0)).alias(
                "exact_intersection"
            )
        )
    return joined.select(*est_cols).localCheckpoint(eager=True)


def events_kmv_set_ops(
    spark: SparkSession, sf_dir: str, k: int = KMV_K, include_exact: bool = True
) -> DataFrame:
    """Theta-sketch SET OPERATIONS over the per-type KMV sketches:
    estimated audience INTERSECTION / UNION / Jaccard for every
    event-type pair — the production ask the plain cardinality sketch
    (``events_kmv_distinct``) stops short of ("how many users both
    viewed and purchased?", audience-overlap planning), answered from
    k-sized sketches without re-touching raw data.

    The theta-sketch estimator (Dasgupta et al., "Theta-Sketch
    Framework"): for a pair, theta = min(theta_A, theta_B) where a
    type's theta is its k-th smallest hash (or the full 2⁶⁰ space while
    it holds < k distinct users — the sketch is still the exact set).
    Every retained hash below theta is a uniform 1-in-(SPACE/theta)
    sample of the underlying set, so |{S_A ∩ S_B} < theta| · SPACE/theta
    estimates the true intersection; union likewise; Jaccard is the
    ratio of the two sample counts (one division).  Exact-regime
    consistency: below k, theta = SPACE and every estimate collapses to
    the exact count — no branch needed.

    Determinism: ``portable_hash60`` makes sketch contents bit-exact
    cross-engine (the KMV twin's property); estimates are single
    fixed-order IEEE ops over integers, so the oracle reproduces them
    exactly.  With the default ``include_exact=True`` the true
    intersection rides along so sketch error is visible; pass False for
    the registers-only plan — the exact column is a corpus-scale
    distinct + self-join (the work the sketch exists to avoid), so the
    100 TB deployment shape omits it (round-8 advice).

    Scale shape: the only corpus-sized steps are the distinct and the
    per-type k-min window; everything downstream operates on ≤ k rows
    per type and a |types|² pair spine (enum-grain — the lint-rule-5
    allow-listed tiny crossJoin).  At 100 TB the per-type sketches are
    persisted partial tables and every pairwise overlap query reads
    ≤ 2k rows.  Output: (type_a, type_b, theta, n_inter_sample,
    n_union_sample, est_intersection, est_union, est_jaccard,
    exact_intersection)."""
    from ..functions.hashing import portable_hash60

    ev = (
        read_table(spark, sf_dir, "events")
        .select("event_type", portable_hash60(F.col("user_id")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    kept = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    kept = kept.select("event_type", "h").persist()
    try:
        kept.count()
        return _kmv_set_ops_tail(spark, sf_dir, kept, k, include_exact)
    finally:
        kept.unpersist()


def _kmv_set_ops_tail(
    spark: SparkSession,
    sf_dir: str,
    kept: DataFrame,
    k: int,
    include_exact: bool = True,
) -> DataFrame:
    """The pair-overlap math over prepared (event_type, h) KMV
    registers — shared by the batch build above and the streaming fold
    (streaming/sketch.py:stream_events_kmv_set_ops), which drains the
    SAME registers via the lossless union-and-retake merge and must
    therefore produce the identical report (same oracle)."""
    th = kept.groupBy("event_type").agg(
        F.count("*").alias("n_kept"), F.max("h").alias("kth")
    ).select(
        "event_type",
        F.when(F.col("n_kept") >= k, F.col("kth"))
        .otherwise(F.lit(KMV_SPACE).cast("long"))
        .alias("theta_t"),
    )
    spine = (
        th.select(F.col("event_type").alias("type_a"), F.col("theta_t").alias("ta"))
        .crossJoin(
            F.broadcast(
                th.select(
                    F.col("event_type").alias("type_b"),
                    F.col("theta_t").alias("tb"),
                )
            )
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .select("type_a", "type_b", F.least("ta", "tb").alias("theta"))
    )
    inter = (
        kept.select(F.col("event_type").alias("type_a"), "h")
        .join(kept.select(F.col("event_type").alias("type_b"), "h"), "h")
        .filter(F.col("type_a") < F.col("type_b"))
        .join(F.broadcast(spine), ["type_a", "type_b"])
        .filter(F.col("h") < F.col("theta"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_inter_sample"))
    )
    uni = (
        spine.join(
            kept.withColumnRenamed("event_type", "type_a"), "type_a"
        )
        .select("type_a", "type_b", "theta", "h")
        .unionByName(
            spine.join(
                kept.withColumnRenamed("event_type", "type_b"), "type_b"
            ).select("type_a", "type_b", "theta", "h")
        )
        .filter(F.col("h") < F.col("theta"))
        .select("type_a", "type_b", "h")
        .distinct()
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_union_sample"))
    )
    space = float(KMV_SPACE)
    scale = F.lit(space) / F.col("theta")  # bigint->double promotion, one division
    est_cols = [
        "type_a",
        "type_b",
        "theta",
        F.coalesce("n_inter_sample", F.lit(0)).alias("n_inter_sample"),
        F.coalesce("n_union_sample", F.lit(0)).alias("n_union_sample"),
        (F.coalesce("n_inter_sample", F.lit(0)).cast("double") * scale).alias(
            "est_intersection"
        ),
        (F.coalesce("n_union_sample", F.lit(0)).cast("double") * scale).alias(
            "est_union"
        ),
        F.when(
            F.coalesce("n_union_sample", F.lit(0)) > 0,
            F.coalesce("n_inter_sample", F.lit(0))
            / F.coalesce("n_union_sample", F.lit(0)),
        ).alias("est_jaccard"),
    ]
    joined = spine.join(inter, ["type_a", "type_b"], "left").join(
        uni, ["type_a", "type_b"], "left"
    )
    if include_exact:
        tu = (
            read_table(spark, sf_dir, "events")
            .select("event_type", "user_id")
            .distinct()
        )
        exact = (
            tu.select(F.col("event_type").alias("type_a"), "user_id")
            .join(
                tu.select(F.col("event_type").alias("type_b"), "user_id"),
                "user_id",
            )
            .filter(F.col("type_a") < F.col("type_b"))
            .groupBy("type_a", "type_b")
            .agg(F.count("*").alias("exact_intersection"))
        )
        joined = joined.join(exact, ["type_a", "type_b"], "left")
        est_cols.append(
            F.coalesce("exact_intersection", F.lit(0)).alias("exact_intersection")
        )
    return joined.select(*est_cols).localCheckpoint(eager=True)


def events_kmv_anotb(
    spark: SparkSession, sf_dir: str, k: int = KMV_K, include_exact: bool = True
) -> DataFrame:
    """Theta-sketch A-NOT-B: estimated DIRECTIONAL audience difference
    (users who did A but never B, and vice versa) for every event-type
    pair — the third operation of the theta-sketch set algebra
    (union/intersection are ``events_kmv_set_ops``), and the production
    "reach exclusion" ask (suppression lists, incremental-audience
    sizing) answered from k-sized sketches without re-touching raw data.

    Estimator validity: for a pair, theta = min(theta_A, theta_B).  Any
    hash below theta that belongs to the true B set MUST appear in B's
    retained k-min set (theta ≤ theta_B), so "h < theta and h not in
    sketch_B" decides true non-membership exactly on the sample — the
    anti-join needs only the two sketches.  |{h ∈ S_A : h < theta,
    h ∉ S_B}| · SPACE/theta estimates |A∖B|; the reverse direction
    likewise.  Below k both thetas are the full space and the estimates
    collapse to the exact difference (the set-ops twin's no-branch
    exact-regime property).

    Determinism: same ``portable_hash60`` registers as the KMV twins;
    estimates are one integer-count cast times one fixed-order division.
    ``include_exact`` gates the validation riders (exact per-direction
    differences, derived as |A| − |A∩B| from one distinct scan — no
    second corpus self-join beyond the set-ops rider's); the 100 TB
    deployment shape is ``include_exact=False`` (registers only).

    Scale shape: corpus-sized work is the distinct + per-type k-min
    window; the report operates on ≤ k rows per type over a broadcast
    |types|² spine.  Output: (type_a, type_b, theta, n_a_not_b,
    n_b_not_a, est_a_not_b, est_b_not_a[, exact_a_not_b,
    exact_b_not_a])."""
    from ..functions.hashing import portable_hash60

    ev = (
        read_table(spark, sf_dir, "events")
        .select("event_type", portable_hash60(F.col("user_id")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    kept = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    kept = kept.select("event_type", "h").persist()
    try:
        kept.count()
        return _kmv_anotb_tail(spark, sf_dir, kept, k, include_exact)
    finally:
        kept.unpersist()


def _kmv_anotb_tail(
    spark: SparkSession,
    sf_dir: str,
    kept: DataFrame,
    k: int,
    include_exact: bool = True,
) -> DataFrame:
    """The directional-difference math over prepared (event_type, h) KMV
    registers — shared by the batch build and the streaming fold
    (streaming/sketch.py:stream_events_kmv_anotb), which drains the SAME
    registers losslessly and must produce the identical report."""
    th = kept.groupBy("event_type").agg(
        F.count("*").alias("n_kept"), F.max("h").alias("kth")
    ).select(
        "event_type",
        F.when(F.col("n_kept") >= k, F.col("kth"))
        .otherwise(F.lit(KMV_SPACE).cast("long"))
        .alias("theta_t"),
    )
    spine = (
        th.select(F.col("event_type").alias("type_a"), F.col("theta_t").alias("ta"))
        .crossJoin(
            F.broadcast(
                th.select(
                    F.col("event_type").alias("type_b"),
                    F.col("theta_t").alias("tb"),
                )
            )
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .select("type_a", "type_b", F.least("ta", "tb").alias("theta"))
    )

    def diff_counts(src_col: str, other_col: str, alias: str) -> DataFrame:
        sample = (
            spine.join(kept.withColumnRenamed("event_type", src_col), src_col)
            .filter(F.col("h") < F.col("theta"))
            .join(
                kept.select(
                    F.col("event_type").alias(other_col), F.col("h")
                ),
                [other_col, "h"],
                "left_anti",
            )
        )
        return sample.groupBy("type_a", "type_b").agg(F.count("*").alias(alias))

    anb = diff_counts("type_a", "type_b", "n_a_not_b")
    bna = diff_counts("type_b", "type_a", "n_b_not_a")
    space = float(KMV_SPACE)
    scale = F.lit(space) / F.col("theta")
    est_cols = [
        "type_a",
        "type_b",
        "theta",
        F.coalesce("n_a_not_b", F.lit(0)).alias("n_a_not_b"),
        F.coalesce("n_b_not_a", F.lit(0)).alias("n_b_not_a"),
        (F.coalesce("n_a_not_b", F.lit(0)).cast("double") * scale).alias(
            "est_a_not_b"
        ),
        (F.coalesce("n_b_not_a", F.lit(0)).cast("double") * scale).alias(
            "est_b_not_a"
        ),
    ]
    joined = spine.join(anb, ["type_a", "type_b"], "left").join(
        bna, ["type_a", "type_b"], "left"
    )
    if include_exact:
        tu = (
            read_table(spark, sf_dir, "events")
            .select("event_type", "user_id")
            .distinct()
        )
        per_type = tu.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n_exact")
        )
        inter = (
            tu.select(F.col("event_type").alias("type_a"), "user_id")
            .join(
                tu.select(F.col("event_type").alias("type_b"), "user_id"),
                "user_id",
            )
            .filter(F.col("type_a") < F.col("type_b"))
            .groupBy("type_a", "type_b")
            .agg(F.count("*").alias("n_inter"))
        )
        joined = (
            joined.join(
                F.broadcast(
                    per_type.select(
                        F.col("event_type").alias("type_a"),
                        F.col("n_exact").alias("na_exact"),
                    )
                ),
                "type_a",
            )
            .join(
                F.broadcast(
                    per_type.select(
                        F.col("event_type").alias("type_b"),
                        F.col("n_exact").alias("nb_exact"),
                    )
                ),
                "type_b",
            )
            .join(inter, ["type_a", "type_b"], "left")
        )
        est_cols.append(
            (F.col("na_exact") - F.coalesce("n_inter", F.lit(0))).alias(
                "exact_a_not_b"
            )
        )
        est_cols.append(
            (F.col("nb_exact") - F.coalesce("n_inter", F.lit(0))).alias(
                "exact_b_not_a"
            )
        )
    return joined.select(*est_cols).localCheckpoint(eager=True)


ATTRIBUTION_WINDOW_DAYS = 7
ATTRIBUTION_TOUCH_TYPES = ("view", "click", "signup")


def events_attribution_linear(
    spark: SparkSession, sf_dir: str, window_days: int = ATTRIBUTION_WINDOW_DAYS
) -> DataFrame:
    """Multi-touch LINEAR attribution: every purchase splits one unit of
    credit equally across the user's touch events (view/click/signup)
    in the ``window_days`` at-or-before it — the standard equal-weight
    alternative to the last-touch rule ``events_asof_purchase_click``
    encodes (as-of = 100% credit to the latest touch).

    Exactness: per-purchase touch counts are integers; each touch's
    credit is the single IEEE division 1/n, and the per-type credit sum
    carries ordering noise ~6 orders of magnitude under the 6-dp hash
    rounding.  Window bounds are integer
    epoch-micros comparisons (strictly-after lower bound, inclusive
    upper — pinned by the planted test).

    Scale shape: the touch⋈purchase join is equi on user_id with a
    time-band residual (never cartesian); the per-purchase count is a
    |purchases|-grain window after the join has already narrowed to
    in-window touches.  Purchases with no in-window touch drop out (no
    credit to assign).  Output: (event_type, n_touches,
    attributed_purchases)."""
    ev = read_table(spark, sf_dir, "events")
    us = epoch_micros(F.col("ts"))
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("pu"),
        us.alias("pus"),
    )
    touch = ev.filter(
        F.col("event_type").isin(*ATTRIBUTION_TOUCH_TYPES)
    ).select("user_id", "event_type", us.alias("tus"))
    win_us = window_days * 86_400_000_000
    j = purch.join(
        touch,
        (F.col("pu") == F.col("user_id"))
        & (F.col("tus") <= F.col("pus"))
        & (F.col("tus") > F.col("pus") - F.lit(win_us)),
    )
    w = Window.partitionBy("pid")
    credited = j.withColumn("np", F.count("*").over(w))
    return (
        credited.groupBy("event_type")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum(F.lit(1.0) / F.col("np")).alias("attributed_purchases"),
        )
    )


def events_attribution_time_decay(
    spark: SparkSession, sf_dir: str, window_days: int = ATTRIBUTION_WINDOW_DAYS
) -> DataFrame:
    """Multi-touch TIME-DECAY attribution: each purchase's unit of
    credit splits across its in-window touches proportionally to
    2^(−age_days) — recent touches earn exponentially more, the third
    member of the standard attribution trio (last-touch =
    ``events_asof_purchase_click``, equal-weight =
    ``events_attribution_linear``) with the conventional halving-per-day
    schedule.

    Exactness (the repo's dyadic discipline, cf. EWMA/Holt): age is an
    integer floor-division of the epoch-micros gap; the weight is
    1 / (1::bigint << age) — an exact power of two (never libm ``pow``,
    which is not required correctly rounded) — and the per-purchase
    weight total is a sum of dyadic rationals on a 2^−(window−1) grid,
    exact in a double in ANY summation order.  Each touch's credit is
    then ONE correctly-rounded IEEE division of two exact values, so
    only the final per-type credit sum carries ordering noise, ~6
    orders of magnitude under the 6-dp hash rounding (the linear twin's
    argument).

    Scale shape: identical to the linear form — user-equi join with a
    time-band residual, per-purchase window over already-narrowed
    touches.  Output: (event_type, n_touches, attributed_purchases)."""
    ev = read_table(spark, sf_dir, "events")
    us = epoch_micros(F.col("ts"))
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("pu"),
        us.alias("pus"),
    )
    touch = ev.filter(
        F.col("event_type").isin(*ATTRIBUTION_TOUCH_TYPES)
    ).select("user_id", "event_type", us.alias("tus"))
    win_us = window_days * 86_400_000_000
    j = purch.join(
        touch,
        (F.col("pu") == F.col("user_id"))
        & (F.col("tus") <= F.col("pus"))
        & (F.col("tus") > F.col("pus") - F.lit(win_us)),
    )
    age = F.floor((F.col("pus") - F.col("tus")) / F.lit(86_400_000_000))
    weight = F.lit(1.0) / F.expr(
        "shiftleft(cast(1 as bigint), cast(age_days as int))"
    )
    w = Window.partitionBy("pid")
    credited = (
        j.withColumn("age_days", age)
        .withColumn("wt", weight)
        .withColumn("wsum", F.sum("wt").over(w))
    )
    return credited.groupBy("event_type").agg(
        F.count("*").alias("n_touches"),
        F.sum(F.col("wt") / F.col("wsum")).alias("attributed_purchases"),
    )


HLL_P = 8                       # 2^8 = 256 registers; rse ≈ 1.04/√m ≈ 6.5%
HLL_M = 1 << HLL_P
HLL_W_BITS = 60 - HLL_P         # suffix bits feeding the rank
# Flajolet et al. 2007 bias constant for m ≥ 128, evaluated once in
# Python so BOTH engines inline the identical double literal
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# est = alpha·m² / Σ2^(−M_j); with the register sum carried as the
# exact integer Σ2^(61−M_j), the numerator becomes alpha·m²·2^61 —
# a power-of-two scaling of alpha, so still one rounding total
HLL_EST_NUMER = HLL_ALPHA * HLL_M * HLL_M * 2.0**61


def _hll_rho(w):
    """Rank of a suffix: trailing zeros + 1 (w = 0 ⇒ all-zero suffix,
    rank = width + 1).  Trailing — not the textbook leading — zeros
    because they are computable EXACTLY in integer arithmetic in both
    engines: t = w & −w isolates the lowest set bit as an exact power
    of two, and round(log2(t)) recovers its exponent safely (log2 of
    an exact power of two lands within ulps of the integer, and round
    — unlike the floor the leading-zero form needs — cannot be pushed
    across a boundary by libm error).  The suffix bits are iid fair
    coins, so the trailing-geometric observable has exactly the
    distribution HLL's analysis assumes."""
    t = w.bitwiseAND(-w)
    return (
        F.when(w == 0, F.lit(HLL_W_BITS + 1))
        .otherwise(F.round(F.log2(t.cast("double"))).cast("long") + 1)
        .cast("long")
    )


def _hll_est(nz, rs):
    """The HLL estimate expression over (n_zero_regs, reg_sum_e61-as-
    double): raw harmonic estimate with the standard small-range
    linear-counting branch — shared by the per-type sketch and the
    pairwise set-operation report (identical text in the oracles)."""
    raw = F.lit(HLL_EST_NUMER) / rs
    return F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (nz > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / nz),
    ).otherwise(raw)


def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch per event type with a TWO-LEVEL
    register merge — the third mergeable-sketch family (CMS counts
    frequencies, KMV was the simpler cardinality sketch; HLL is the one
    actually deployed at 100 TB: 256 registers ≈ 6.5% error vs KMV's
    13% at k = 64, with register-wise MAX as the merge).  Per-(type,
    day) register partials roll up by max — byte-for-byte the same
    sketch as a single global pass, the property that lets daily
    partial tables answer any coarser-grain cardinality question
    without rescanning raw data.

    Fully deterministic (the KMV twin's docstring deferred HLL for
    needing "engine-matched register math" — this IS that math):
    bucket = top 8 hash bits, rank = integer-exact trailing-zero form
    (``_hll_rho``), and the register sum Σ2^(61−M_j) is an exact
    DECIMAL(38,0) integer — order-independent, so cross-engine
    hash-parity holds.  The estimate is one IEEE division (plus the
    standard small-range linear-counting branch, whose ln() sits far
    inside the 6-dp hash rounding).  The true count rides along so the
    sketch error is visible.

    Scale shape: the only corpus-sized steps are the distinct and the
    per-(type, day, bucket) max — both fine-grained keys with full
    map-side combine; everything after operates on ≤ 256 rows per
    (type, day).  Output: (event_type, n_zero_regs, reg_sum_e61,
    est_distinct_users, exact_distinct_users)."""
    from ..functions.hashing import portable_hash60

    ev = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            portable_hash60(F.col("user_id")).alias("h"),
        )
        .distinct()
    )
    b = ev.select(
        "event_type",
        "day",
        F.shiftright(F.col("h"), HLL_W_BITS).alias("bucket"),
        F.col("h").bitwiseAND(F.lit((1 << HLL_W_BITS) - 1)).alias("w"),
    )
    daily = b.groupBy("event_type", "day", "bucket").agg(
        F.max(_hll_rho(F.col("w"))).alias("m_day")
    )
    reg = daily.groupBy("event_type", "bucket").agg(F.max("m_day").alias("m"))
    two61 = 1 << 61
    agg = reg.groupBy("event_type").agg(
        F.count("*").alias("n_present"),
        # SQL form: the python shiftleft wrapper requires a literal
        # shift amount, the underlying expression takes any int column
        F.sum(
            F.expr(
                "cast(shiftleft(cast(1 as bigint), cast(61 - m as int))"
                " as decimal(38,0))"
            )
        ).alias("s_present"),
    )
    v = F.lit(HLL_M) - F.col("n_present")
    s_e61 = (
        F.col("s_present") + v.cast("decimal(38,0)") * F.lit(two61).cast(
            "decimal(38,0)"
        )
    ).cast("decimal(38,0)")
    raw = F.lit(HLL_EST_NUMER) / F.col("reg_sum_e61").cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("n_zero_regs") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("n_zero_regs")),
    ).otherwise(raw)
    exact = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct_users"))
    )
    return (
        # the sum stays exact decimal through the math; the EXPORT is a
        # double (one correctly-rounded conversion, identical in both
        # engines — DuckDB hands >18-digit decimals to pandas as float64
        # anyway, so a decimal output column can never hash-match)
        agg.select(
            "event_type",
            v.cast("long").alias("n_zero_regs"),
            s_e61.cast("double").alias("reg_sum_e61"),
        )
        .withColumn("est_distinct_users", est)
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_zero_regs",
            "reg_sum_e61",
            "est_distinct_users",
            "exact_distinct_users",
        )
    )


BLOOM_M_BITS = 1 << 12          # 4096 bits = 128 32-bit words
BLOOM_K = 3                     # hash functions (seeded portable_hash60)
BLOOM_WORD_BITS = 32            # 32-bit words: 1<<31 stays in-range in
                                # both engines (1<<63 overflows bigint)


def events_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter build + membership evaluation — the join-pruning
    primitive a 100 TB pipeline ships to the probe side instead of the
    key set itself (the triangle counter's bloom-pruned closing-edge
    join uses Spark's internal one; this is the explicit, mergeable,
    oracle-checkable construction).

    Build set: users with an above-mean purchase count (integer-exact
    threshold cnt·n_users ≥ total — scale-free, ≈half the users at any
    SF).  The filter is ``BLOOM_M_BITS`` bits as 32-bit words built
    with bit_or — bitmaps merge by OR, so per-partition partials
    combine losslessly (the same mergeability story as the CMS/KMV/HLL
    sketches; words, not a single huge integer, so the state is a
    shuffle-friendly table).  Every user then probes: predicted member
    iff all ``BLOOM_K`` seeded-hash bits are set.  No false negatives
    — pinned in pytest — and the measured false-positive rate rides
    along (m, k chosen so it is visibly nonzero at test SFs).

    Scale shape: one user-grain aggregate; the filter is O(m) rows max
    regardless of corpus size; probes join the tiny word table
    (broadcast) — never the member set.  Output: one row (n_users,
    n_members, n_bits_set, n_predicted_members, n_false_positives,
    fp_rate)."""
    from ..functions.hashing import portable_hash60

    n_words_shift = 5  # log2(BLOOM_WORD_BITS)
    per_user = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("cnt")
        )
    )
    totals = per_user.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_users")
    )
    flagged = per_user.crossJoin(F.broadcast(totals)).withColumn(
        "is_member", F.col("cnt") * F.col("n_users") >= F.col("total")
    )
    flagged = flagged.persist()
    words = None
    try:

        def positions(col):
            return [
                portable_hash60(col, seed=i) % BLOOM_M_BITS
                for i in range(1, BLOOM_K + 1)
            ]

        member_pos = (
            flagged.filter("is_member")
            .select(
                F.explode(F.array(*positions(F.col("user_id")))).alias("pos")
            )
        )
        words = member_pos.groupBy(
            F.shiftright(F.col("pos"), n_words_shift).alias("word")
        ).agg(
            F.bit_or(
                F.expr(
                    f"shiftleft(cast(1 as bigint),"
                    f" cast(pos % {BLOOM_WORD_BITS} as int))"
                )
            ).alias("bits")
        )
        words = words.persist()

        probe = flagged.select("user_id", "is_member")
        for i in range(1, BLOOM_K + 1):
            p = portable_hash60(F.col("user_id"), seed=i) % BLOOM_M_BITS
            w = words.select(
                F.col("word").alias(f"w{i}"), F.col("bits").alias(f"b{i}")
            )
            probe = (
                probe.withColumn(f"pos{i}", p)
                .join(
                    F.broadcast(w),
                    F.shiftright(F.col(f"pos{i}"), n_words_shift)
                    == F.col(f"w{i}"),
                    "left",
                )
                .withColumn(
                    f"hit{i}",
                    F.coalesce(
                        F.expr(
                            f"(b{i} & shiftleft(cast(1 as bigint), cast(pos{i}"
                            f" % {BLOOM_WORD_BITS} as int))) != 0"
                        ),
                        F.lit(False),
                    ),
                )
                .drop(f"w{i}", f"b{i}", f"pos{i}")
            )
        predicted = F.col("hit1") & F.col("hit2") & F.col("hit3")
        stats = probe.agg(
            F.count("*").alias("n_users"),
            F.sum(F.when(F.col("is_member"), 1).otherwise(0)).alias("n_members"),
            F.sum(F.when(predicted, 1).otherwise(0)).alias("n_predicted_members"),
            F.sum(
                F.when(predicted & ~F.col("is_member"), 1).otherwise(0)
            ).alias("n_false_positives"),
        )
        bits_set = words.agg(F.sum(F.bit_count("bits")).alias("n_bits_set"))
        non_members = F.col("n_users") - F.col("n_members")
        # single-row report: pin it, then release both caches
        out = (
            stats.crossJoin(F.broadcast(bits_set))
            .select(
                "n_users",
                "n_members",
                "n_bits_set",
                "n_predicted_members",
                "n_false_positives",
                F.when(
                    non_members > 0,
                    F.col("n_false_positives") / non_members,
                ).otherwise(F.lit(0.0)).alias("fp_rate"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        flagged.unpersist()
        if words is not None:
            words.unpersist()



TRIM_PCT = 5  # percent trimmed/winsorized from EACH tail


def events_robust_mean(
    spark: SparkSession, sf_dir: str, trim_pct: int = TRIM_PCT
) -> DataFrame:
    """Robust per-type means of ``value``: the ``trim_pct``%-TRIMMED
    mean (drop each tail) and the WINSORIZED mean (clamp each tail to
    the boundary order statistic) — the outlier-resistant metric pair
    every metrics platform publishes next to the raw mean (a single
    corrupt 1e9 reading moves the mean arbitrarily; it moves neither of
    these).

    Order-statistic discipline (the events_median shape): one shuffle
    + one per-key sort gives rank and group count on the same
    (event_type) partitioning; the tail size is exact integer math
    k = floor(n·pct/100) (floor of a /100 rational is float-safe: the
    true quotient is ≥1/100 away from any integer it doesn't equal);
    the boundary values are the rows AT ranks k+1 and n−k, carried to
    the group by a conditional max — no second shuffle, no broadcast
    join back.  Value sums are doubles (6-dp hash tolerance, the
    events_summary precedent).

    Output: (event_type, n, n_trimmed, trimmed_mean, winsorized_mean)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    ).withColumn(
        "k", F.floor(F.col("n") * F.lit(trim_pct) / F.lit(100)).cast("long")
    )
    kept = (F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("n") - F.col("k"))
    agg = ranked.groupBy("event_type").agg(
        F.first("n").cast("long").alias("n"),
        F.first("k").alias("k"),
        F.sum(F.when(kept, F.col("value"))).alias("s_kept"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.max(
            F.when(F.col("rn") == F.col("k") + 1, F.col("value"))
        ).alias("v_lo"),
        F.max(
            F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("value"))
        ).alias("v_hi"),
    )
    trimmed = F.when(
        F.col("n_kept") > 0, F.col("s_kept") / F.col("n_kept")
    ).otherwise(F.lit(0.0))
    winsor = F.when(
        F.col("n") > 0,
        (
            F.col("s_kept")
            + F.col("k") * F.col("v_lo")
            + F.col("k") * F.col("v_hi")
        )
        / F.col("n"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "event_type",
        "n",
        F.col("n_kept").cast("long").alias("n_trimmed"),
        trimmed.alias("trimmed_mean"),
        winsor.alias("winsorized_mean"),
    )
