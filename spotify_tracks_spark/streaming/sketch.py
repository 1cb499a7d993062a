"""Streaming sketch maintenance — mergeable sketches folded forward per
micro-batch.

MERGEABILITY is the whole point of keeping a sketch instead of exact
counts: two sketches over disjoint data merge by cell-wise addition, so
a stream maintains the corpus sketch by adding each micro-batch's cells
— no per-key state, state size is a CONSTANT depth×width regardless of
stream length or key cardinality.  That contrasts with the engine's
other stateful streaming ops (dedup/sessionize hold per-key state
bounded only by the watermark); the sketch is the unbounded-cardinality
answer.

Every fold here is a ``partials``/``remerge`` pair plus an output tail;
the drain itself is ``streaming/incremental.py::_drain_fold``, the one
snapshot-fold protocol in the engine: per-batch state snapshots named by
batch id, so an at-least-once re-delivery is detected and skipped instead
of double-added, and ``base=`` resumes a restarted run.  The sketches
slice their source into ``N_SLICES`` files drained one per trigger.  Each
drained sketch is hash-equal to its batch-computed twin (same seeded
portable hash as the batch operators), which is the exact-oracle
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.hashing import portable_hash60
from ..operators.events import CMS_DEPTH, CMS_WIDTH, KMV_K, KMV_SPACE
from ..sources.tables import normalize_events_ts
from .incremental import _drain_fold

N_SLICES = 4


def _events(*cols: str):
    """Source of the event folds: the normalized events table, projected
    to what the fold reads (the projection names its slice-cache tag)."""

    def source(spark: SparkSession, sf_dir: str) -> DataFrame:
        return normalize_events_ts(
            spark.read.parquet(f"{sf_dir}/events.parquet")
        ).select(*cols)

    return source


def _drain(
    spark: SparkSession,
    sf_dir: str,
    cols: tuple[str, ...],
    partials,
    remerge,
    base: str | None,
    prefix: str,
) -> DataFrame:
    """``_drain_fold`` over the ``cols`` projection of the events table,
    ``N_SLICES`` files drained one per trigger."""
    return _drain_fold(
        spark, sf_dir, "events:" + ",".join(cols), _events(*cols), partials,
        remerge, base, N_SLICES, files_per_batch=1, prefix=prefix,
    )


def _batch_cells(df: DataFrame) -> DataFrame:
    structs = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("d"),
                F.pmod(
                    portable_hash60(F.col("user_id"), seed=j), F.lit(CMS_WIDTH)
                ).alias("cell"),
            )
            for j in range(CMS_DEPTH)
        ]
    )
    return (
        df.select(F.explode(structs).alias("s"))
        .select("s.d", "s.cell")
        .groupBy("d", "cell")
        .agg(F.count("*").alias("c"))
    )


def stream_events_cms(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
) -> DataFrame:
    """Maintain the user-frequency CMS over a micro-batched event stream
    (availableNow drain) and return the final (d, cell, c) cell table —
    hash-equal to the batch-built sketch.

    Each micro-batch contributes its own depth×width partial sketch;
    merge = union + cell-wise sum (associative & commutative, so batch
    composition is irrelevant).  State per batch is ≤ depth×width rows —
    CONSTANT in stream length and key cardinality."""
    final = _drain(
        spark, sf_dir, ("event_type", "user_id"),
        _batch_cells,
        lambda u: u.groupBy("d", "cell").agg(F.sum("c").alias("c")),
        base, "stream_cms_",
    )
    return final.select("d", "cell", F.col("c").cast("long").alias("c"))


def _kmv_retake(hashed: DataFrame) -> DataFrame:
    """Union-and-retake: dedup shared users, keep the ``KMV_K`` smallest
    hashes per type — one batch's sketch, and the lossless KMV merge."""
    w = Window.partitionBy("event_type").orderBy("h")
    return (
        hashed.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "h")
    )


def stream_events_kmv(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
) -> DataFrame:
    """Maintain the per-type K-Minimum-Values distinct sketch over a
    micro-batched event stream (availableNow drain) and return the
    final registers + estimate — hash-equal to the batch-built sketch
    (``events_kmv_distinct``'s merge theorem: every global k-minimum
    hash is in its own batch's k-minimum set, so union-and-retake per
    batch is lossless however the stream slices).

    State per batch is ≤ k rows per event type — constant in stream
    length and user cardinality, the cardinality twin of the CMS
    frequency fold above.  Output: (event_type, n_kept, kth_hash,
    est_distinct_users)."""
    final = _drain_kmv_registers(spark, sf_dir, base)
    sk = final.groupBy("event_type").agg(
        F.count("*").alias("n_kept"), F.max("h").alias("kth_hash")
    )
    numer = float((KMV_K - 1) * KMV_SPACE)
    est = F.when(
        F.col("n_kept") < KMV_K, F.col("n_kept").cast("double")
    ).otherwise(F.lit(numer) / F.col("kth_hash"))
    return sk.select(
        "event_type", "n_kept", "kth_hash", est.alias("est_distinct_users")
    )


def _drain_kmv_registers(
    spark: SparkSession, sf_dir: str, base: str | None
) -> DataFrame:
    """Drain the per-type KMV register fold (union-and-retake per
    micro-batch) and return the final (event_type, h) register frame —
    the shared state both streaming sketch reports read."""
    return _drain(
        spark, sf_dir, ("event_type", "user_id"),
        lambda df: _kmv_retake(
            df.select("event_type", portable_hash60(F.col("user_id")).alias("h"))
        ),
        _kmv_retake, base, "stream_kmv_",
    )


def stream_events_kmv_set_ops(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
    include_exact: bool = True,
) -> DataFrame:
    """Streaming fold of the theta-sketch SET OPERATIONS: drain the
    per-type KMV registers through the same lossless union-and-retake
    merge as ``stream_events_kmv``, then apply the identical pair
    intersection/union/Jaccard tail as the batch build
    (operators/events.py:_kmv_set_ops_tail) — the drained report
    hash-equals the batch ``events_kmv_set_ops`` (same oracle).

    The SKETCH math is answered from ≤ k rows of state per type without
    re-reading history; the ``exact_intersection`` column is NOT — it
    is a batch-scan validation rider (a full distinct + self-join of
    the events table) kept so sketch error is visible to the oracle at
    test SF (round-8 advice).  A deployed always-on monitor passes
    ``include_exact=False`` for the registers-only report, which truly
    never re-reads history."""
    from ..operators.events import _kmv_set_ops_tail

    kept = _drain_kmv_registers(spark, sf_dir, base).persist()
    try:
        kept.count()
        return _kmv_set_ops_tail(spark, sf_dir, kept, KMV_K, include_exact)
    finally:
        kept.unpersist()


def stream_events_kmv_anotb(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
    include_exact: bool = True,
) -> DataFrame:
    """Streaming fold of the theta-sketch A-NOT-B report: drain the
    per-type KMV registers (same lossless union-and-retake merge as
    ``stream_events_kmv``), then apply the identical directional-
    difference tail as the batch build
    (operators/events.py:_kmv_anotb_tail) — hash-equal to batch
    ``events_kmv_anotb`` (same oracle).  As with the set-ops fold, the
    sketch math reads ≤ k rows of state per type; the exact_* columns
    are a batch-scan validation rider — pass ``include_exact=False``
    for the registers-only always-on shape."""
    from ..operators.events import _kmv_anotb_tail

    kept = _drain_kmv_registers(spark, sf_dir, base).persist()
    try:
        kept.count()
        return _kmv_anotb_tail(spark, sf_dir, kept, KMV_K, include_exact)
    finally:
        kept.unpersist()


def _batch_hll_registers(df: DataFrame) -> DataFrame:
    from ..operators.events import _hll_rho, HLL_W_BITS

    b = (
        df.select("event_type", portable_hash60(F.col("user_id")).alias("h"))
        .distinct()
        .select(
            "event_type",
            F.shiftright(F.col("h"), HLL_W_BITS).alias("bucket"),
            F.col("h").bitwiseAND(F.lit((1 << HLL_W_BITS) - 1)).alias("w"),
        )
    )
    return b.groupBy("event_type", "bucket").agg(
        F.max(_hll_rho(F.col("w"))).alias("m")
    )


def _drain_hll_registers(
    spark: SparkSession, sf_dir: str, base: str | None
) -> DataFrame:
    """Fold the per-type HLL registers over the micro-batched stream
    (availableNow drain) and return the final (event_type, bucket, m)
    register table.  Register-wise MAX merge is associative, commutative
    AND idempotent, so the fold is insensitive to stream slicing and
    replay — the drained registers are bit-identical to a batch build
    over the same rows.  Shared by ``stream_events_hll`` (cardinality
    estimate tail) and ``stream_events_hll_set_ops`` (pair-overlap
    tail)."""
    return _drain(
        spark, sf_dir, ("event_type", "user_id"), _batch_hll_registers,
        lambda u: u.groupBy("event_type", "bucket").agg(F.max("m").alias("m")),
        base, "stream_hll_",
    )


def stream_events_hll_set_ops(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
    include_exact: bool = True,
) -> DataFrame:
    """Streaming fold of the HLL SET OPERATIONS report: drain the
    per-type HLL registers (register-wise max merge — lossless), then
    apply the identical pair union/inclusion-exclusion tail as the
    batch build (operators/events.py:_hll_set_ops_tail) — hash-equal
    to batch ``events_hll_set_ops`` (same oracle).  The sketch math
    reads ≤ 256 register rows per type; the exact_intersection column
    is a batch-scan validation rider — pass ``include_exact=False``
    for the registers-only always-on shape."""
    from ..operators.events import _hll_set_ops_tail

    reg = _drain_hll_registers(spark, sf_dir, base).persist()
    try:
        reg.count()
        return _hll_set_ops_tail(spark, sf_dir, reg, include_exact)
    finally:
        reg.unpersist()


def stream_events_hll(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
) -> DataFrame:
    """Maintain the per-type HyperLogLog registers over a micro-batched
    event stream (availableNow drain) and return the final sketch —
    hash-equal to the batch build (``events_hll_distinct``): HLL merge
    is register-wise MAX, which is associative, commutative AND
    idempotent, so the fold is insensitive to how the stream slices.

    State per batch is ≤ 256 register rows per event type — constant in
    stream length and user cardinality like the CMS/KMV folds (the
    max-merge makes even a double-fold harmless).  Output: (event_type,
    n_zero_regs, reg_sum_e61, est_distinct_users)."""
    from ..operators.events import HLL_EST_NUMER, HLL_M

    reg = _drain_hll_registers(spark, sf_dir, base)
    agg = reg.groupBy("event_type").agg(
        F.count("*").alias("n_present"),
        F.sum(
            F.expr(
                "cast(shiftleft(cast(1 as bigint), cast(61 - m as int))"
                " as decimal(38,0))"
            )
        ).alias("s_present"),
    )
    v = F.lit(HLL_M) - F.col("n_present")
    s_e61 = (
        F.col("s_present")
        + v.cast("decimal(38,0)") * F.lit(1 << 61).cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    raw = F.lit(HLL_EST_NUMER) / F.col("reg_sum_e61")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("n_zero_regs") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("n_zero_regs")),
    ).otherwise(raw)
    return (
        agg.select(
            "event_type",
            v.cast("long").alias("n_zero_regs"),
            s_e61.cast("double").alias("reg_sum_e61"),
        )
        .withColumn("est_distinct_users", est)
    )


def _batch_bloom_words(df: DataFrame) -> DataFrame:
    from ..operators.events import BLOOM_K, BLOOM_M_BITS, BLOOM_WORD_BITS

    pos = df.select(
        F.explode(
            F.array(
                *[
                    portable_hash60(F.col("user_id"), seed=i) % BLOOM_M_BITS
                    for i in range(1, BLOOM_K + 1)
                ]
            )
        ).alias("pos")
    )
    return pos.groupBy(F.shiftright(F.col("pos"), 5).alias("word")).agg(
        F.bit_or(
            F.expr(
                f"shiftleft(cast(1 as bigint),"
                f" cast(pos % {BLOOM_WORD_BITS} as int))"
            )
        ).alias("bits")
    )


def stream_events_bloom(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
) -> DataFrame:
    """Maintain a Bloom filter of every user ever seen over a
    micro-batched event stream — the streaming MEMBERSHIP index (the
    ingest-time "have we seen this key before?" structure;
    ``events_bloom_membership`` is its batch/evaluation twin).  Bitmap
    OR is associative, commutative and idempotent, so the fold is
    insensitive to slicing and replay, like the HLL register max.

    State is ≤ m/32 word rows — constant in stream length and key
    cardinality.  Output: the final (word, bits) table, hash-equal to
    a batch build over the distinct users."""
    return _drain(
        spark, sf_dir, ("event_type", "user_id"),
        lambda df: _batch_bloom_words(df.select("user_id").distinct()),
        lambda u: u.groupBy("word").agg(F.bit_or("bits").alias("bits")),
        base, "stream_bloom_",
    )


def stream_events_quantile_hist(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
) -> DataFrame:
    """Streaming quantile-sketch maintenance: the equi-width bin vector
    of ``operators/profile.py::events_quantile_hist`` folded forward per
    micro-batch (bin vectors ADD — the mergeable-sketch property), then
    the shared cumulative-walk/interpolation at drain.  Hash-equal to
    the batch sketch (same EVENTS_QUANTILE_HIST oracle).

    The binning BOUNDS are computed from the static source before the
    stream starts and broadcast into every batch's bin assignment —
    the production contract for streaming histograms: bounds come from
    the PREVIOUS profile (yesterday's min/max), because a one-pass
    stream cannot both discover the domain and bin exactly into it.
    This is also why the truly bounds-free streaming quantile sketches
    (KLL, t-digest) are sampling- or merge-order-sensitive and thus not
    oracle-checkable; the fixed-bounds fold is the exact-contract
    member of the family.  State per batch stays ≤ |types|×n_bins rows
    — constant in stream length, like the CMS/KMV/HLL/Bloom folds."""
    from ..operators.profile import HIST_BINS, quantiles_from_hist

    cols = ("event_type", "value")
    # bounds from the static source = "the previous profile" (see
    # docstring); a |types|-row local relation broadcast into every batch
    lohi = (
        _events(*cols)(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    bounds = spark.createDataFrame(lohi.collect(), lohi.schema)

    def partials(df: DataFrame) -> DataFrame:
        j = df.join(F.broadcast(bounds), "event_type").withColumn(
            "w", (F.col("hi") - F.col("lo")) / F.lit(float(HIST_BINS))
        )
        bucket = F.when(F.col("w") == 0, F.lit(0).cast("long")).otherwise(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / F.col("w")),
                F.lit(HIST_BINS - 1),
            ).cast("long")
        )
        return j.groupBy(
            "event_type", bucket.alias("bucket"), F.col("lo"), F.col("w")
        ).agg(F.count("*").alias("n"))

    final = _drain(
        spark, sf_dir, cols, partials,
        lambda u: u.groupBy("event_type", "bucket", "lo", "w").agg(
            F.sum("n").alias("n")
        ),
        base, "stream_qhist_",
    )
    return quantiles_from_hist(final.withColumn("n", F.col("n").cast("long")))


def stream_events_sequential_ab(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
) -> DataFrame:
    """Streaming maintenance of the group-sequential A/B monitor: the
    always-on form of ``operators/analytics.py::events_sequential_ab``
    — exactly the op whose POINT is to be recomputed as data arrives
    (each micro-batch advances the cumulative-conversion looks; a
    dashboard reads the drained table).  Hash-equal to the batch
    monitor (same EVENTS_SEQUENTIAL_AB oracle).

    State is TWO grains, both bounded: one row per user (grain 'u':
    arm + min-folded first-purchase day — min is associative, so the
    fold replays idempotently) and one row per observed day (grain
    'd').  Entity-grain like the incremental-mart states, never
    event-grain.  The drain hands the state to the SHARED report tail
    (``sequential_ab_report``), so batch and stream produce
    byte-identical looks from identical state."""
    from ..operators.analytics import AB_SPLIT_MOD, sequential_ab_report

    def _partials(df: DataFrame) -> DataFrame:
        u = df.groupBy("user_id").agg(
            F.min(
                F.when(F.col("event_type") == "purchase", F.to_date("ts"))
            ).alias("day"),
        ).select(
            F.lit("u").alias("grain"), "user_id", "day"
        )
        d = df.select(F.to_date("ts").alias("day")).distinct().select(
            F.lit("d").alias("grain"),
            F.lit(None).cast("long").alias("user_id"),
            "day",
        )
        return u.unionByName(d)

    def _remerge(u: DataFrame) -> DataFrame:
        # 'u' rows: min-fold fp_day per user (nulls stay null until the
        # first purchase arrives); 'd' rows: day IS the key, min is a
        # no-op on it
        return u.groupBy(
            "grain",
            "user_id",
            F.when(F.col("grain") == "d", F.col("day")).alias("day_key"),
        ).agg(F.min("day").alias("day")).select(
            "grain", "user_id", "day"
        )

    state = _drain(
        spark, sf_dir, ("user_id", "event_type", "ts"), _partials, _remerge,
        base, "stream_seq_ab_",
    )
    users = state.filter(F.col("grain") == "u").select(
        F.col("day").alias("fp_day"),
        (portable_hash60(F.col("user_id")) % AB_SPLIT_MOD == 0).alias(
            "arm_a"
        ),
    )
    days = state.filter(F.col("grain") == "d").select("day")
    return sequential_ab_report(users, days)


def stream_docs_heavy_terms(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = None,
    base: str | None = None,
) -> DataFrame:
    """Streaming fold of ``text_heavy_terms_mg``: maintain a single
    k-counter MISRA-GRIES summary over the micro-batched document
    stream (availableNow drain), then run the batch operator's exact
    recount pass over the drained candidate set — same oracle as the
    batch op, because the output is the exact > n/k set either way.

    The state story is the module's: like the CMS/KMV/HLL folds the
    summary is MERGEABLE (sequential merge is the Agarwal et al. 2012
    special case), so state is ≤ k rows REGARDLESS of stream length or
    vocabulary size — the streaming answer to "top terms over an
    unbounded token stream".  Each batch folds its exact token counts
    into the summary; the compress step reads the (k+1)-th largest
    stored count off a ≤(k+1)-row bounded collect and decrements — the
    total decrement over the whole stream stays ≤ n/(k+1), so every
    globally-heavy term survives to the drain (the batch operator's
    superset guarantee, sequentially)."""
    from ..operators.text_analysis import MG_K, WORD_RE

    if k is None:
        k = MG_K
    words = F.regexp_extract_all(F.lower("text"), F.lit(WORD_RE), 0)
    spent: list[DataFrame] = []  # summed counts behind a compressed state

    def remerge(u: DataFrame) -> DataFrame:
        # the previous state is cached and written by now, so the sums it
        # was compressed from can go
        while spent:
            spent.pop().unpersist()
        merged = u.groupBy("tok").agg(F.sum("c").alias("c")).persist()
        # MG compress: the (k+1)-th largest stored count off a bounded
        # (k+1)-row collect; subtract it everywhere, drop the dead
        top = merged.orderBy(F.desc("c"), F.asc("tok")).limit(k + 1).collect()
        if len(top) <= k:
            return merged  # uncompressed: the drain's hand-off owns its cache
        spent.append(merged)
        m = int(top[-1].c)
        return merged.select("tok", (F.col("c") - m).alias("c")).filter(
            F.col("c") > 0
        )

    try:
        cands = _drain_fold(
            spark, sf_dir, "documents:text",
            lambda s, d: s.read.parquet(f"{d}/documents.parquet").select("text"),
            lambda df: df.select(F.explode(words).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("c")),
            remerge, base, N_SLICES, files_per_batch=1, prefix="stream_mg_",
        ).select("tok")
    finally:
        while spent:
            spent.pop().unpersist()

    # exact recount over the full corpus — the batch operator's pass 2
    from ..sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(F.explode(words).alias("tok"))
    n_total = docs.agg(F.sum(F.size(words)).cast("long").alias("n_total"))
    return (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .crossJoin(F.broadcast(n_total))
        .filter(F.col("freq") * k > F.col("n_total"))
        .select(
            F.col("tok").alias("token"),
            "freq",
            "n_total",
            F.round(F.col("freq") / F.col("n_total"), 6).alias("share"),
        )
    )
