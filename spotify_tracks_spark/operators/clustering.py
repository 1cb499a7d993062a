"""Iterative k-means over the embeddings table — the engine's
iterative-algorithm shape, pure DataFrame ops per Lloyd iteration:

1. assign: centroids (k×d, already driver-side) ride a ONE-ROW broadcast
   DataFrame cross-joined onto the corpus as a spine; argmin squared
   distance is ``array_min`` over struct (sq_dist, cluster) — a map-only
   scan-side projection.  ZERO corpus shuffle and zero row
   multiplication: the single-row BroadcastNestedLoopJoin attaches the
   matrix column without multiplying rows, and no corpus-side window or
   re-aggregation is needed.
2. update: groupBy(cluster) with one ``avg(e[i])`` aggregate per
   dimension — partial aggregation combines map-side, so the shuffle
   carries k×d partial (sum, count) pairs per input partition and ZERO
   row expansion (a posexplode formulation would multiply the corpus ×d
   before the shuffle).

Each iteration materializes only the k×d centroid table to the driver
(tiny); the corpus is never collected.  At 100 TB this is exactly
distributed Lloyd's: broadcast centroids out (as a torrent-broadcast
relation, NOT plan literals), reduce k×d sums back.

Why a broadcast relation and not a literal (round-4 change): the k×d
literal-matrix plan was correct and fast at k=8·d=64 but is O(k·d) in
PLAN SIZE — at production scale (k=65k, d=1024) the serialized plan /
codegen constant stops compiling long before the data is a problem.
The one-row broadcast spine keeps the plan O(1): the matrix ships once
per executor through the block manager exactly like any broadcast hash
table, and the assign step stays the zero-shuffle scan-side argmin.
(The textbook alternative — explode centroids to k rows, broadcast-join
every (vector, centroid) pair, re-aggregate ``min_by(struct(dist,
cluster))`` per vec_id — re-introduces a corpus-wide aggregation whose
partial-agg shuffle this formulation never pays.)

Deterministic: fixed init (lowest-k vec_ids), fixed iteration count, and
argmin ties break to the lower cluster id.  Float means make the
centroids partial-order-sensitive in the last bits, so the contract is
rows-only + property tests (inertia non-increasing, assignment in range)
— the honest check for an iterative float algorithm (genuinely
non-SQL-expressible per the oracle contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import read_table

K_CLUSTERS = 8
N_ITERS = 3


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign(emb: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """(vec_id, e, cluster, sq_dist) — map-only argmin over broadcast centroids.

    The centroid matrix rides a ONE-ROW DataFrame cross-joined with a
    broadcast hint: a single-row BroadcastNestedLoopJoin attaches the
    ``cents`` column to every corpus row without multiplying rows or
    shuffling, and the plan stays O(1) regardless of k×d (the matrix
    ships via the block manager, not as a plan literal — see module
    docstring).  ``transform`` with index scores each centroid; struct
    comparison orders by (sq_dist, index), so ``array_min`` breaks
    distance ties to the lower cluster id deterministically.  Centroid
    ids are the positions 0..k-1 (update() preserves this invariant)."""
    cents = sorted(centroids)
    assert [c for c, _ in cents] == list(range(len(cents)))
    cent_df = emb.sparkSession.createDataFrame(
        [([[float(v) for v in vec] for _, vec in cents],)],
        "cents: array<array<double>>",
    )
    scored = F.transform(
        F.col("cents"),
        lambda c, i: F.struct(
            _sq_dist(F.col("e"), c).alias("sq_dist"), i.alias("cluster")
        ),
    )
    best = F.array_min(scored)
    return emb.crossJoin(F.broadcast(cent_df)).select(
        "vec_id", "e", best["cluster"].alias("cluster"), best["sq_dist"].alias("sq_dist")
    )


def _update(assigned: DataFrame, d: int) -> DataFrame:
    """New centroid per cluster = element-wise mean of member vectors.

    One hash aggregate keyed on ``cluster`` with d ``avg`` columns: the
    element-wise means combine map-side, so only k×d partials cross the
    wire and no row is ever widened or exploded."""
    per = assigned.groupBy("cluster").agg(
        *[F.avg(F.col("e")[i]).alias(f"m{i}") for i in range(d)]
    )
    return per.select(
        "cluster", F.array(*[F.col(f"m{i}") for i in range(d)]).alias("c")
    )


def embedding_kmeans(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CLUSTERS,
    n_iters: int = N_ITERS,
) -> DataFrame:
    """k-means assignments after ``n_iters`` Lloyd iterations.

    Output: (vec_id, cluster, sq_dist) — final assignment per vector."""
    emb = read_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    ).persist()
    emb.count()

    # fixed deterministic init: the k lowest vec_ids, numbered in order.
    # k×d is tiny, so centroids live driver-side between iterations and are
    # re-broadcast each round as a one-row relation (never plan literals).
    seeds = emb.orderBy("vec_id").limit(k).collect()
    centroids = [(i, r.e) for i, r in enumerate(seeds)]

    d = len(centroids[0][1])
    for _ in range(n_iters):
        assigned = _assign(emb, centroids)
        new = {r.cluster: r.c for r in _update(assigned, d).collect()}
        # a cluster that lost all members keeps its previous centroid, so
        # ids stay the positions 0..k-1 (the _assign literal invariant)
        centroids = [(cid, new.get(cid, vec)) for cid, vec in centroids]

    out = _assign(emb, centroids).select(
        "vec_id", F.col("cluster").cast("long").alias("cluster"), "sq_dist"
    )
    return out


def kmeans_init_counts(
    spark: SparkSession, sf_dir: str, k: int = K_CLUSTERS
) -> DataFrame:
    """Iteration-0 assignment counts per cluster — the float-free slice of
    k-means that a SQL oracle CAN check exactly.

    The init centroids are raw data vectors (the k lowest vec_ids — read,
    never averaged), so the only float work is distance scoring; the
    argmin survives engine rounding unless two centroids are within one
    ulp of equidistant, and the emitted (cluster, n_vectors) rows are pure
    integers.  This pins the assign step's semantics (distance, argmin,
    tie-to-lower-id) against the DuckDB oracle; the property tests keep
    covering the iterative float part.

    Output: (cluster, n_vectors), one row per non-empty init cluster."""
    emb = read_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    seeds = emb.orderBy("vec_id").limit(k).collect()
    centroids = [(i, r.e) for i, r in enumerate(seeds)]
    return (
        _assign(emb, centroids)
        .groupBy("cluster")
        .agg(F.count("*").alias("n_vectors"))
        .select(F.col("cluster").cast("long").alias("cluster"), "n_vectors")
    )


def kmeans_inertia(spark: SparkSession, sf_dir: str, n_iters: int) -> float:
    """Total within-cluster squared distance after n_iters (for tests)."""
    df = embedding_kmeans(spark, sf_dir, n_iters=n_iters)
    return df.agg(F.sum("sq_dist")).collect()[0][0]


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION profile of the embedding corpus — the embedding-QA
    report a vector pipeline runs before indexing: a dead dimension
    (std ≈ 0) wastes index bits, a runaway one (|mean| ≫ others)
    dominates every distance; both are invisible in row-level checks.

    Plan: one ``posexplode`` scan (|rows|·d values) into a |d|-row
    aggregate — the only shuffle carries (dim, moment-partials) after
    map-side combine.  Exact min/max plus the n/Σx/Σx² moment fold.

    Determinism: float32 elements widen exactly to double; Σx and Σx²
    are the only order-sensitive floats (ulp noise far below the 6-dp
    rounding); mean and the sample-std expression apply a fixed IEEE op
    order the oracle mirrors.

    Output: (dim, n, mean, std, min_v, max_v) — one row per dimension,
    0-based."""
    emb = read_table(spark, sf_dir, "embeddings")
    d = emb.select(F.posexplode("embedding").alias("dim", "val"))
    v = F.col("val").cast("double")
    per = d.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )
    return per.select(
        "dim",
        "n",
        F.round(F.col("s1") / F.col("n"), 6).alias("mean"),
        F.round(
            F.sqrt(
                (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
                / (F.col("n") * (F.col("n") - 1))
            ),
            6,
        ).alias("std"),
        F.round("mn", 6).alias("min_v"),
        F.round("mx", 6).alias("max_v"),
    )


OUTLIER_Z = 2.0


def embedding_centroid_outliers(
    spark: SparkSession, sf_dir: str, z_thresh: float = OUTLIER_Z
) -> DataFrame:
    """ROW-level embedding outlier report — the companion QA pass to the
    dimension-level ``embedding_dim_stats``: distance of every vector to
    the corpus centroid, z-scored against the distance distribution;
    rows beyond ``z_thresh`` are the mis-embedded / out-of-domain
    candidates a vector pipeline quarantines before indexing (centroid-
    distance outlier detection, the classic first-pass embedding QA).

    Plan: one ``posexplode`` scan into the |d|-row centroid (broadcast
    back as a dim-keyed join — model state never leaves the cluster),
    a second pass for per-row distances, then a one-row moment spine
    for the z-score.  Two scans, no unbounded state.

    Determinism: the centroid, distances and moments are float sums
    (ulp noise far below 6 dp); the z-score applies a fixed IEEE op
    order; the report thresholds on the ROUNDED z so both engines cut
    the identical set.

    Output: (vec_id, dist, z) for rows with rounded z > z_thresh."""
    emb = read_table(spark, sf_dir, "embeddings")
    vals = emb.select("vec_id", F.posexplode("embedding").alias("dim", "val")).select(
        "vec_id", "dim", F.col("val").cast("double").alias("v")
    )
    cent = vals.groupBy("dim").agg(
        (F.sum("v") / F.count("*")).alias("m")
    )
    dist = (
        vals.join(F.broadcast(cent), "dim")
        .groupBy("vec_id")
        .agg(F.sqrt(F.sum((F.col("v") - F.col("m")) * (F.col("v") - F.col("m")))).alias("dist"))
    )
    mom = dist.agg(
        F.count("*").alias("n"),
        F.sum("dist").alias("s1"),
        F.sum(F.col("dist") * F.col("dist")).alias("s2"),
    )
    return (
        dist.crossJoin(F.broadcast(mom))
        .select(
            "vec_id",
            F.round("dist", 6).alias("dist"),
            F.round(
                (F.col("dist") - F.col("s1") / F.col("n"))
                / F.sqrt(
                    (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
                    / (F.col("n") * (F.col("n") - 1))
                ),
                6,
            ).alias("z"),
        )
        .filter(F.col("z") > z_thresh)
    )


PCA_ITERS = 4


def embedding_top_component(
    spark: SparkSession, sf_dir: str, n_iter: int = PCA_ITERS
) -> DataFrame:
    """TOP PRINCIPAL COMPONENT of the embedding corpus by MATRIX-FREE
    power iteration — the dominant-axis report behind embedding
    post-processing ("all-but-the-top" common-direction removal, Mu &
    Viswanath ICLR 2018) and anisotropy diagnostics: a corpus whose top
    component hoards variance wastes most of its dimensions.

    Plan: the centered value table (vec_id, dim, cv) materializes ONCE
    (localCheckpoint — every iteration reads it twice); each of the
    ``n_iter`` rounds is two keyed aggregates, s_i = Σ_d cv·x (row
    scores) then y_d = Σ_i cv·s (loadings), plus an L2 norm on a
    broadcast one-row spine — never a d×d covariance materialization,
    the only shape that survives high-d at corpus scale.  Fixed
    iteration depth from the deterministic all-ones start, so the
    result is a pure function of the data (no eigen-sign ambiguity —
    that exists only at the convergence limit).

    Determinism: float sums carry ulp noise ~9 orders below the 6-dp
    rounding (compounded over 4 rounds it stays ≪ 1e-9); norms and
    divisions are fixed-order IEEE ops the oracle unrolls literally.

    Output: (dim, loading, variance_explained) — the L2-normalized top
    component plus the sample variance along it (constant column)."""
    emb = read_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).select("vec_id", "dim", F.col("val").cast("double").alias("v"))
    cent = vals.groupBy("dim").agg((F.sum("v") / F.count("*")).alias("m"))
    cvals = (
        vals.join(F.broadcast(cent), "dim")
        .select("vec_id", "dim", (F.col("v") - F.col("m")).alias("cv"))
        .localCheckpoint(eager=True)
    )
    x = cent.select("dim", F.lit(1.0).alias("x"))
    for _ in range(n_iter):
        s = (
            cvals.join(x, "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.col("cv") * F.col("x")).alias("s"))
        )
        y = (
            cvals.join(s, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("cv") * F.col("s")).alias("y"))
            .localCheckpoint(eager=True)  # pin: norm + next x both read y
        )
        norm = y.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("nrm"))
        x = y.crossJoin(F.broadcast(norm)).select(
            "dim", (F.col("y") / F.col("nrm")).alias("x")
        )
    s_final = (
        cvals.join(x, "dim")
        .groupBy("vec_id")
        .agg(F.sum(F.col("cv") * F.col("x")).alias("s"))
    )
    stats = s_final.agg(
        F.count("*").alias("n"), F.sum(F.col("s") * F.col("s")).alias("ss")
    )
    return x.crossJoin(F.broadcast(stats)).select(
        "dim",
        F.round("x", 6).alias("loading"),
        F.round(F.col("ss") / (F.col("n") - 1), 6).alias("variance_explained"),
    )


def embedding_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS DISPERSION in one pass: the exact mean squared pairwise
    distance over ALL C(n,2) vector pairs WITHOUT materializing a
    single pair, via the moment identity
    Σ_{i<j} ||v_i − v_j||² = n·Σᵢ||v_i||² − ||Σᵢ v_i||²
    — the collapse/mode-coverage diagnostic for an embedding corpus
    (dispersion → 0 means the embedder is collapsing), and the poster
    child for "an O(n²) question with an O(n·d) plan" at 100 TB.

    Plan: one ``posexplode`` scan folds Σ||v||² (row grain) and the
    per-dimension component sums (|d| grain) simultaneously; the final
    row is a broadcast one-row combine.  Nothing pairwise ever exists.

    Determinism: float sums under the dim_stats ulp envelope; the
    identity itself is exact algebra; fixed-order IEEE ops, 6-dp
    rounded.

    Output: one row (n_vectors, mean_sq_dist, rms_dist,
    center_norm)."""
    emb = read_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).select("vec_id", "dim", F.col("val").cast("double").alias("v"))
    sq = vals.groupBy("vec_id").agg(F.sum(F.col("v") * F.col("v")).alias("sq"))
    tot = sq.agg(F.count("*").alias("n"), F.sum("sq").alias("ssq"))
    comp = vals.groupBy("dim").agg(F.sum("v").alias("s"))
    cnorm = comp.agg(F.sum(F.col("s") * F.col("s")).alias("csq"))
    n = F.col("n")
    pair_sum = n * F.col("ssq") - F.col("csq")
    n_pairs = n * (n - 1) / F.lit(2.0)
    return tot.crossJoin(F.broadcast(cnorm)).select(
        F.col("n").alias("n_vectors"),
        F.round(pair_sum / n_pairs, 6).alias("mean_sq_dist"),
        F.round(F.sqrt(pair_sum / n_pairs), 6).alias("rms_dist"),
        F.round(F.sqrt(F.col("csq")) / n, 6).alias("center_norm"),
    )
