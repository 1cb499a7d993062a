"""Similarity search over the ``embeddings`` table (array<float> vectors).

- ``ann_topk_bruteforce`` — exact cosine top-k: broadcast the (small) query
  set against every vector; one pass over the corpus, no shuffle of the big
  side until the final per-query top-k (a tiny aggregate).  This is the
  correctness baseline.
- ``ann_topk_lsh`` — the scale path: sign-bit (random-hyperplane-style) LSH
  bucketing on leading dimensions; candidates share the query's bucket, then
  exact cosine rerank *within the bucket*.  At 100 TB the bucket join
  replaces the corpus-wide cross product with an equi-join on the signature.
- ``dedup_embedding`` — embedding-cosine near-duplicate detection: top-1
  neighbor per probe vector with a near-dup flag.

Numeric determinism: dot/norm are left-fold ``F.aggregate`` over
double-cast elements — the same sequential order the DuckDB oracle uses
(list_sum over list_transform), so values are bit-identical; ranking
tie-breaks on neighbor id.  Cosine is emitted rounded to 6dp (display), but
ranking uses the full-precision value in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..sources.tables import read_table
from ..functions.memo import evict_stale_sessions

SIG_DIMS = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm2(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm2(a) * _norm2(b))


# Probe-panel cap: `vec_id % probe_mod == 0` is a RATE sample, so the
# probe count — and with it every exact-baseline evaluation — grows
# linearly with the corpus, making the probe x corpus scan QUADRATIC
# overall (surfaced by the round-10 scale-curve ladder: the recall eval
# bent at alpha≈1.4 on the synthetic extension while every other family
# stayed sublinear).  A recall evaluation at 100 TB runs against a
# FIXED-SIZE panel, so the probe set is additionally capped at the
# `max_probes` lowest vec_ids (deterministic: TakeOrderedAndProject,
# no shuffle).  The cap NEVER binds at any oracle-checked SF (driver
# fixtures top out at 20 probes at sf0.1), so every ANN oracle pins the
# uncapped semantics unchanged; the cap itself is pinned by a planted
# fixture test (tests/test_graph_and_new_ops.py).
ANN_MAX_PROBES = 512


def _queries_and_corpus(
    spark: SparkSession,
    sf_dir: str,
    probe_mod: int,
    max_probes: int = ANN_MAX_PROBES,
):
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    probes = (
        emb.filter(F.col("vec_id") % probe_mod == 0)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
        .orderBy("query_id")
        .limit(max_probes)
    )
    return emb, probes


# Session-memoized exact top-k baseline (the graph/dedup shared-artifact
# discipline): five operators — the two recall evals, the truncation
# ablation, negative sampling and the kNN classifier eval — each re-ran
# the full probe x corpus cosine scan for the SAME exact result.  The
# output is |probes| x k rows (tiny), checkpointed once per parameter
# set; at 100 TB the exact baseline is a written evaluation table
# computed once per corpus snapshot.  clear_similarity_memo() frees it.
_BRUTE_MEMO: dict[tuple[int, str, int, int, int], DataFrame] = {}

# Session-memoized APPROXIMATE top-k lists (round-11 optimization), the
# _BRUTE_MEMO discipline extended to the four index families: each
# family's (query_id, neighbor_id, rank, cos/adc) list is ≤ probes×k
# rows, yet before this memo the full corpus-scoring scan behind it ran
# once per CONSUMER — the family's own registered query, the
# ``ann_recall_eval_all`` five-family report, ``ann_recall_eval`` and
# ``ann_topk_rrf_fusion`` each re-scored the corpus for identical lists.
# At 100 TB the served index's result lists are exactly the artifact an
# evaluation pipeline reads back rather than recomputes.  Keyed by every
# semantic parameter; whichever consumer runs first pays the family's
# build, and clear_similarity_memo() releases it.
_TOPK_MEMO: dict[tuple, DataFrame] = {}


def _memo_topk(spark: SparkSession, key: tuple, build) -> DataFrame:
    """Return the memoized checkpointed top-k list for ``key``, building
    it via ``build()`` (a lazy-plan thunk) on first use."""
    memo = _TOPK_MEMO.get(key)
    if memo is not None:
        return memo
    evict_stale_sessions(_TOPK_MEMO, id(spark))
    out = build().localCheckpoint(eager=True)
    _TOPK_MEMO[key] = out
    return out


def clear_similarity_memo() -> None:
    """Release the memoized exact-top-k baseline and the approximate
    per-family top-k lists (bench-harness hook)."""
    _BRUTE_MEMO.clear()
    _TOPK_MEMO.clear()


def ann_topk_bruteforce(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    probe_mod: int = 100,
    max_probes: int = ANN_MAX_PROBES,
) -> DataFrame:
    """Exact cosine top-k for probe vectors (vec_id % probe_mod == 0,
    capped at the ``max_probes`` lowest vec_ids — see ANN_MAX_PROBES).
    Session-memoized per (dataset, k, probe_mod, max_probes) — see
    _BRUTE_MEMO."""
    key = (id(spark), sf_dir, k, probe_mod, max_probes)
    memo = _BRUTE_MEMO.get(key)
    if memo is not None:
        return memo
    evict_stale_sessions(_BRUTE_MEMO, id(spark))
    out = _ann_topk_bruteforce_plan(
        spark, sf_dir, k, probe_mod, max_probes
    ).localCheckpoint(eager=True)
    _BRUTE_MEMO[key] = out
    return out


# Cap-binding demonstration parameters: probe_mod=2 makes ~half the
# corpus probe-eligible at every SF, so the 16-probe cap BINDS from
# sf0.001 up — the oracle computes the identical lowest-vec_id panel.
ANN_CAP_DEMO_PROBE_MOD = 2
ANN_CAP_DEMO_MAX_PROBES = 16


def ann_topk_bruteforce_capped(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    """Exact top-k where the probe-panel cap BINDS (round-10 verdict
    item 3): at the default registration the ANN_MAX_PROBES cap never
    binds at any oracle-checked SF, so the capped panel's *selection
    semantics* (lowest-vec_id TakeOrdered) were pinned only by a unit
    test.  This parameterization (probe_mod=2, max_probes=16) makes the
    cap bind at every SF — ~|corpus|/2 candidates, 16 kept — and its
    DuckDB oracle computes the same ORDER BY vec_id LIMIT panel, giving
    the bound path a hash-matched oracle row."""
    return ann_topk_bruteforce(
        spark,
        sf_dir,
        k=k,
        probe_mod=ANN_CAP_DEMO_PROBE_MOD,
        max_probes=ANN_CAP_DEMO_MAX_PROBES,
    )


def _ann_topk_bruteforce_plan(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    probe_mod: int,
    max_probes: int = ANN_MAX_PROBES,
) -> DataFrame:
    emb, probes = _queries_and_corpus(spark, sf_dir, probe_mod, max_probes)
    scored = (
        emb.join(F.broadcast(probes), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), F.round("cos", 6).alias("cos"))
    )


def _sign_signature(emb: Column, dims: int = SIG_DIMS) -> Column:
    """Sign-bit LSH bucket: '1'/'0' per leading dimension."""
    return F.concat_ws(
        "",
        F.transform(
            F.slice(emb, 1, dims),
            lambda x: F.when(x > 0, F.lit("1")).otherwise(F.lit("0")),
        ),
    )


def ann_topk_lsh(
    spark: SparkSession, sf_dir: str, k: int = 5, probe_mod: int = 100, dims: int = SIG_DIMS
) -> DataFrame:
    """Approximate top-k: candidates share the probe's sign-bit bucket.

    Recall < 1 by design (bucket boundaries); the oracle applies the same
    bucketing, so results still hash-match exactly.  The probes×k list
    is session-memoized (see _TOPK_MEMO)."""
    return _memo_topk(
        spark,
        (id(spark), "lsh", sf_dir, k, probe_mod, dims),
        lambda: _ann_topk_lsh_plan(spark, sf_dir, k, probe_mod, dims),
    )


def _ann_topk_lsh_plan(
    spark: SparkSession, sf_dir: str, k: int, probe_mod: int, dims: int
) -> DataFrame:
    emb, probes = _queries_and_corpus(spark, sf_dir, probe_mod)
    emb_sig = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        _sign_signature(F.col("embedding"), dims).alias("sig"),
    )
    probe_sig = probes.select(
        "query_id", "q_emb", _sign_signature(F.col("q_emb"), dims).alias("sig")
    )
    scored = (
        emb_sig.join(F.broadcast(probe_sig), "sig")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine(F.col("q_emb"), F.col("n_emb")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), F.round("cos", 6).alias("cos"))
    )


N_CENTROIDS = 16


def _ivf_centroid_relation(emb: DataFrame, n_centroids: int) -> DataFrame:
    """One-row broadcast relation carrying the coarse-quantizer matrix
    (cents + their ids, ascending vec_id) — the round-4 de-literalized
    shape shared by ann_topk_ivf and ann_topk_ivfpq."""
    cent_rows = (
        emb.orderBy("vec_id").limit(n_centroids).select("vec_id", "embedding").collect()
    )
    return emb.sparkSession.createDataFrame(
        [(
            [[float(x) for x in r.embedding] for r in cent_rows],
            [int(r.vec_id) for r in cent_rows],  # ascending vec_id
        )],
        "cents: array<array<double>>, cent_ids: array<bigint>",
    )


def _ivf_scored_cells(emb_col: Column) -> Column:
    """(c_cos, -cent_id) struct per centroid; requires the cents/cent_ids
    columns of ``_ivf_centroid_relation`` on the row (binary HOF lambda
    receives (element, index); index i is 0-based)."""
    return F.transform(
        F.col("cents"),
        lambda c, i: F.struct(
            cosine(emb_col, c).alias("c_cos"),
            (-F.element_at(F.col("cent_ids"), i + 1)).alias("neg_id"),
        ),
    )


def _ivf_cell(emb_col: Column) -> Column:
    """max by (c_cos, -cent_id): highest cosine, ties to the LOWER cent_id."""
    return -F.array_max(_ivf_scored_cells(emb_col))["neg_id"]


def ann_topk_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    probe_mod: int = 100,
    n_centroids: int = N_CENTROIDS,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantize to the nearest centroid,
    search the probe's ``nprobe`` nearest cells (default 1).

    ``nprobe`` is THE recall/cost knob of a deployed IVF index: each
    probe's candidate set grows to its nprobe nearest cells (corpus-side
    assignment is always the single nearest cell), trading nprobe× probe
    fan-out — still tiny, the probe set is the broadcast side — for the
    recall lost to probes sitting near cell boundaries.  nprobe > 1
    explodes the probe's sorted cell ranking (deterministic: cosine
    desc, ties to the lower centroid id) before the same equi-join.

    Deterministic centroid choice (the ``n_centroids`` lowest vec_ids) keeps
    the operator oracle-checkable; a production run would fit k-means on a
    sample and broadcast the fitted centroids.  Cell assignment is a
    map-only scan-side projection: the k×d centroid matrix rides a ONE-ROW
    broadcast DataFrame cross-joined onto each side (same round-4 shape as
    clustering.py's ``_assign`` — the plan stays O(1) in k×d, the matrix
    ships via the block manager instead of as a plan literal that stops
    compiling at production k=65k·d=1024), and the argmax over centroid
    cosines is ``array_max`` over struct (c_cos, -cent_id) — ZERO corpus
    shuffle and zero row multiplication for assignment (the join+window
    formulation would shuffle corpus×k rows twice).  Then an equi-join on
    cell id replaces the corpus-wide cross product, then exact rerank
    within the cell.  Ties on cosine break to the lower centroid id in
    both engines.  The probes×k list is session-memoized (_TOPK_MEMO)."""
    return _memo_topk(
        spark,
        (id(spark), "ivf", sf_dir, k, probe_mod, n_centroids, nprobe),
        lambda: _ann_topk_ivf_plan(spark, sf_dir, k, probe_mod, n_centroids, nprobe),
    )


def _ann_topk_ivf_plan(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    probe_mod: int,
    n_centroids: int,
    nprobe: int,
) -> DataFrame:
    emb, probes = _queries_and_corpus(spark, sf_dir, probe_mod)
    cent_df = _ivf_centroid_relation(emb, n_centroids)
    scored_cells, cell = _ivf_scored_cells, _ivf_cell

    corpus = emb.crossJoin(F.broadcast(cent_df)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        cell(F.col("embedding")).alias("cell"),
    )
    if nprobe == 1:
        probe_cells = probes.crossJoin(F.broadcast(cent_df)).select(
            "query_id", "q_emb", cell(F.col("q_emb")).alias("cell")
        )
    else:
        # reversed ascending struct sort = (cosine desc, ties to the lower
        # cent_id, since neg_id = -cent_id); slice the nprobe best, explode
        top_cells = F.transform(
            F.slice(F.reverse(F.array_sort(scored_cells(F.col("q_emb")))), 1, nprobe),
            lambda s: -s["neg_id"],
        )
        probe_cells = (
            probes.crossJoin(F.broadcast(cent_df))
            .select("query_id", "q_emb", F.explode(top_cells).alias("cell"))
        )
    scored = (
        corpus.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine(F.col("q_emb"), F.col("n_emb")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("cos", 6).alias("cos"),
        )
    )


def dedup_embedding(
    spark: SparkSession, sf_dir: str, probe_mod: int = 10, near_dup_threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-dup: top-1 neighbor per probe + near-dup flag."""
    top1 = ann_topk_bruteforce(spark, sf_dir, k=1, probe_mod=probe_mod)
    return top1.select(
        "query_id",
        "neighbor_id",
        "cos",
        (F.col("cos") >= near_dup_threshold).alias("is_near_dup"),
    )


def dedup_embedding_corpus(
    spark: SparkSession,
    sf_dir: str,
    near_dup_threshold: float = 0.95,
    dims: int = SIG_DIMS,
) -> DataFrame:
    """CORPUS-WIDE embedding near-dup pairs — the scale path
    ``dedup_embedding`` (a probe-set top-1 scan) stops short of.

    One narrow signature projection over the corpus, a self-equi-join on
    the sign-bit bucket, exact cosine verification inside buckets: the
    all-pairs O(N²) cross product becomes Σ_b |bucket_b|² with only one
    shuffle on the signature key — the same blocked-verify shape as the
    minhash/simhash text dedups, applied to the vector column.  Recall
    < 1 by bucketing design (a near-dup pair straddling a sign boundary
    in the leading dims is missed); the oracle applies the same bucketing
    so the emitted set still hash-matches exactly, and high-cosine pairs
    agree on most signs, so leading-dim buckets catch most of them.

    Output: (vec_a, vec_b, cos) with vec_a < vec_b and cos ≥ threshold."""
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    sigs = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        _sign_signature(F.col("embedding"), dims).alias("sig"),
    ).persist()
    sigs.count()  # pin one computation before the self-join (see dedup.py)
    a, b = sigs.alias("a"), sigs.alias("b")
    cos = cosine(F.col("a.e"), F.col("b.e"))
    pairs = a.join(
        b,
        (F.col("a.sig") == F.col("b.sig"))
        & (F.col("a.vec_id") < F.col("b.vec_id"))
        & (cos >= near_dup_threshold),
    )
    return pairs.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(cos, 6).alias("cos"),
    )


def dedup_semantic_ivf(
    spark: SparkSession,
    sf_dir: str,
    near_dup_threshold: float = 0.95,
    n_centroids: int = N_CENTROIDS,
) -> DataFrame:
    """Cluster-blocked semantic dedup — the SemDeDup shape (Abbas et al.,
    arXiv:2303.09540): k-means-cluster the embedding space, then look
    for near-duplicate pairs ONLY within each cluster.  This is the
    other practical blocking geometry next to ``dedup_embedding_corpus``'s
    sign-bucket: sign-buckets cut the space by fixed hyperplanes through
    the origin (cheap, data-oblivious), IVF cells follow the data's own
    density (centroid Voronoi regions), which is why the deployed
    semantic-dedup pipelines block on cluster assignment.

    Plan shape: cell assignment is the shared IVF projection — the k×d
    centroid matrix rides a ONE-ROW broadcast relation, the argmax is an
    array_max over struct (cos, -cent_id), zero corpus shuffle — then
    one self-equi-join on cell with exact cosine verify: Σ_c |cell_c|²
    candidate pairs instead of N².  Recall < 1 by blocking design
    (near-dups straddling a Voronoi boundary are missed — production
    mitigates with nprobe-style multi-assignment); the oracle applies
    the identical deterministic assignment so the emitted set
    hash-matches exactly.

    Output: (cell, vec_a, vec_b, cos), vec_a < vec_b, cos ≥ threshold."""
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    cent_df = _ivf_centroid_relation(emb, n_centroids)
    cells = (
        emb.crossJoin(F.broadcast(cent_df))
        .select(
            "vec_id",
            F.col("embedding").alias("e"),
            _ivf_cell(F.col("embedding")).alias("cell"),
        )
        .persist()
    )
    try:
        cells.count()  # pin one computation before the self-join
        a, b = cells.alias("a"), cells.alias("b")
        cos = cosine(F.col("a.e"), F.col("b.e"))
        pairs = a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & (cos >= near_dup_threshold),
        ).select(
            F.col("a.cell").alias("cell"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos"),
        )
        # pair-grain result; release the corpus-sized cell cache
        return pairs.localCheckpoint(eager=True)
    finally:
        cells.unpersist()


def ann_recall_eval(
    spark: SparkSession, sf_dir: str, k: int = 5, probe_mod: int = 100, dims: int = SIG_DIMS
) -> DataFrame:
    """Recall@k of the LSH index against the exact baseline, per probe —
    the evaluation loop an ANN deployment runs before trusting an index
    (tune ``dims`` until measured recall clears the product bar).

    Composes the two existing operators and LEFT-SEMI-joins the exact
    top-k against the LSH top-k on (query_id, neighbor_id); recall is
    hits/k.  Probes with NO surviving LSH candidate (empty bucket) still
    appear, with recall 0 — silently dropping them would inflate the
    metric.  Cost is the two underlying plans plus an entity-grain join;
    at 100 TB one evaluates on a probe SAMPLE, which is exactly the
    probe_mod parameter.  LSH-only by construction; the one-report
    all-family evaluation is ``ann_recall_eval_all``.

    Output: (query_id, n_exact, n_hits, recall)."""
    exact = ann_topk_bruteforce(spark, sf_dir, k=k, probe_mod=probe_mod).select(
        "query_id", "neighbor_id"
    )
    approx = ann_topk_lsh(
        spark, sf_dir, k=k, probe_mod=probe_mod, dims=dims
    ).select("query_id", "neighbor_id")
    base = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        base.join(hits, "query_id", "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)).cast("long"))
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            (F.col("n_hits") / F.lit(float(k))).alias("recall"),
        )
    )


def ann_recall_eval_all(
    spark: SparkSession, sf_dir: str, k: int = 5, probe_mod: int = 100, dims: int = SIG_DIMS
) -> DataFrame:
    """Recall@k of EVERY approximate index family (lsh / ivf / pq)
    against the shared exact cosine baseline, one report — the number an
    ANN user tunes an index against, now measured for all three shipped
    indexes instead of LSH alone (``ann_recall_eval``).

    The exact top-k is computed ONCE, persisted (probes×k rows — a
    bounded, entity-grain set), and left-semi-joined against each
    family's top-k; per (family, probe), recall = hits/k.  Probes a
    family returns nothing for (empty LSH bucket, lone IVF cell) still
    appear with recall 0.  Note PQ ranks by asymmetric distance to coded
    centroids — its hits are membership in the exact COSINE top-k, the
    deployment-relevant question (would the index have surfaced the true
    neighbors), not ADC self-consistency.  The ``ivf2`` family is IVF at
    nprobe=2 — the same report quantifies what the nprobe knob buys.

    Output: (index_family, query_id, n_exact, n_hits, recall)."""
    exact = (
        ann_topk_bruteforce(spark, sf_dir, k=k, probe_mod=probe_mod)
        .select("query_id", "neighbor_id")
        .persist()
    )
    exact.count()  # materialize before fan-out (lazy persist races)
    base = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    fams = {
        "lsh": ann_topk_lsh(spark, sf_dir, k=k, probe_mod=probe_mod, dims=dims),
        "ivf": ann_topk_ivf(spark, sf_dir, k=k, probe_mod=probe_mod),
        "ivf2": ann_topk_ivf(spark, sf_dir, k=k, probe_mod=probe_mod, nprobe=2),
        "pq": ann_topk_pq(spark, sf_dir, k=k, probe_mod=probe_mod),
        "ivfpq": ann_topk_ivfpq(spark, sf_dir, k=k, probe_mod=probe_mod),
    }
    parts = []
    for fam, approx in fams.items():
        hits = (
            exact.join(
                approx.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_semi",
            )
            .groupBy("query_id")
            .agg(F.count("*").alias("n_hits"))
        )
        parts.append(
            base.join(hits, "query_id", "left")
            .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)).cast("long"))
            .select(
                F.lit(fam).alias("index_family"),
                "query_id",
                "n_exact",
                "n_hits",
                (F.col("n_hits") / F.lit(float(k))).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


QUANT_LEVELS = 256


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension scalar quantization (int8-style, 256 levels) with a
    reconstruction-error report — the 4× vector-compression step an ANN
    index applies before sharding 100 TB of embeddings.

    Two phases: (1) per-dimension corpus min/max — ``posexplode`` to
    (dim, x) then one map-side-combined aggregate over d=|dims| keys;
    the d-row result is a documented bounded collect (64 rows here,
    ≤ a few thousand for any real model) shipped back as TWO array
    literals, so (2) encode is a ZERO-shuffle scan-side projection:
    ``transform``'s (element, index) lambda quantizes each coordinate
    against its dimension's range — code = floor((x−mn)/(mx−mn)·256)
    clamped to [0, 255], constant dims coding to 0.  Dequantized
    midpoint reconstruction gives the per-vector MSE.

    Output: (vec_id, n_dims, code_sum, code_min, code_max, mse) — scalar
    summaries rather than the code array, so the oracle hash-compares
    engine-portably; a production run would write the codes column."""
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    stats = (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .orderBy("dim")
        .collect()
    )
    mns = F.lit([float(r.mn) for r in stats])
    mxs = F.lit([float(r.mx) for r in stats])

    def code(x: Column, i: Column) -> Column:
        mn = F.element_at(mns, i + 1)
        mx = F.element_at(mxs, i + 1)
        raw = F.floor((x.cast("double") - mn) / F.nullif(mx - mn, F.lit(0.0)) * QUANT_LEVELS)
        return F.least(F.lit(QUANT_LEVELS - 1), F.greatest(F.lit(0), F.coalesce(raw, F.lit(0)))).cast("long")

    def recon(c: Column, i: Column) -> Column:
        mn = F.element_at(mns, i + 1)
        mx = F.element_at(mxs, i + 1)
        return mn + (c.cast("double") + 0.5) / QUANT_LEVELS * (mx - mn)

    codes = F.transform(F.col("embedding"), lambda x, i: code(x, i))
    sq_err = F.zip_with(
        F.col("embedding"),
        F.transform(codes, lambda c, i: recon(c, i)),
        lambda x, r: (x.cast("double") - r) * (x.cast("double") - r),
    )
    mse = F.aggregate(sq_err, F.lit(0.0), lambda a, v: a + v) / F.size("embedding")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        F.aggregate(codes, F.lit(0).cast("long"), lambda a, v: a + v).alias("code_sum"),
        F.array_min(codes).alias("code_min"),
        F.array_max(codes).alias("code_max"),
        mse.alias("mse"),
    )


PQ_SUBSPACES = 8
PQ_CODEBOOK = 16


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance as a left fold — the same sequential IEEE add
    order as the oracle's list_sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_codebook(emb: DataFrame, n_sub: int, n_cent: int):
    """Deterministic PQ codebook (subvectors of the n_cent lowest vec_ids
    — the ann_topk_ivf trick that keeps a clustering-dependent operator
    oracle-checkable; production would k-means each subspace).  Returns
    (one-row DataFrame with codebook[s][c] = centroid c of subspace s,
    sub_len); the n_cent-row collect is the documented bounded one.

    The codebook is a broadcast RELATION, not a plan literal (round 4):
    consumers cross-join the single row so the plan stays O(1) in
    n_sub×n_cent×sub_len — a literal codebook stops compiling at
    production codebook sizes, the same plan-size bomb the kmeans/IVF
    centroid matrices had."""
    cent_rows = emb.orderBy("vec_id").limit(n_cent).select("embedding").collect()
    sub_len = len(cent_rows[0].embedding) // n_sub
    cb_df = emb.sparkSession.createDataFrame(
        [(
            [
                [
                    [float(x) for x in r.embedding[s * sub_len : (s + 1) * sub_len]]
                    for r in cent_rows
                ]
                for s in range(n_sub)
            ],
        )],
        "codebook: array<array<array<double>>>",
    )
    return cb_df, sub_len


def _pq_sub(col: Column, s: Column, sub_len: int) -> Column:
    return F.slice(col, s * sub_len + 1, sub_len)


def _pq_best(codebook: Column, sub_len: int, col: Column, s: Column) -> Column:
    """Per-subspace argmin over centroids as array_min of (dist, code)
    structs — min by distance, ties to the LOWER code; the struct carries
    the winning distance out for distortion sums."""
    cands = F.transform(
        F.element_at(codebook, s + 1),
        lambda c, i: F.struct(
            _sq_l2(_pq_sub(col, s, sub_len), c).alias("d"), i.alias("code")
        ),
    )
    return F.array_min(cands)


def embedding_pq(
    spark: SparkSession,
    sf_dir: str,
    n_sub: int = PQ_SUBSPACES,
    n_cent: int = PQ_CODEBOOK,
) -> DataFrame:
    """Product quantization: split each d-dim vector into ``n_sub``
    subvectors and code each against a per-subspace codebook of
    ``n_cent`` centroids — the codebook compression (d floats → n_sub
    bytes) behind every billion-scale ANN index, one level beyond
    ``embedding_quantize``'s scalar per-dimension codes.

    Codebooks are deterministic (subvectors of the ``n_cent`` lowest
    vec_ids — the ann_topk_ivf trick that keeps a clustering-dependent
    operator oracle-checkable; production would k-means each subspace)
    and ride a one-row broadcast relation (plan O(1) in codebook size —
    see ``_pq_codebook``), so encoding is a ZERO-shuffle scan-side
    projection: per subspace, argmin of squared L2 distance over the
    n_cent candidates, ties to the lower code.  Reconstruction
    distortion per vector is the sum of subspace residuals — exact IEEE
    arithmetic, same sequence in the oracle.

    Output: (vec_id, code_sum, code_min, code_max, distortion) — scalar
    code summaries (hash-portable), distortion = Σ‖subvec − centroid‖²."""
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    cb_df, sub_len = _pq_codebook(emb, n_sub, n_cent)
    codebook = F.col("codebook")
    per_sub = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda s: _pq_best(codebook, sub_len, F.col("embedding"), s),
    )
    codes = F.transform(per_sub, lambda b: b["code"].cast("long"))
    distortion = F.aggregate(
        F.transform(per_sub, lambda b: b["d"]), F.lit(0.0), lambda a, v: a + v
    )
    return emb.crossJoin(F.broadcast(cb_df)).select(
        "vec_id",
        F.aggregate(codes, F.lit(0).cast("long"), lambda a, v: a + v).alias("code_sum"),
        F.array_min(codes).alias("code_min"),
        F.array_max(codes).alias("code_max"),
        distortion.alias("distortion"),
    )


def ann_topk_pq(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    probe_mod: int = 100,
    n_sub: int = PQ_SUBSPACES,
    n_cent: int = PQ_CODEBOOK,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: corpus vectors are represented
    ONLY by their product-quantization codes; each probe ranks candidates
    by Σ_s ‖probe_sub_s − centroid[s][code_s]‖² — the memory-bound search
    mode of a PQ index (the corpus never rereads its floats at query
    time; at 100 TB that is the difference between scanning codes at
    n_sub bytes/vector and scanning raw vectors at 4d bytes/vector).

    Same deterministic codebooks as ``embedding_pq``; probes broadcast;
    the per-(probe, vector) ADC distance folds over the vector's code
    array against the probe's inline subspace-distance expression — a
    scan-side projection over the broadcast-joined corpus, then the
    standard per-query top-k window.  Approximate BY DESIGN (distance to
    a centroid, not to the true vector) but deterministic, so the oracle
    hash-matches exactly.  Ties break (distance asc, neighbor_id asc).

    Output: (query_id, neighbor_id, rank, adc) — adc rounded 6 dp.
    The probes×k list is session-memoized (_TOPK_MEMO)."""
    return _memo_topk(
        spark,
        (id(spark), "pq", sf_dir, k, probe_mod, n_sub, n_cent),
        lambda: _ann_topk_pq_plan(spark, sf_dir, k, probe_mod, n_sub, n_cent),
    )


def _ann_topk_pq_plan(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    probe_mod: int,
    n_sub: int,
    n_cent: int,
) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    cb_df, sub_len = _pq_codebook(emb, n_sub, n_cent)
    codebook = F.col("codebook")
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda s: _pq_best(codebook, sub_len, F.col("embedding"), s)["code"],
    )
    # encode side: attach the codebook spine, emit codes, DROP the spine —
    # corpus rows never carry the codebook column past the scan
    corpus = emb.crossJoin(F.broadcast(cb_df)).select(
        F.col("vec_id").alias("neighbor_id"), codes.alias("codes")
    )
    # ADC side: the codebook rides the (tiny) probe set into the broadcast
    # — |probes| copies of the codebook, still a few MB at any real nprobe.
    # Probes come from the SHARED capped panel (_queries_and_corpus): a raw
    # rate filter here bypassed ANN_MAX_PROBES and made the ADC scan the
    # one quadratic component of the recall eval on the round-10 scale
    # ladder (probes × corpus both growing; 55 s → 235 s at 2× corpus).
    _, panel = _queries_and_corpus(spark, sf_dir, probe_mod)
    probes = panel.crossJoin(F.broadcast(cb_df))
    # ADC: fold the candidate's code array with (code, subspace-index) —
    # each term is the probe subvector's distance to the CODED centroid
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(n_sub - 1)),
            lambda c, s: _sq_l2(
                _pq_sub(F.col("q_emb"), s, sub_len),
                F.element_at(F.element_at(codebook, s + 1), c.cast("int") + 1),
            ),
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    scored = (
        corpus.join(F.broadcast(probes), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("adc", 6).alias("adc"),
        )
    )


def ann_topk_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    probe_mod: int = 100,
    n_centroids: int = N_CENTROIDS,
    nprobe: int = 2,
    n_sub: int = PQ_SUBSPACES,
    n_cent: int = PQ_CODEBOOK,
) -> DataFrame:
    """IVF×PQ composed index — the deployed billion-scale ANN shape
    (FAISS ``IVFx,PQy``): the coarse quantizer restricts each probe to
    its ``nprobe`` nearest cells, and WITHIN the cells candidates are
    ranked by PQ asymmetric distance over their codes — the corpus
    contributes only (cell, codes) at query time, never its floats.
    Completes the family: ``ann_topk_ivf`` prunes but reranks on raw
    vectors; ``ann_topk_pq`` compresses but scans every code; this does
    both, which is what makes 100 TB of vectors searchable (cell prune ×
    n_sub-bytes-per-vector scan).

    Deterministic throughout (same lowest-vec_id coarse centroids and
    per-subspace codebooks as the parent operators; argmax/argmin ties
    to the lower id; ADC folds subspace terms in index order), so the
    DuckDB oracle hash-matches exactly.  The two model matrices ride ONE
    one-row broadcast relation (cent_df × cb_df) — plan O(1) in both.

    Output: (query_id, neighbor_id, rank, adc) — per probe, the k
    nearest in-cell candidates by ADC (asc, ties to lower neighbor).
    The probes×k list is session-memoized (_TOPK_MEMO)."""
    return _memo_topk(
        spark,
        (id(spark), "ivfpq", sf_dir, k, probe_mod, n_centroids, nprobe, n_sub, n_cent),
        lambda: _ann_topk_ivfpq_plan(
            spark, sf_dir, k, probe_mod, n_centroids, nprobe, n_sub, n_cent
        ),
    )


def _ann_topk_ivfpq_plan(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    probe_mod: int,
    n_centroids: int,
    nprobe: int,
    n_sub: int,
    n_cent: int,
) -> DataFrame:
    emb, probes = _queries_and_corpus(spark, sf_dir, probe_mod)
    cent_df = _ivf_centroid_relation(emb, n_centroids)
    cb_df, sub_len = _pq_codebook(emb, n_sub, n_cent)
    # one row: coarse matrix + codebooks (broadcast-hinted so the 1×1
    # cross join plans as BroadcastNestedLoop, never CartesianProduct)
    model = cent_df.crossJoin(F.broadcast(cb_df))
    codebook = F.col("codebook")
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda s: _pq_best(codebook, sub_len, F.col("embedding"), s)["code"],
    )
    # encode side: cell assignment + PQ codes in ONE scan-side projection;
    # the corpus never carries the model columns past the scan
    corpus = emb.crossJoin(F.broadcast(model)).select(
        F.col("vec_id").alias("neighbor_id"),
        _ivf_cell(F.col("embedding")).alias("cell"),
        codes.alias("codes"),
    )
    # probe side: nprobe best cells (cosine desc, ties to lower cent_id),
    # carrying the codebook forward for the ADC fold
    top_cells = F.transform(
        F.slice(
            F.reverse(F.array_sort(_ivf_scored_cells(F.col("q_emb")))), 1, nprobe
        ),
        lambda s: -s["neg_id"],
    )
    probe_side = probes.crossJoin(F.broadcast(model)).select(
        "query_id", "q_emb", F.col("codebook"), F.explode(top_cells).alias("cell")
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(n_sub - 1)),
            lambda c, s: _sq_l2(
                _pq_sub(F.col("q_emb"), s, sub_len),
                F.element_at(F.element_at(codebook, s + 1), c.cast("int") + 1),
            ),
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    scored = (
        corpus.join(F.broadcast(probe_side), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("adc", 6).alias("adc"),
        )
    )


# batch-inference demo head: deterministic pseudo-weights (Knuth
# multiplicative hash of the dimension index), fixed bias.  A real
# deployment loads trained weights; the plan is identical.
SCORE_TOP_K = 100
SCORE_BIAS = -0.1
EMB_DIM = 64


def score_weights(d: int = EMB_DIM) -> list[float]:
    return [round(((i * 2654435761) % 1000) / 1000 - 0.5, 3) for i in range(d)]


def embedding_score_topk(
    spark: SparkSession, sf_dir: str, k: int = SCORE_TOP_K
) -> DataFrame:
    """Batch model inference over the embedding corpus — the scoring
    pass every trained model needs at corpus scale: logistic head
    ``sigmoid(w·x + b)`` with the weight vector as a broadcast LITERAL
    array (no join, no UDF — the dot product folds inside whole-stage
    codegen exactly like the ANN distance kernels), then the global
    top-k by score via TakeOrderedAndProject.

    Float parity: the dot folds left-to-right over the dimension index
    in both engines (same contract the green ANN family relies on);
    exp/division are single IEEE ops.

    Output: (vec_id, label, logit, score) — the k highest-scoring."""
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    w = F.array(*[F.lit(x) for x in score_weights()])
    logit = _dot(F.col("embedding"), w) + F.lit(SCORE_BIAS)
    return (
        emb.select(
            "vec_id",
            "label",
            logit.alias("logit"),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


TRUNC_DIMS = (8, 16, 32, 64)


def embedding_truncation_recall(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    probe_mod: int = 100,
    dims: tuple[int, ...] = TRUNC_DIMS,
) -> DataFrame:
    """Dimension-ablation (matryoshka-style) retrieval evaluation:
    recall@k of cosine top-k computed over only the FIRST d' dimensions,
    for each d' in ``dims``, against the full-dimension exact top-k —
    the measurement behind serving truncated embeddings (d'·4 bytes per
    vector scanned instead of d·4; the recall column is what that buys).

    Same harness shape as ``ann_recall_eval_all``: the exact baseline is
    computed once and persisted; each ablation is a brute-force cosine
    over ``slice(embedding, 1, d')`` (broadcast probes, per-query top-k
    window, ties to the lower neighbor), then a left-semi hit count.
    The full-d ablation row doubles as a self-check (recall 1.0 by
    construction).

    Output: (n_dims, query_id, n_exact, n_hits, recall)."""
    exact = (
        ann_topk_bruteforce(spark, sf_dir, k=k, probe_mod=probe_mod)
        .select("query_id", "neighbor_id")
        .persist()
    )
    exact.count()  # materialize before fan-out (lazy persist races)
    base = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    emb, probes = _queries_and_corpus(spark, sf_dir, probe_mod)
    parts = []
    for d in dims:
        scored = (
            emb.join(F.broadcast(probes), F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                cosine(
                    F.slice(F.col("q_emb"), 1, d), F.slice(F.col("embedding"), 1, d)
                ).alias("cos"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("neighbor_id")
        )
        topk = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id")
        )
        hits = (
            exact.join(topk, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").alias("n_hits"))
        )
        parts.append(
            base.join(hits, "query_id", "left")
            .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)).cast("long"))
            .select(
                F.lit(d).cast("long").alias("n_dims"),
                "query_id",
                "n_exact",
                "n_hits",
                # n_exact, not k: when a probe has fewer than k exact
                # neighbors, hits/k would cap below 1.0 even for a
                # perfect ablation — recall is hits over TRUTH size
                (F.col("n_hits") / F.col("n_exact")).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


NEG_K = 5
NEG_SAMPLE_MOD = 10   # negative candidate pool = 1/mod of the corpus


def embedding_negative_samples(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    neg_k: int = NEG_K,
    probe_mod: int = 100,
    sample_mod: int = NEG_SAMPLE_MOD,
) -> DataFrame:
    """Contrastive training-pair assembly: for every probe anchor, its
    exact top-``k`` cosine neighbors as POSITIVES plus ``neg_k``
    deterministic hash-sampled non-neighbors as NEGATIVES — the
    (anchor, positive, negatives) triple layout an embedding-model
    trainer consumes, with each negative's cosine carried so the batch's
    hardness is inspectable (in-batch negatives being "too easy" is the
    classic contrastive failure mode).

    Determinism without randomness: the candidate pool is a
    hash-bucketed corpus slice (``h(vec_id) % sample_mod == 0``) and
    each anchor ranks its non-positive candidates by a PAIR hash
    ``h(query_id || '|' || vec_id)`` — per-anchor pseudo-random order,
    reproducible in SQL, no rand() seed drift.  Positives are excluded
    by anti-join before ranking, so a negative can never be a true
    neighbor.

    Scale shape: the pool fan-out is |probes| × |corpus|/``sample_mod``
    — both knobs scale-tunable; the per-anchor window ranks only the
    sampled candidates.  Output: (query_id, vec_id, role, rank, cos)."""
    from ..functions.hashing import portable_hash60

    emb, probes = _queries_and_corpus(spark, sf_dir, probe_mod)
    pos = ann_topk_bruteforce(spark, sf_dir, k=k, probe_mod=probe_mod)
    cand = emb.filter(portable_hash60(F.col("vec_id")) % sample_mod == 0)
    pairs = cand.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    nonpos = pairs.join(
        pos.select("query_id", F.col("neighbor_id").alias("vec_id")),
        ["query_id", "vec_id"],
        "left_anti",
    )
    pair_h = portable_hash60(
        F.concat_ws("|", F.col("query_id"), F.col("vec_id"))
    )
    w = Window.partitionBy("query_id").orderBy(pair_h.asc(), F.asc("vec_id"))
    negs = (
        nonpos.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= neg_k)
        .select(
            "query_id",
            "vec_id",
            F.lit("negative").alias("role"),
            F.col("rn").cast("long").alias("rank"),
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 6).alias("cos"),
        )
    )
    positives = pos.select(
        "query_id",
        F.col("neighbor_id").alias("vec_id"),
        F.lit("positive").alias("role"),
        "rank",
        "cos",
    )
    return positives.unionByName(negs)


KNN_VOTE_K = 5


def embedding_knn_classifier(
    spark: SparkSession, sf_dir: str, k: int = KNN_VOTE_K, probe_mod: int = 100
) -> DataFrame:
    """k-NN classification over the embedding corpus: each probe vector
    (the standard ``vec_id % probe_mod`` probe slice) takes the
    majority label of its k exact-cosine nearest neighbors, evaluated
    against its own label as a confusion matrix — similarity search
    powering the classic label-propagation eval (the "is this
    embedding space good enough to classify with" readout that
    accompanies every recall@k report).

    Determinism: the neighbor list is the exact bruteforce top-k with
    the (cos desc, neighbor_id) tie order the ANN family pins; the
    vote is integer counts with a two-key argmax (count desc, then
    SMALLEST label via max-of-struct on (cnt, -label)) — no float
    enters the decision after the rank filter.

    Scale shape: identical to ann_topk_bruteforce (probe-broadcast
    scored join + per-probe rank window) plus one |probes×k| label
    join and two tiny aggregates.  The IVF/PQ variants drop in for the
    scored join at larger corpora; the eval contract stays the same.

    Output: (label_actual, label_pred, n_probes)."""
    topk = ann_topk_bruteforce(spark, sf_dir, k=k, probe_mod=probe_mod)
    labels = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    votes = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nbr_label"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "nbr_label")
        .agg(F.count("*").alias("cnt"))
    )
    picked = votes.groupBy("query_id").agg(
        F.max(
            F.struct(F.col("cnt"), (-F.col("nbr_label")).alias("neg"))
        ).alias("m")
    ).select("query_id", (-F.col("m.neg")).alias("label_pred"))
    return (
        picked.join(
            labels.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("label_actual"),
            ),
            "query_id",
        )
        .groupBy("label_actual", "label_pred")
        .agg(F.count("*").alias("n_probes"))
    )


RRF_K0 = 60
RRF_TOP_K = 5


def ann_topk_rrf_fusion(
    spark: SparkSession,
    sf_dir: str,
    k: int = RRF_TOP_K,
    k0: int = RRF_K0,
) -> DataFrame:
    """RECIPROCAL-RANK FUSION of two ANN indexes — the standard hybrid-
    retrieval combiner (Cormack, Clarke & Büttcher, SIGIR 2009):
    rrf(q, n) = Σ_lists 1/(k0 + rank_list(n)), here over the IVF and
    sign-LSH candidate lists, which err in DIFFERENT directions (cell
    boundaries vs hyperplane boundaries) — fusing them recovers recall
    neither index has alone, at zero extra scan cost since both lists
    already exist.

    Plan: union of the two (query_id, neighbor_id, rank) lists (each
    index's own bounded plan — this operator adds no corpus scan), one
    groupBy at candidate grain (≤ 2k rows per query), a per-query
    window for the fused top-k.  At deployment the two lists are the
    served indexes' outputs; fusion cost is O(queries · k).

    Determinism: each term 1/(k0+rank) is one IEEE division of exact
    integers; a candidate has ≤ 2 terms, so the sum is order-free; fused
    ties break on neighbor_id.

    Output: (query_id, neighbor_id, n_lists, rrf, rrf_rank) — fused
    top-k per query."""
    ivf = ann_topk_ivf(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    lsh = ann_topk_lsh(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    both = ivf.unionByName(lsh)
    scored = both.groupBy("query_id", "neighbor_id").agg(
        F.count("*").alias("n_lists"),
        F.sum(F.lit(1.0) / (F.lit(k0) + F.col("rank"))).alias("rrf"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rrf_rank", F.row_number().over(w))
        .filter(F.col("rrf_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "n_lists",
            F.round("rrf", 6).alias("rrf"),
            F.col("rrf_rank").cast("long").alias("rrf_rank"),
        )
    )
