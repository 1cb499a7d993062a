"""Distributed graph algebra over DataFrame joins.

The dedup family already covers connected components (union-find +
label propagation + a recursive-CTE twin, operators/dedup.py); this
module holds the other classic scale-out graph primitive: TRIANGLE
COUNTING with degree orientation — the standard MapReduce/Spark
formulation (count each triangle exactly once by orienting every edge
from its lower-(degree, id) endpoint to the higher one, then join
wedges with the closing edge).

Why orientation is the scale story: a naive wedge enumeration fans out
Σ deg(v)² — quadratic at hub nodes.  Orienting by (degree, id) caps
every node's OUT-degree at O(√E) on any graph, so the wedge join is
bounded by Σ dout² ≤ E^1.5 — the classic bound — and hub nodes stop
being the bottleneck.  All arithmetic is integer, so the DuckDB oracle
is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.tables import read_table
from ..functions import memo

# drop items from abnormally large orders before pairing: a W-item order
# contributes W·(W−1)/2 edges (same quadratic-block hazard as the dedup
# blockers; TPC-H orders hold ≤7 items, so this only guards pathologies)
TRI_MAX_ORDER_ITEMS = 16

# broadcast the closing-edge set only while it is genuinely small: 2 longs
# per edge ≈ 16 B raw → ~80 MB at the default gate, comfortably inside a
# single executor's broadcast budget.  Above the gate the edge list is no
# longer an in-memory index and the probe becomes a shuffle semi-join
# (bloom-pruned on the wedge side when the sketch aggregate is available).
TRI_BROADCAST_MAX_EDGES = 5_000_000


def _edge_bloom_predicate(closing: DataFrame, n_edges: int):
    """Map-side bloom predicate over the closing-edge set, or ``None``.

    Builds the same ``BloomFilterAggregate`` / ``BloomFilterMightContain``
    expression pair Spark's own runtime-filter injection
    (InjectRuntimeFilter) uses — they are Catalyst-internal and not in the
    SQL function registry, so the expressions are constructed directly via
    the classic-mode ``ExpressionUtils`` bridge.  The aggregated sketch is
    collected to the driver and embedded as a binary LITERAL: bounded by
    the same ceiling as Spark's runtime filters (64 Mbit = 8 MB — a fixed
    cap, NOT proportional to the edge count, unlike the broadcast this
    path replaces), which is precisely the constant/scalar-subquery shape
    ``might_contain`` demands.  Returns a Column predicate on (v, w), or
    ``None`` on any construction failure so the caller degrades to the
    plain shuffle semi-join — the bloom is a pruning optimization, never a
    correctness dependency (false positives only admit extra rows into the
    exact semi-join)."""
    # ~10 bits/item ≈ 1% fpp; clamp to Spark's runtime-filter creation
    # ceiling (spark.sql.optimizer.runtime.bloomFilter.maxNumBits)
    n_bits = min(max(n_edges * 10, 1024), 67_108_864)
    try:
        from pyspark.sql.column import Column

        jvm = closing.sparkSession._jvm
        eu = jvm.org.apache.spark.sql.classic.ExpressionUtils

        def expr_of(c):
            return eu.expression(c._jc)

        agg = jvm.org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            expr_of(F.expr("xxhash64(v, w)")),
            expr_of(F.lit(int(n_edges)).cast("long")),
            expr_of(F.lit(int(n_bits)).cast("long")),
        )
        sketch = closing.select(
            Column(eu.column(agg.toAggregateExpression())).alias("edge_bloom")
        )
        blob = bytes(sketch.collect()[0]["edge_bloom"])
        mc = jvm.org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            expr_of(F.lit(blob)), expr_of(F.expr("xxhash64(v, w)"))
        )
        return Column(eu.column(mc))
    except Exception as exc:  # pragma: no cover - Spark build internals
        # Loudly degrade: a Spark version bump that moves these internal
        # classes would otherwise silently drop the pruning path forever
        # (semantics survive — the plain semi-join is exact — but the
        # wedge-side row reduction is the whole point of this branch).
        import warnings

        warnings.warn(
            "edge-bloom construction failed "
            f"({type(exc).__name__}: {exc}); falling back to the plain "
            "shuffle semi-join without wedge-side bloom pruning",
            RuntimeWarning,
            stacklevel=2,
        )
        return None


# Session-cached shared artifacts (``functions/memo.py``).  All five
# graph operators (pagerank, triangles, k-core, communities, substitutes)
# consume the SAME deduped co-purchase edge set — lineitem's per-order
# distinct item pairs minus oversized orders — and the order-pair build
# dominates every graph query, so it is built once per (session, dataset
# version, cap) as a ``localCheckpoint``ed frame, like the staging model
# six marts read.  The degree table, the triangle counts and the LPA
# labeling each feed two or more operators and are cached the same way.
# At 100 TB each is a written, bucketed table that every graph job scans.
# ``localCheckpoint(eager=True)`` both materializes the blocks and
# truncates lineage, so every consumer starts from a flat scan.


def _warn_hub_drop(
    op: str, spark: SparkSession, sf_dir: str, deg: DataFrame, max_center_deg: int
) -> None:
    """Warn (once per session/op/dataset/cap) how many hub centers the
    degree cap excludes from wedge-pair generation.  ``deg`` must carry
    the degree column as ``deg``.  Counting the hubs is a Spark action,
    so the count is session-cached: a repeat call schedules no job and
    warns no more."""
    import warnings

    def count_and_warn() -> int:
        n_dropped = deg.filter(F.col("deg") > max_center_deg).count()
        if n_dropped:
            # blame the operator's caller (this → cached → _warn_hub_drop
            # → operator → caller)
            warnings.warn(
                f"{op}: {n_dropped} hub centers above deg {max_center_deg} "
                "excluded from pair generation",
                stacklevel=5,
            )
        return n_dropped

    memo.cached(spark, sf_dir, ("hub_drop", op, max_center_deg), count_and_warn)


# perfbench/common.py calls this name; it clears the whole session cache
clear_copurchase_memo = memo.clear


def copurchase_edges(
    spark: SparkSession, sf_dir: str, max_order_items: int = TRI_MAX_ORDER_ITEMS
) -> DataFrame:
    """The deduped, hub-capped co-purchase edge set (x < y), built once
    per (session, dataset, cap) and shared by every graph operator.

    Columns: (x, y) with x < y, one row per undirected edge.  Callers
    must treat the frame as IMMUTABLE shared state: derive (alias,
    union, join) but never unpersist it.

    Build shape (round 8): one groupBy(order) → sorted item array →
    in-row index-pair explode → distinct, replacing the earlier
    per-order self-join.  Saves a whole shuffle (the join's second
    exchange) and measures ~1.8x faster at sf0.1; output is
    row-identical (pinned by test against the join formulation).
    Trade-off made explicit: the aggregation buffers one O(W) item
    array per order before the size gate drops oversized orders,
    where the join form anti-joined them away pre-pairing — an O(W)
    spillable buffer in exchange for never materializing the join's
    two map outputs.  The gate itself is equivalent: |distinct items|
    ≤ max_order_items either way.

    Round-11 session 3: the per-(order, part) ``distinct`` that used to
    precede the groupBy is gone from the CODE, but the physical plan is
    UNCHANGED — Catalyst's RemoveRedundantAggregates already eliminated
    the aggregate-below-aggregate because ``collect_set`` is duplicate-
    insensitive (verified: the before/after formatted plans are
    identical, 3 exchanges each incl. the spread repartition).  The
    removal is intent-clarifying simplification, not a shuffle win;
    output is row-identical (same pinned test) because the size gate reads
    |collect_set| = |distinct items| either way."""
    return memo.cached(
        spark,
        sf_dir,
        ("edges", max_order_items),
        lambda: _copurchase_edges_build(spark, sf_dir, max_order_items),
    )


def _copurchase_edges_build(spark: SparkSession, sf_dir: str, max_order_items: int) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem", spread=True).select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    arrs = (
        li.groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("ps"))
        .filter((F.size("ps") >= 2) & (F.size("ps") <= max_order_items))
    )
    pairs = arrs.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.slice("ps", 1, F.size("ps") - 1),
                    lambda x, i: F.transform(
                        F.slice(F.col("ps"), i + 2, F.size("ps")),
                        lambda y: F.struct(x.alias("x"), y.alias("y")),
                    ),
                )
            )
        ).alias("e")
    )
    return pairs.select("e.x", "e.y").distinct().localCheckpoint(eager=True)


def _copurchase_edges_join_form(
    spark: SparkSession, sf_dir: str, max_order_items: int = TRI_MAX_ORDER_ITEMS
) -> DataFrame:
    """The original per-order self-join edge build, kept as the
    independent formulation the equality test pins the explode build
    against (and the shape to prefer if a corpus's per-order item
    lists outgrow comfortable aggregation buffers)."""
    li = (
        read_table(spark, sf_dir, "lineitem", spread=True)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    sized = li.groupBy("o").agg(F.count("*").alias("w"))
    li = li.join(
        F.broadcast(sized.filter(F.col("w") > max_order_items).select("o")),
        "o",
        "left_anti",
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
        .distinct()
    )


def copurchase_sym(
    spark: SparkSession, sf_dir: str, max_order_items: int = TRI_MAX_ORDER_ITEMS
) -> DataFrame:
    """Symmetrized view (src, dst) of the shared edge set — a cheap
    union over the checkpointed artifact, derived per call (consumers
    persist/partition it with query-specific layouts)."""
    edges = copurchase_edges(spark, sf_dir, max_order_items)
    return edges.select(F.col("x").alias("src"), F.col("y").alias("dst")).unionByName(
        edges.select(F.col("y").alias("src"), F.col("x").alias("dst"))
    )


def copurchase_degrees(
    spark: SparkSession, sf_dir: str, max_order_items: int = TRI_MAX_ORDER_ITEMS
) -> DataFrame:
    """Per-node degree table (node, deg) over the symmetrized edges,
    memoized like the edge set (|V| rows; doubles as the node table).
    Same immutability contract as ``copurchase_edges``."""
    return memo.cached(
        spark,
        sf_dir,
        ("degrees", max_order_items),
        lambda: copurchase_sym(spark, sf_dir, max_order_items)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=True),
    )


# power-iteration depth for the PageRank report: enough to separate the
# hubs from the periphery, small enough that the unrolled oracle stays
# readable.  Deterministic — both engines run exactly this many steps.
PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def parts_copurchase_pagerank(
    spark: SparkSession,
    sf_dir: str,
    n_iter: int = PAGERANK_ITERS,
    damping: float = PAGERANK_DAMPING,
    max_order_items: int = TRI_MAX_ORDER_ITEMS,
) -> DataFrame:
    """PageRank over the part co-purchase graph — the third classic
    scale-out graph primitive next to connected components (dedup) and
    triangle counting: fixed-depth power iteration
    ``r' = (1−d)/N + d·Σ_in r/outdeg`` on the symmetrized edge set.

    Plan: the undirected edge set (same construction + quadratic-block
    guard as the triangle counter) symmetrizes into an adjacency list
    that is hash-partitioned ON THE SOURCE KEY and persisted ONCE; every
    iteration is then one join of the (small) rank vector against that
    pinned adjacency plus one groupBy on the destination — the rank
    vector alone moves through the network each step, the O(E) adjacency
    never re-shuffles (the classic Spark PageRank partitioning story).
    The graph is undirected so every node has outdeg ≥ 1 — no dangling
    mass term — and the destination groupBy covers every node each
    iteration, so no outer-join backfill is needed either.

    Determinism: ranks are IEEE doubles; the only cross-engine hazard is
    summation ORDER, whose ulp-level noise sits ~9 orders of magnitude
    under the harness's 6-dp hash rounding.  Iteration count is fixed —
    no convergence test, so no float-threshold branch.

    Output: (part_id, degree, rank) for every node in the graph."""
    sym = copurchase_sym(spark, sf_dir, max_order_items)
    # deg doubles as the node table: one row per vertex, reused by the
    # adjacency build, the rank init AND the final labeling — the shared
    # memoized artifact rather than a per-query |E|-sized shuffle
    deg = copurchase_degrees(spark, sf_dir, max_order_items).select(
        F.col("node").alias("src"), "deg"
    )
    n_nodes = deg.count()  # scalar; plan constant (checkpointed: a cheap scan)
    # the pinned adjacency: the join's own exchange hash-partitions it on
    # src, so every iteration's rank join lines up against this layout
    # with no further adjacency shuffle (the stationary side of the loop)
    adj = sym.join(deg, "src").persist()
    try:
        ranks = deg.select(
            F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("rank")
        )
        base = (1.0 - damping) / n_nodes
        for _ in range(n_iter):
            ranks = (
                adj.join(ranks, adj.src == ranks.node)
                .select(F.col("dst"), (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy(F.col("dst").alias("node"))
                .agg((F.lit(base) + F.lit(damping) * F.sum("c")).alias("rank"))
            )
        out = (
            ranks.join(
                deg.select(F.col("src").alias("node"), "deg"), "node"
            ).select(
                F.col("node").alias("part_id"),
                F.col("deg").alias("degree"),
                "rank",
            )
        )
        # materialize before unpersisting the tables the plan feeds on
        out = out.localCheckpoint(eager=True)
    finally:
        # only the query-local adjacency layout is released; the shared
        # edge/degree artifacts stay memoized for the session
        adj.unpersist()
    return out


def parts_copurchase_triangles(
    spark: SparkSession,
    sf_dir: str,
    max_order_items: int = TRI_MAX_ORDER_ITEMS,
    broadcast_max_edges: int = TRI_BROADCAST_MAX_EDGES,
) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph.

    Graph: parts are nodes; an edge connects two parts that appear in
    the same order (distinct pairs over lineitem — the co-occurrence
    join every market-basket analysis starts from).  A triangle is
    three parts that pairwise co-occur — the tightly-coupled product
    triple a recommender mines.

    Plan: per-order distinct item lists pair within the order (bounded
    by ``max_order_items``²), dedup to the edge set [one shuffle]; the
    degree table joins back to orient each edge low→high by
    (degree, part); the wedge self-join on the shared LOW endpoint
    [bounded Σ dout² by orientation] left-semi-joins the closing edge;
    each triangle then credits its three corners.

    The closing-edge probe is size-gated: edge sets ≤
    ``broadcast_max_edges`` are broadcast (map-side semi-join, zero
    wedge shuffle); above the gate the probe is a shuffle semi-join on
    (v, w) with a map-side bloom prune of the wedge stream — the shape
    that survives a 100× edge-count scale-up where a broadcast would
    fail outright.  Both paths are hash-equal by construction and pinned
    equal on the planted-graph fixture.

    Output: (part_id, n_triangles), parts in ≥1 triangle.  The counts
    are a session-cached localCheckpointed artifact shared with the
    clustering-coefficient report (same immutability contract as the
    edge/degree artifacts): the wedge join, the most expensive plan in
    the family, runs once, paid by whichever consumer runs first."""
    return memo.cached(
        spark,
        sf_dir,
        ("triangles", max_order_items, broadcast_max_edges),
        lambda: _triangle_counts(spark, sf_dir, max_order_items, broadcast_max_edges),
    )


def _triangle_counts(
    spark: SparkSession, sf_dir: str, max_order_items: int, broadcast_max_edges: int
) -> DataFrame:
    lazy, oriented = _build_triangle_counts(
        spark, sf_dir, max_order_items, broadcast_max_edges
    )
    out = lazy.localCheckpoint(eager=True)
    # the |V|-row counts are pinned; the oriented-edge layout was only
    # needed to build them — release it (cache-release discipline)
    oriented.unpersist()
    return out


def _build_triangle_counts(
    spark: SparkSession,
    sf_dir: str,
    max_order_items: int,
    broadcast_max_edges: int,
) -> tuple[DataFrame, DataFrame]:
    """The LAZY triangle-count plan plus the persisted oriented-edge
    handle it reads — split out of ``parts_copurchase_triangles`` so
    plan tests can inspect the pre-checkpoint semi-join shape (the
    memoized public frame is an RDD scan that hides it).  Callers own
    the handle: unpersist it once the plan is materialized."""
    edges = copurchase_edges(spark, sf_dir, max_order_items)
    # the count drives the broadcast-vs-shuffle gate on the closing-edge
    # probe (cheap: a scan of the checkpointed shared artifact)
    n_edges = edges.count()

    deg = copurchase_degrees(spark, sf_dir, max_order_items).select(
        F.col("node").alias("n"), F.col("deg").alias("d")
    )
    # orient each edge from the lower (degree, id) endpoint; carry the
    # target's key so the wedge join can order its two far endpoints
    keyed = (
        edges.join(deg.select(F.col("n").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("n").alias("y"), F.col("d").alias("dy")), "y")
    )
    fwd = F.struct(F.col("dx").alias("d"), F.col("x").alias("n")) < F.struct(
        F.col("dy").alias("d"), F.col("y").alias("n")
    )
    oriented = keyed.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("v"),
        F.when(fwd, F.struct(F.col("dy").alias("d"), F.col("y").alias("n")))
        .otherwise(F.struct(F.col("dx").alias("d"), F.col("x").alias("n")))
        .alias("kv"),
    ).persist()
    oriented.count()

    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.kv") < F.col("e2.kv")),
    ).select(
        F.col("e1.u").alias("u"), F.col("e1.v").alias("v"), F.col("e2.v").alias("w")
    )
    # the closing-edge probe is the hot path: the wedge stream is Σ dout²
    # rows.  While the edge set fits an in-memory index (≤ the gate:
    # 2 longs/edge, ~80 MB default) broadcast it so the semi-join stays
    # map-side over the wedges; beyond that a broadcast would blow the
    # driver/executor memory outright, so the probe becomes a shuffle
    # semi-join on (v, w) — the wedge side pre-pruned by a bloom filter
    # built over the closing edges (false positives only admit extra rows
    # into the exact semi-join, never wrong results), which drops the
    # great majority of non-closing wedges before they ever shuffle.
    closing = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    if n_edges <= broadcast_max_edges:
        tris = wedges.join(F.broadcast(closing), ["v", "w"], "left_semi")
    else:
        bloom_pred = _edge_bloom_predicate(closing, n_edges)
        if bloom_pred is not None:
            # map-side prune of the wedge stream BEFORE it shuffles: only
            # wedges whose (v, w) might close survive into the semi-join
            wedges = wedges.filter(bloom_pred)
        tris = wedges.join(closing, ["v", "w"], "left_semi")
    out = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count("*").alias("n_triangles"))
    )
    return out, oriented


KCORE_DEG_NUM, KCORE_DEG_DEN = 7, 10   # k = ⌊0.7·mean degree⌋ (integer math)
KCORE_MAX_ROUNDS = 16


def parts_copurchase_kcore(
    spark: SparkSession,
    sf_dir: str,
    max_order_items: int = TRI_MAX_ORDER_ITEMS,
    max_rounds: int = KCORE_MAX_ROUNDS,
) -> DataFrame:
    """k-core of the co-purchase graph — the fourth classic graph
    primitive (CC, triangles, PageRank are its siblings): iteratively
    peel nodes of degree < k until a fixpoint; survivors form the
    maximal subgraph where everyone keeps ≥ k neighbors (the dense
    backbone recommenders and spam-ring hunts extract).

    k is data-derived scale-free: ⌊0.7·mean degree⌋ in pure integer
    arithmetic ((7·|sym|) // (10·|nodes|)) — a fixed absolute k goes
    vacuous (all-in or empty) as SF changes the degree scale.  The
    peel loop is a driver loop of bounded rounds; each round is one
    degree aggregate + two semi-joins, localCheckpointed so lineage
    stays flat.  Convergence within ``max_rounds`` is ASSERTED
    (ValueError otherwise, not a silently partial peel); the
    oracle unrolls exactly ``max_rounds`` rounds, which is safe
    BECAUSE peeling is idempotent at the fixpoint, so over-unrolling
    is a no-op.

    Scale shape (round-12 DEGREE-DECREMENT formulation, round-11 verdict
    item 5): the loop maintains the per-node degree table incrementally
    instead of re-aggregating the full edge set every round.  Per round:
    nodes with ``deg < k`` are removed; survivors' degrees DECREMENT by
    their edge count into the removed set (an aggregate over only the
    edges incident to this round's removals — ≪ E after round 1); the
    working edge set drops edges with a removed endpoint (two anti-joins
    over a monotonically shrinking set).  The old formulation paid a
    full E-sized degree aggregate per round on top of the E-sized edge
    rewrite; this one replaces the aggregate with a removed-incident one
    while keeping the same round semantics.

    EQUIVALENCE (row-identical to the recount formulation, pinned by
    test_kcore_* and the unchanged oracle): let V_r be the survivors
    after round r (V_0 = all nodes) and G[V_r] the induced subgraph.
    Invariant: entering round r+1, ``deg(v) = deg_{G[V_r]}(v)`` for
    every v ∈ V_r.  Base: init from the full-degree table.  Step: the
    round removes R = {v : deg(v) < k} — exactly the recount
    formulation's removals, by the invariant.  For a survivor v, its
    induced degree drops by |edges v→R|; the symmetrized edge table
    carries BOTH directions of every edge, so grouping the edges whose
    dst ∈ R by src counts exactly that, and each edge decrements at
    most once because edges touching R leave the working set the same
    round.  Convergence (R = ∅) ⟺ the recount loop's alive-count
    fixpoint, so the round count is unchanged.  The final degree table
    IS the output: core_degree(v) = deg_{G[V_final]}(v).

    Output: (part_id, core_degree) for k-core members."""
    # the peel loop destructively filters its working edge set, so the
    # shared symmetrized view is re-checkpointed into a query-local copy
    sym = (
        copurchase_sym(spark, sf_dir, max_order_items)
        .select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .localCheckpoint(eager=True)
    )
    n_sym = sym.count()
    n_nodes = sym.select("s").distinct().count()
    if n_nodes == 0:
        # empty filtered graph: no cores by definition (mirrors the
        # other graph operators' empty-result contract, not a crash)
        return sym.select(
            F.col("s").alias("part_id"), F.lit(0).cast("long").alias("core_degree")
        )
    k = (KCORE_DEG_NUM * n_sym) // (KCORE_DEG_DEN * n_nodes)

    # init from the session-shared degree artifact (identical node set:
    # every node appears as src in the symmetrized edges)
    deg = copurchase_degrees(spark, sf_dir, max_order_items).select(
        F.col("node").alias("s"), F.col("deg").alias("dg")
    ).localCheckpoint(eager=True)
    cur = sym
    for _ in range(max_rounds):
        # this round's removals; the eager pin feeds three consumers
        # (the convergence count, the decrement semi-join, both edge
        # anti-joins) with one |removed|-row materialization — the
        # round-11 ``keep`` checkpoint discipline carried over
        removed = deg.filter(F.col("dg") < k).select("s").localCheckpoint(eager=True)
        if removed.count() == 0:
            break
        # decrements: edges whose dst is removed, grouped by surviving
        # src — only removed-incident edges aggregate, not the full set
        dec = (
            cur.join(removed.select(F.col("s").alias("d")), "d", "left_semi")
            .groupBy("s")
            .agg(F.count("*").alias("cut"))
        )
        deg = (
            deg.join(removed, "s", "left_anti")
            .join(dec, "s", "left")
            .select("s", (F.col("dg") - F.coalesce("cut", F.lit(0))).alias("dg"))
            .localCheckpoint(eager=True)
        )
        cur = (
            cur.join(removed, "s", "left_anti")
            .join(removed.select(F.col("s").alias("d")), "d", "left_anti")
            .localCheckpoint(eager=True)
        )
    else:
        raise ValueError(
            f"k-core (k={k}) did not converge within {max_rounds} rounds; "
            "raise max_rounds (and the oracle unroll) for this graph"
        )
    return deg.select(F.col("s").alias("part_id"), F.col("dg").alias("core_degree"))


# Community LPA: synchronous rounds are fixed (both engines unroll the
# same depth); 4 rounds stabilizes the fixture graph and keeps the
# oracle's unrolled CTE chain readable.
LPA_ROUNDS = 4

def parts_copurchase_communities(
    spark: SparkSession,
    sf_dir: str,
    n_rounds: int = LPA_ROUNDS,
    max_order_items: int = TRI_MAX_ORDER_ITEMS,
) -> DataFrame:
    """Community detection over the part co-purchase graph: synchronous
    frequency-based LABEL PROPAGATION (Raghavan et al. 2007) — the
    fourth classic graph primitive here, next to PageRank / triangles /
    k-core.  Distinct from the dedup family's connected components: CC
    propagates the MIN label until each connected blob is one cluster;
    community LPA adopts each node's most COMMON neighbor label, so
    dense regions keep distinct labels inside one connected component
    (product "aisles" in the co-purchase graph, topic pockets in a
    similarity graph).

    Determinism (cross-engine): synchronous updates with a fixed round
    count and a two-key tie-break — adopt the label with the highest
    neighbor frequency, breaking count ties on the SMALLEST label — so
    every round is a pure function of the previous labeling (the
    classic async/random-order LPA is irreproducible by design; the
    synchronous min-tie-break variant is the oracle-checkable one).
    Labels and counts are integers throughout; the oracle unrolls the
    same ``n_rounds`` as materialized CTEs.

    Scale shape: per round, one E-sized join (labels onto the pinned
    adjacency) and two keyed aggregates — (dst, label) frequency, then
    per-dst argmax via max-struct — all map-side-combinable; the label
    vector alone (|V| rows) moves between rounds while the adjacency
    stays partitioned in place, exactly the PageRank loop discipline.
    Label oscillation (bipartite-ish flip-flop) is bounded by the fixed
    round count rather than a convergence test, so no nondeterministic
    early exit.

    Output: (part_id, community, community_size), one row per node.
    The |V|-row report is a session-cached localCheckpointed artifact
    shared with the modularity scorer (same immutability contract as
    the edge/degree/triangle artifacts): the 4-round propagation
    dominates both queries, so it runs once."""
    return memo.cached(
        spark,
        sf_dir,
        ("lpa", n_rounds, max_order_items),
        lambda: _lpa_communities(spark, sf_dir, n_rounds, max_order_items),
    )


def _lpa_communities(
    spark: SparkSession, sf_dir: str, n_rounds: int, max_order_items: int
) -> DataFrame:
    sym = copurchase_sym(spark, sf_dir, max_order_items)
    # hash-partition the pinned adjacency ON THE ROUND JOIN KEY (dst):
    # the cached layout then satisfies every round's join requirement,
    # so only the |V|-row label vector re-shuffles per round — the same
    # stationary-adjacency discipline as the PageRank loop (there the
    # deg-join's exchange provides it; the union here has no exchange,
    # so it is requested explicitly)
    adj = sym.repartition(F.col("dst")).persist()
    adj.count()  # materialize once; rounds reuse this layout
    try:
        # node table from the SESSION-SHARED degree artifact (every node
        # appears as src in the symmetrized edges, so the two node sets
        # are identical by construction) — replaces an E-sized distinct
        # over the adjacency with a scan of the memoized |V|-row frame
        # (round-11 session 3, guide §2.4)
        labels = copurchase_degrees(spark, sf_dir, max_order_items).select(
            "node", F.col("node").alias("label")
        )
        for _ in range(n_rounds):
            freq = (
                adj.join(labels, adj.dst == labels.node)
                .groupBy(F.col("src"), F.col("label"))
                .agg(F.count("*").alias("cnt"))
            )
            # argmax by (cnt desc, label asc) via one max-of-struct:
            # max((cnt, -label)) picks highest count, then smallest label
            labels = (
                freq.groupBy(F.col("src").alias("node"))
                .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m"))
                .select("node", (-F.col("m.neg")).alias("label"))
            )
        # Pin the FINAL labeling before fanning out (round-11 session 3,
        # guide §1.3 lazy-eval traps): the label vector feeds TWO
        # consumers — the community-size aggregate and the size join —
        # and unpinned, each replayed the entire n_rounds propagation
        # (AQE plans the broadcast build and the probe side as separate
        # query stages, so exchange reuse does not bridge them).
        # Same-session A/B at sf0.1: 15.3 → 10.6 s min-of-3, labeling
        # row-identical.
        labels = labels.localCheckpoint(eager=True)
        sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
        return (
            labels.join(F.broadcast(sizes), "label")
            .select(
                F.col("node").alias("part_id"),
                F.col("label").alias("community"),
                "community_size",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        # shared edge artifact stays cached; only the query-local
        # dst-partitioned adjacency layout is released
        adj.unpersist()


# Eigenvector-centrality power iteration: fixed depth, like PageRank —
# both engines unroll the same rounds, no convergence test.
EIGEN_ITERS = 5


def parts_copurchase_eigencentrality(
    spark: SparkSession,
    sf_dir: str,
    n_iter: int = EIGEN_ITERS,
    max_order_items: int = TRI_MAX_ORDER_ITEMS,
) -> DataFrame:
    """EIGENVECTOR centrality over the co-purchase graph — the influence
    measure PageRank approximates but does not equal: score x satisfies
    A·x = λ·x, computed by fixed-depth power iteration with L2
    normalization per round (x' = A·x / ||A·x||₂).  Distinct from
    PageRank in both plan and meaning: no damping teleport, no
    out-degree division — a node is central when its NEIGHBORS are
    central, period — so hubs adjacent to hubs separate from hubs
    adjacent to leaves (the Bonacich centrality recommenders use for
    "important because stocked next to important").

    Plan: consumes the SHARED memoized edge artifact (one adjacency,
    zero extra build cost in a session that ran any graph query); each
    round is one E-sized join + dst-keyed sum, then the L2 norm — a
    single-row global aggregate that rides back on a broadcast one-row
    spine (the lint-rule-5-provable shape: grouping-free aggregate
    build side).  Only the |V|-row score vector moves between rounds.

    Determinism: same argument as the PageRank twin — scores are IEEE
    doubles whose only cross-engine hazard is summation order, ulp-level
    noise ~9 orders below the harness's 6-dp rounding; sqrt is
    correctly rounded in both engines; iteration depth is fixed.

    Output: (part_id, degree, score), every node, L2-normalized."""
    sym = copurchase_sym(spark, sf_dir, max_order_items)
    deg = copurchase_degrees(spark, sf_dir, max_order_items).select(
        F.col("node").alias("src"), "deg"
    )
    adj = sym.join(deg, "src").persist()  # pinned per-query layout
    try:
        x = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("score"))
        for _ in range(n_iter):
            # checkpoint the |V|-row pre-norm vector: the norm scalar AND
            # the normalized vector both read y, so an unpinned y would be
            # re-evaluated twice per level — 2^n_iter join blowup (the
            # kcore-loop flat-lineage discipline; measured 17.8 s -> ~6 s)
            y = (
                adj.join(x, adj.src == x.node)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("score").alias("y"))
                .localCheckpoint(eager=True)
            )
            norm = y.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("nrm"))
            x = y.crossJoin(F.broadcast(norm)).select(
                "node", (F.col("y") / F.col("nrm")).alias("score")
            )
        out = (
            x.join(deg.select(F.col("src").alias("node"), "deg"), "node")
            .select(
                F.col("node").alias("part_id"),
                F.col("deg").alias("degree"),
                F.round("score", 6).alias("score"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        adj.unpersist()
    return out


# wedge-center degree cap for the neighborhood-similarity op: a center
# of degree d contributes d(d-1)/2 candidate pairs, so hubs are the
# quadratic hazard; centers above the cap are EXCLUDED (deterministic,
# mirrored by the oracle) and their count is surfaced via a warning.
SIM_MAX_CENTER_DEG = 64
SIM_TOP_K = 5


def parts_copurchase_substitutes(
    spark: SparkSession,
    sf_dir: str,
    k: int = SIM_TOP_K,
    max_center_deg: int = SIM_MAX_CENTER_DEG,
    max_order_items: int = TRI_MAX_ORDER_ITEMS,
) -> DataFrame:
    """SUBSTITUTE candidates from graph structure: parts whose
    co-purchase NEIGHBORHOODS overlap — cosine of binary adjacency
    vectors, sim(x,y) = |N(x)∩N(y)| / √(deg x · deg y) — ranked top-k
    per part.  The structural complement of the basket family:
    co-occurrence/lift (orders_basket_rules, session_cooccurrence)
    finds items bought TOGETHER (complements); items bought INSTEAD of
    each other rarely share an order but do share neighbors, which is
    exactly what this measures (the Amazon substitutes/complements
    distinction).

    Plan: common-neighbor counts are wedge enumeration — each center z
    emits its adjacency pairs, Σ deg(z)² total, so the quadratic hazard
    is hubs.  Centers above ``max_center_deg`` are dropped from pair
    GENERATION (their neighbors still appear as endpoints via other
    centers); the drop is deterministic, mirrored by the oracle, and
    counted — the operator warns with the number rather than capping
    silently.  At 100 TB the cap is the knob that bounds the shuffle at
    |centers|·cap² while keeping exact results for the non-hub graph.

    Determinism: counts and degrees are integers; sim's two sqrt/divide
    ops are fixed-order; the per-part rank orders (sim desc via the
    integer cross-product comparison? no — sim desc, then neighbor id)
    with row_number, the ANN-family tie discipline.

    Output: (part_id, substitute_id, common, sim, rank) — top-k rows
    per part that has any candidate."""
    sym = copurchase_sym(spark, sf_dir, max_order_items)
    deg = copurchase_degrees(spark, sf_dir, max_order_items).select(
        F.col("node").alias("src"), "deg"
    )
    _warn_hub_drop(
        "parts_copurchase_substitutes", spark, sf_dir, deg, max_center_deg
    )
    centers = sym.join(
        F.broadcast(
            deg.filter(F.col("deg") <= max_center_deg).select("src")
        ),
        "src",
        "left_semi",
    )
    ca, cb = centers.alias("ca"), centers.alias("cb")
    common = (
        ca.join(
            cb,
            (F.col("ca.src") == F.col("cb.src"))
            & (F.col("ca.dst") < F.col("cb.dst")),
        )
        .groupBy(
            F.col("ca.dst").alias("x"), F.col("cb.dst").alias("y")
        )
        .agg(F.count("*").alias("common"))
    )
    both = common.unionByName(
        common.select(
            F.col("y").alias("x"), F.col("x").alias("y"), "common"
        )
    )
    scored = (
        both.join(deg.select(F.col("src").alias("x"), F.col("deg").alias("dx")), "x")
        .join(deg.select(F.col("src").alias("y"), F.col("deg").alias("dy")), "y")
        .select(
            "x",
            "y",
            "common",
            (
                F.col("common")
                / (F.sqrt(F.col("dx").cast("double")) * F.sqrt(F.col("dy").cast("double")))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("x").orderBy(F.desc("sim"), F.asc("y"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("x").alias("part_id"),
            F.col("y").alias("substitute_id"),
            "common",
            F.round("sim", 6).alias("sim"),
            F.col("rank").cast("long").alias("rank"),
        )
        .localCheckpoint(eager=True)
    )
    return out


AA_MIN_COMMON = 2         # report pairs sharing >= this many neighbors
AA_MAX_CENTER_DEG = 64    # hubs above this degree do not GENERATE pairs


def parts_copurchase_adamic_adar(
    spark: SparkSession,
    sf_dir: str,
    min_common: int = AA_MIN_COMMON,
    max_center_deg: int = AA_MAX_CENTER_DEG,
    max_order_items: int = TRI_MAX_ORDER_ITEMS,
) -> DataFrame:
    """LINK PREDICTION over the co-purchase graph: Adamic-Adar scores for
    part pairs that are NOT yet connected but share common neighborhood —
    "these two parts are never bought together, but the market treats
    them alike; an edge is likely to appear".  The predictive complement
    of ``parts_copurchase_substitutes``: substitutes scores EVERY
    co-neighborhood pair (cosine), this one anti-joins the existing edge
    set away and weights each shared neighbor by 1/ln(deg) — a rare
    shared neighbor is strong evidence, a hub says nothing (Adamic &
    Adar, "Friends and neighbors on the Web", 2003).

    Plan: wedge enumeration over the SESSION-SHARED memoized edge /
    degree artifacts (copurchase_edges / copurchase_degrees — zero extra
    scans of lineitem).  Each center u with 2 <= deg(u) <=
    ``max_center_deg`` emits its C(deg,2) neighbor pairs carrying the
    center weight 1/ln(deg(u)); pairs aggregate (count, weight-sum) in
    one shuffle; the existing-edge anti-join runs on the same (x < y)
    key the edge artifact is stored under.  The center cap is the knob
    that bounds the wedge shuffle at |centers|*cap^2 — the identical
    hub discipline substitutes documents — and it is WHERE the weight
    function says the loss lives: a capped hub's weight is at most
    1/ln(cap), the least informative evidence in the measure.

    Determinism: the common-neighbor count is an exact integer; each
    center weight is one libm ln + one IEEE division on an integer
    degree (identical in both engines); the weight SUM is the only
    order-sensitive float (error ~1e-13 against the 6-dp hash rounding,
    the substitutes/pagerank-approved envelope).

    Output: (part_a, part_b, common, aa_score) for non-edge pairs with
    common >= ``min_common``; part_a < part_b."""
    edges = copurchase_edges(spark, sf_dir, max_order_items)
    sym = copurchase_sym(spark, sf_dir, max_order_items)
    deg = copurchase_degrees(spark, sf_dir, max_order_items).select(
        F.col("node").alias("src"), "deg"
    )
    _warn_hub_drop(
        "parts_copurchase_adamic_adar", spark, sf_dir, deg, max_center_deg
    )
    # deg >= 2: a degree-1 center has no pair to emit, and filtering it
    # here keeps 1/ln(1) from ever materializing
    centers = sym.join(
        F.broadcast(
            deg.filter(
                (F.col("deg") >= 2) & (F.col("deg") <= max_center_deg)
            ).withColumn(
                "w", F.lit(1.0) / F.log(F.col("deg").cast("double"))
            )
        ),
        "src",
    ).select("src", "dst", "w")
    ca, cb = centers.alias("ca"), centers.alias("cb")
    pairs = (
        ca.join(
            cb,
            (F.col("ca.src") == F.col("cb.src"))
            & (F.col("ca.dst") < F.col("cb.dst")),
        )
        .groupBy(F.col("ca.dst").alias("x"), F.col("cb.dst").alias("y"))
        .agg(
            F.count("*").alias("common"),
            F.sum(F.col("ca.w")).alias("aa"),
        )
        .filter(F.col("common") >= min_common)
    )
    # predicted links only: pairs already connected are not predictions.
    # Wedge pairs and the shared edge artifact use the same x < y key.
    return pairs.join(edges, ["x", "y"], "left_anti").select(
        F.col("x").alias("part_a"),
        F.col("y").alias("part_b"),
        "common",
        F.round("aa", 6).alias("aa_score"),
    )


def parts_copurchase_clustering_coef(
    spark: SparkSession,
    sf_dir: str,
    max_order_items: int = TRI_MAX_ORDER_ITEMS,
    broadcast_max_edges: int = TRI_BROADCAST_MAX_EDGES,
) -> DataFrame:
    """Per-node LOCAL CLUSTERING COEFFICIENT of the co-purchase graph:
    c(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for every node with deg ≥ 2 —
    the fraction of a part's co-purchase neighbors that are themselves
    co-purchased, the classic "how clique-like is this product's
    market" signal (Watts–Strogatz).  Nodes in no triangle score an
    exact 0 rather than vanishing, so the report separates "tightly
    bundled" from "hub of unrelated baskets" at a glance.

    Plan: a |V|-row left join of the SESSION-SHARED degree table against
    the session-cached triangle counts (the wedge join runs once per
    session and is shared with ``parts_copurchase_triangles``).  Nothing
    here touches an edge- or corpus-sized frame.

    Determinism: 2·tri and deg·(deg−1) are exact integers; the
    coefficient is one IEEE division — bit-identical cross-engine.

    Output: (part_id, degree, n_triangles, clustering_coef), deg ≥ 2."""
    tri = parts_copurchase_triangles(
        spark, sf_dir, max_order_items, broadcast_max_edges
    )
    deg = copurchase_degrees(spark, sf_dir, max_order_items)
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, deg["node"] == tri["part_id"], "left")
        .select(
            F.col("node").alias("part_id"),
            F.col("deg").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            (
                (F.lit(2) * F.coalesce("n_triangles", F.lit(0)))
                / (F.col("deg") * (F.col("deg") - 1))
            ).alias("clustering_coef"),
        )
    )


def parts_copurchase_jaccard_links(
    spark: SparkSession,
    sf_dir: str,
    min_common: int = AA_MIN_COMMON,
    max_center_deg: int = AA_MAX_CENTER_DEG,
    max_order_items: int = TRI_MAX_ORDER_ITEMS,
) -> DataFrame:
    """LINK PREDICTION via the JACCARD coefficient — the unweighted
    sibling of ``parts_copurchase_adamic_adar``: for part pairs NOT yet
    co-purchased, J(u,v) = |N(u)∩N(v)| / |N(u)∪N(v)|.  Where Adamic-Adar
    asks "how rare are the shared neighbors", Jaccard asks "how much of
    the two neighborhoods overlap at all" (Liben-Nowell & Kleinberg,
    "The link-prediction problem for social networks", 2007) — the two
    rank candidate edges differently exactly when one endpoint is a hub,
    so the pair of reports brackets the prediction.

    Plan: the identical wedge enumeration over the SESSION-SHARED
    memoized edge / degree artifacts as the Adamic-Adar twin (same
    center floor deg ≥ 2 and hub cap — the shuffle stays bounded at
    |centers|·cap² — and the same (x < y) anti-join key against the
    edge artifact), minus the per-center weight column: the common
    count is the wedge count, and |N(u)∪N(v)| = deg(u)+deg(v)−common
    reads off the UNCAPPED degree table, so no second neighborhood
    pass exists anywhere in the plan.  The endpoint-degree joins carry
    no broadcast hint: the pair table is bounded (|centers|·cap²) but
    the degree table is |V|-row — AQE broadcasts it at test SF and
    falls back to a shuffle join when |V| outgrows the threshold
    (round-10 advice: this was the module's one unbounded-at-scale
    hinted broadcast of a fact-derived table).

    KNOWN DOWNWARD BIAS (deliberate, oracle-mirrored): ``common``
    counts only shared neighbors that are eligible CENTERS — degree in
    [2, ``max_center_deg``] — while the denominator's deg(u)+deg(v)
    are UNCAPPED, so J is systematically understated for pairs whose
    shared neighbors include hubs (deg > cap) or leaves (deg = 1).
    The two sides of the ratio are measured over different graphs by
    construction; this is the price of the single bounded wedge pass
    (no second neighborhood enumeration at hub scale).  Rankings are
    still consistent for pairs whose common neighborhoods have the
    same hub exposure; absolute J values near hubs are lower bounds.

    Determinism: common and both degrees are exact integers; the
    coefficient is one IEEE division of exact operands — bit-identical
    cross-engine (no order-sensitive float sum at all, unlike the AA
    weight sum).

    Output: (part_a, part_b, common, jaccard) for non-edge pairs with
    common >= ``min_common``; part_a < part_b."""
    edges = copurchase_edges(spark, sf_dir, max_order_items)
    sym = copurchase_sym(spark, sf_dir, max_order_items)
    deg = copurchase_degrees(spark, sf_dir, max_order_items).select(
        F.col("node").alias("src"), "deg"
    )
    _warn_hub_drop(
        "parts_copurchase_jaccard_links", spark, sf_dir, deg, max_center_deg
    )
    centers = sym.join(
        F.broadcast(
            deg.filter((F.col("deg") >= 2) & (F.col("deg") <= max_center_deg))
        ),
        "src",
    ).select("src", "dst")
    ca, cb = centers.alias("ca"), centers.alias("cb")
    pairs = (
        ca.join(
            cb,
            (F.col("ca.src") == F.col("cb.src"))
            & (F.col("ca.dst") < F.col("cb.dst")),
        )
        .groupBy(F.col("ca.dst").alias("x"), F.col("cb.dst").alias("y"))
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    nonedges = pairs.join(edges, ["x", "y"], "left_anti")
    dx = deg.select(F.col("src").alias("x"), F.col("deg").alias("dx"))
    dy = deg.select(F.col("src").alias("y"), F.col("deg").alias("dy"))
    return (
        nonedges.join(dx, "x")
        .join(dy, "y")
        .select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            "common",
            F.round(
                F.col("common")
                / (F.col("dx") + F.col("dy") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


def parts_copurchase_degree_powerlaw(
    spark: SparkSession,
    sf_dir: str,
    max_order_items: int = TRI_MAX_ORDER_ITEMS,
) -> DataFrame:
    """DEGREE-DISTRIBUTION summary of the co-purchase graph with the
    continuous power-law MLE exponent: α̂ = 1 + n / Σᵢ ln(dᵢ / (dmin−½))
    with dmin = 1 (Clauset, Shalizi & Newman, "Power-law distributions
    in empirical data", SIAM Review 2009, eq. 3.1) — the one-scan
    "is this graph scale-free" diagnostic that decides whether the hub
    caps the wedge operators carry are load-bearing at production scale.

    Plan: one global aggregate over the SESSION-SHARED |V|-row degree
    table plus one global count over the shared edge artifact, combined
    on a broadcast one-row spine (lint-rule-5-provable: both sides are
    grouping-free aggregates).  Nothing edge- or fact-sized shuffles.

    Determinism: n, Σdeg, min, max and the edge count are exact
    integers; mean_deg is one IEEE division; the ln-sum is the only
    order-sensitive float (ulp noise ~9 orders below the 6-dp hash
    rounding — the AA-weight-sum-approved envelope).

    OUTPUT CONTRACT on ``alpha_mle`` (round-10 advice): this is the
    CSN continuous estimator evaluated at FIXED dmin = 1 over the
    ENTIRE degree distribution.  CSN eq. 3.1 assumes the power law
    holds from a *fitted* dmin (their §3.3 KS-minimization step); a
    distribution that is only power-law in its tail will pull the
    fixed-dmin α̂ toward the body's shape, so treat the reported value
    as a whole-distribution summary statistic — a cheap screen for
    "does a heavy tail exist at all" — not a publication-grade tail
    exponent.  For tail sensitivity, re-run the same closed form with
    the degree table pre-filtered to a few pinned dmin values and
    compare; the estimator is one aggregate either way.

    Output: one row (n_nodes, n_edges, min_deg, max_deg, mean_deg,
    alpha_mle)."""
    deg = copurchase_degrees(spark, sf_dir, max_order_items)
    edges = copurchase_edges(spark, sf_dir, max_order_items)
    deg_stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
        F.sum("deg").alias("sum_deg"),
        F.sum(F.log(F.col("deg").cast("double") / F.lit(0.5))).alias("sum_ln"),
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return deg_stats.crossJoin(F.broadcast(n_edges)).select(
        "n_nodes",
        "n_edges",
        "min_deg",
        "max_deg",
        F.round(F.col("sum_deg") / F.col("n_nodes"), 6).alias("mean_deg"),
        F.round(
            F.lit(1.0) + F.col("n_nodes") / F.col("sum_ln"), 6
        ).alias("alpha_mle"),
    )


PPR_ITERS = 5
PPR_DAMPING = 0.85
PPR_N_SEEDS = 8


def parts_copurchase_ppr(
    spark: SparkSession,
    sf_dir: str,
    n_iter: int = PPR_ITERS,
    damping: float = PPR_DAMPING,
    n_seeds: int = PPR_N_SEEDS,
    max_order_items: int = TRI_MAX_ORDER_ITEMS,
) -> DataFrame:
    """PERSONALIZED PageRank from a deterministic seed set — the
    recommender primitive global PageRank is not: restart mass returns
    to the SEEDS instead of spreading uniformly, so scores measure
    proximity to the seed neighborhood ("parts the market treats as
    close to our flagship parts"), the random-walk-with-restart kernel
    of Pixie-style recommenders (Eksombatchai et al., WWW 2018).
    Seeds are the ``n_seeds`` highest-degree nodes with the (deg DESC,
    node ASC) total tie-break, so the report is reproducible without a
    seed argument.

    Plan: same pinned-adjacency loop as the global-PageRank twin (the
    shared memoized edge/degree artifacts; only the rank vector moves
    between rounds) with one structural difference: the restart term is
    a |S|-row UNION into each round's dst-keyed sum rather than a
    constant, so nodes the walk has not reached simply never appear —
    the rank frame stays sparse (≤ the 5-hop ball around the seeds)
    instead of |V|-dense, which at production scale is the entire point
    of PPR over PageRank.  Each round's vector is localCheckpointed
    (the eigencentrality 2^n-lineage discipline).

    Determinism: seed choice is a total order on exact integers; ranks
    are IEEE doubles whose only hazard is summation order (~9 orders
    below the 6-dp rounding); iteration depth fixed, no convergence
    branch.

    Output: (part_id, degree, rank) for nodes with nonzero walk mass,
    6-dp rounded."""
    sym = copurchase_sym(spark, sf_dir, max_order_items)
    deg = copurchase_degrees(spark, sf_dir, max_order_items).select(
        F.col("node").alias("src"), "deg"
    )
    seeds = (
        deg.orderBy(F.desc("deg"), F.asc("src"))
        .limit(n_seeds)
        .select(F.col("src").alias("node"))
        .localCheckpoint(eager=True)  # pin: seeds feed every round + the output
    )
    restart = seeds.select(
        "node", F.lit((1.0 - damping) / n_seeds).alias("val")
    )
    adj = sym.join(deg, "src").persist()  # pinned per-query layout
    try:
        ranks = seeds.select("node", F.lit(1.0 / n_seeds).alias("rank"))
        for _ in range(n_iter):
            contrib = (
                adj.join(ranks, adj.src == ranks.node)
                .select(
                    F.col("dst").alias("node"),
                    (F.lit(damping) * F.col("rank") / F.col("deg")).alias("val"),
                )
            )
            # No per-round checkpoint (round-11 optimization): unlike the
            # eigencentrality loop (whose pre-norm vector feeds BOTH the
            # norm scalar and the normalized vector — the 2^n replay
            # hazard), each PPR rank vector feeds exactly ONE consumer,
            # the next round's join.  Lineage is linear, so the whole
            # fixed-depth loop executes as one pipelined query instead of
            # n_iter separate materialization jobs.
            ranks = (
                contrib.unionByName(restart)
                .groupBy("node")
                .agg(F.sum("val").alias("rank"))
            )
        out = ranks.join(
            deg.select(F.col("src").alias("node"), "deg"), "node"
        ).select(
            F.col("node").alias("part_id"),
            F.col("deg").alias("degree"),
            F.round("rank", 6).alias("rank"),
        )
        out = out.localCheckpoint(eager=True)
    finally:
        adj.unpersist()
    return out


def parts_copurchase_modularity(
    spark: SparkSession,
    sf_dir: str,
    n_rounds: int = LPA_ROUNDS,
    max_order_items: int = TRI_MAX_ORDER_ITEMS,
) -> DataFrame:
    """NEWMAN MODULARITY of the LPA communities — the quality score that
    turns ``parts_copurchase_communities`` from a labeling into a
    measurement: per community c, Q_c = m_c/m − (D_c/2m)² (intra-edge
    share minus the share a degree-preserving random graph would give
    it; Newman & Girvan 2004, eq. 15).  ΣQ_c is the partition's
    modularity — the number you compare label-propagation variants or
    round counts WITH; per-community rows also expose which "aisles"
    are real structure vs hub spillover.

    Plan: the LPA labeling (its own fixed-round plan over the shared
    adjacency) joins the SESSION-SHARED edge artifact twice (both
    endpoints → intra flag) and the shared degree table once — two
    E-sized equi-joins and two small aggregates; m rides a broadcast
    one-row spine (lint-rule-5-provable global aggregate).

    Determinism: m, m_c, D_c are exact integers; Q_c is a fixed-order
    IEEE expression of exact operands, 6-dp rounded.

    Output: (community, n_nodes, m_intra, d_total, q_contrib), one row
    per community."""
    labels = parts_copurchase_communities(
        spark, sf_dir, n_rounds, max_order_items
    ).select(F.col("part_id").alias("node"), "community")
    edges = copurchase_edges(spark, sf_dir, max_order_items)
    deg = copurchase_degrees(spark, sf_dir, max_order_items)
    m_tbl = edges.agg(F.count("*").alias("m"))
    la = labels.select(F.col("node").alias("x"), F.col("community").alias("cx"))
    lb = labels.select(F.col("node").alias("y"), F.col("community").alias("cy"))
    intra = (
        edges.join(la, "x")
        .join(lb, "y")
        .filter(F.col("cx") == F.col("cy"))
        .groupBy(F.col("cx").alias("community"))
        .agg(F.count("*").alias("m_intra"))
    )
    dtot = (
        deg.join(labels, "node")
        .groupBy("community")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("deg").alias("d_total"),
        )
    )
    return (
        dtot.join(intra, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce("m_intra", F.lit(0)).cast("long").alias("m_intra"),
            "d_total",
            F.coalesce("m_intra", F.lit(0)).alias("mi"),
            F.col("d_total").alias("dt"),
        )
        .crossJoin(F.broadcast(m_tbl))
        .select(
            "community",
            "n_nodes",
            "m_intra",
            "d_total",
            # + 0.0 normalizes IEEE negative zero: a zero-intra
            # community's -(d/2m)^2 rounds to -0.0 in DuckDB but +0.0 in
            # Spark, and the harness renders the sign (sf0.1 catch)
            (
                F.round(
                    F.col("mi") / F.col("m")
                    - (F.col("dt") / (F.lit(2) * F.col("m")))
                    * (F.col("dt") / (F.lit(2) * F.col("m"))),
                    6,
                )
                + F.lit(0.0)
            ).alias("q_contrib"),
        )
    )
