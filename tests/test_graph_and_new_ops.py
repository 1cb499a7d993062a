"""Planted-fixture ground truth for the round-4 additions whose oracles
mirror the same algorithm in SQL (parity alone could hide a shared
systematic bug): triangle counting, burst debounce, doc similarity."""

from __future__ import annotations

from datetime import datetime

from spotify_tracks_spark.functions import memo


def test_triangle_count_planted(spark, tmp_path):
    """Known graph: orders plant one triangle {A,B,C} (with a duplicated
    edge), a chordless 4-cycle {D,E,F,G} (no triangle), and a pendant
    edge — per-node counts must credit exactly the triangle corners."""
    from spotify_tracks_spark.operators.graph import parts_copurchase_triangles

    A, B, C, D, E, Fp, G = 1, 2, 3, 4, 5, 6, 7
    orders = {
        1: [A, B, C],     # triangle
        2: [A, B],        # duplicate edge AB (must not double-count)
        3: [C, D],        # pendant edge off the triangle
        4: [D, E], 5: [E, Fp], 6: [Fp, G], 7: [G, D],  # chordless cycle
    }
    rows = [(o, p) for o, parts in orders.items() for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")

    got = {
        r.part_id: r.n_triangles
        for r in parts_copurchase_triangles(spark, str(tmp_path)).collect()
    }
    assert got == {A: 1, B: 1, C: 1}


def test_triangle_shuffle_path_matches_broadcast(spark, tmp_path):
    """The size-gated closing-edge probe: forcing the over-gate shuffle
    path (broadcast_max_edges=0) must produce the identical counts, and
    its initial plan must NOT broadcast the closing-edge relation (the
    only broadcasts left are the pathology filter and the one-row bloom
    spine)."""
    from spotify_tracks_spark.operators.graph import parts_copurchase_triangles

    A, B, C, D = 1, 2, 3, 4
    orders = {1: [A, B, C], 2: [A, B, D], 3: [B, C, D], 4: [A, C, D]}  # K4
    rows = [(o, p) for o, parts in orders.items() for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")

    bcast = parts_copurchase_triangles(spark, str(tmp_path))
    shuf = parts_copurchase_triangles(spark, str(tmp_path), broadcast_max_edges=0)
    assert sorted(map(tuple, bcast.collect())) == sorted(map(tuple, shuf.collect()))
    # K4: every vertex sits in C(3,2)=3 triangles
    assert {r.n_triangles for r in shuf.collect()} == {3}

    # initial (pre-AQE) plan: the LeftSemi closing probe must be a
    # shuffle join, not a broadcast-hash join over the edge relation.
    # The public frame is memoized behind a localCheckpoint (an RDD scan
    # that hides the join), so inspect the LAZY builder's plan.
    from spotify_tracks_spark.operators.graph import (
        TRI_MAX_ORDER_ITEMS,
        _build_triangle_counts,
    )

    lazy, oriented = _build_triangle_counts(
        spark, str(tmp_path), TRI_MAX_ORDER_ITEMS, 0
    )
    plan = lazy._jdf.queryExecution().optimizedPlan().toString()
    oriented.unpersist()
    import re

    semi_hints = re.findall(r"Join LeftSemi[^\n]*", plan)
    assert semi_hints, "closing-edge semi-join missing from the plan"
    assert all("broadcast" not in h.lower() for h in semi_hints), semi_hints
    # the wedge stream must be bloom-pruned map-side before the shuffle
    assert "might_contain" in plan, "bloom prune missing from shuffle path"


def test_edge_bloom_predicate_active(spark):
    """The internal-expression bloom builder must be live in this Spark
    build (it guards the over-gate shuffle path); exact members always
    pass, and a disjoint probe set is mostly pruned."""
    from pyspark.sql import functions as F

    from spotify_tracks_spark.operators.graph import _edge_bloom_predicate

    edges = spark.range(1000).select(
        F.col("id").alias("v"), (F.col("id") + 1).alias("w")
    )
    pred = _edge_bloom_predicate(edges, 1000)
    assert pred is not None, "bloom construction failed in this Spark build"
    assert edges.filter(pred).count() == 1000  # no false negatives, ever
    disjoint = edges.select(
        (F.col("v") + 10_000_000).alias("v"), F.col("w")
    )
    assert disjoint.filter(pred).count() <= 20  # ≈1% fpp at 10 bits/item


def test_debounce_planted(spark, tmp_path):
    """Bursts chain off the previous event: 0s/30s/70s collapse into one
    burst (each gap <= 60) even though 70s is beyond the first event;
    200s starts a new burst; other (user, type) keys are independent."""
    from spotify_tracks_spark.operators.analytics import events_dedup_windowed

    base = datetime(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return datetime.fromtimestamp(base.timestamp() + s)

    rows = [
        (0, ts(0), 1, "click", 1.0, "{}"),
        (1, ts(30), 1, "click", 1.0, "{}"),   # 30s gap: same burst
        (2, ts(70), 1, "click", 1.0, "{}"),   # 40s gap: chains on
        (3, ts(200), 1, "click", 1.0, "{}"),  # 130s gap: new burst
        (4, ts(10), 1, "view", 1.0, "{}"),    # different type: kept
        (5, ts(20), 2, "click", 1.0, "{}"),   # different user: kept
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    kept = {
        r.event_id for r in events_dedup_windowed(spark, str(tmp_path)).collect()
    }
    assert kept == {0, 3, 4, 5}


def test_containment_planted(spark, tmp_path):
    """An excerpt embedded in a longer host must be caught by containment
    (C(A→B)=1.0) even though pair Jaccard is far below any near-dup
    threshold — the asymmetric case the symmetric families are blind to.
    A disjoint third doc emits nothing."""
    from spotify_tracks_spark.operators.dedup import dedup_containment

    inner = "the quick brown fox jumps over the lazy dog near the river"
    host = inner + " " + "and then a very long tail of unrelated content " * 4
    other = "completely different words about entirely separate subjects okay"
    spark.createDataFrame(
        [(1, inner), (2, host), (3, other)],
        "doc_id long, text string",
    ).selectExpr(
        "doc_id", "text", "'en' as lang", "'t' as source",
        "cast(length(text) as long) as n_chars",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")

    rows = dedup_containment(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.contain_a_in_b == 1.0  # every inner shingle occurs in host
    assert r.contain_b_in_a < 0.8  # host is NOT contained in the excerpt


def test_doc_similarity_planted(spark, tmp_path):
    """Two docs sharing one term rank each other; a disjoint doc emits
    nothing; cosine of single-shared-term two-term docs is 0.5."""
    from spotify_tracks_spark.operators.text_analysis import text_doc_similarity

    rows = [
        (1, "apple banana"),
        (2, "apple cherry"),
        (3, "kiwi melon"),
    ]
    spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r.doc_id, r.neighbor_id): (r.shared_terms, r.cos, r.rnk)
        for r in text_doc_similarity(spark, str(tmp_path)).collect()
    }
    assert got == {
        (1, 2): (1, 0.5, 1),
        (2, 1): (1, 0.5, 1),
    }


def test_pagerank_planted(spark, tmp_path):
    """Star-plus-path graph against an independent driver-side power
    iteration with the identical fixed-depth semantics; rank mass must
    stay 1 (no dangling nodes in an undirected graph) and the reported
    degree must be the true degree."""
    from spotify_tracks_spark.operators.graph import parts_copurchase_pagerank

    edges = [(1, 2), (1, 3), (1, 4), (4, 5)]
    rows = [(i + 1, p) for i, e in enumerate(edges) for p in e]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")

    got = {
        r.part_id: (r.degree, r.rank)
        for r in parts_copurchase_pagerank(spark, str(tmp_path)).collect()
    }

    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    nodes = sorted(adj)
    n, d = len(nodes), 0.85
    r = {v: 1.0 / n for v in nodes}
    for _ in range(5):
        r = {
            v: (1.0 - d) / n + d * sum(r[u] / len(adj[u]) for u in adj[v])
            for v in nodes
        }
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v][0] == len(adj[v])
        assert abs(got[v][1] - r[v]) < 1e-9
    assert abs(sum(x[1] for x in got.values()) - 1.0) < 1e-9
    # the hub of the star must outrank every leaf
    assert got[1][1] == max(x[1] for x in got.values())


def test_kcore_planted(spark, tmp_path):
    """Two 4-cliques + one pendant node: 13 edges over 9 nodes gives
    the data-derived k = (7*26)//(10*9) = 2, so the pendant (degree 1)
    peels and every clique member survives with core degree 3."""
    from datetime import datetime

    from spotify_tracks_spark.operators.graph import parts_copurchase_kcore

    cliq1 = [1, 2, 3, 4]
    cliq2 = [5, 6, 7, 8]
    edges = (
        [(a, b) for i, a in enumerate(cliq1) for b in cliq1[i + 1:]]
        + [(a, b) for i, a in enumerate(cliq2) for b in cliq2[i + 1:]]
        + [(1, 9)]                       # pendant
    )
    t = datetime(1997, 6, 1)
    rows = []
    for o, (x, y) in enumerate(edges, start=1):
        rows.append((o, x, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t))
        rows.append((o, y, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", t))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")

    got = {
        r.part_id: r.core_degree
        for r in parts_copurchase_kcore(spark, str(tmp_path)).collect()
    }
    assert got == {p: 3 for p in cliq1 + cliq2}


def test_kcore_multi_round_cascade(spark, tmp_path):
    """A 5-clique with a 3-node tail 1-6-7-8: 13 edges over 8 nodes gives
    k = (7*26)//(10*8) = 2.  Only the tail's end (8) starts below k, so
    the peel cascades one node a round: 8, then 7 (its degree decremented
    to 1 by round 1), then 6, which also decrements the surviving clique
    node 1 from 5 to 4.  This pins the degree-decrement path: without it
    the tail would survive and node 1 would keep degree 5."""
    import pytest

    from spotify_tracks_spark.operators.graph import parts_copurchase_kcore

    clique = [1, 2, 3, 4, 5]
    edges = [(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]] + [
        (1, 6), (6, 7), (7, 8)
    ]
    rows = [(o, p) for o, e in enumerate(edges, start=1) for p in e]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")

    got = {
        r.part_id: r.core_degree
        for r in parts_copurchase_kcore(spark, str(tmp_path)).collect()
    }
    assert got == {p: 4 for p in clique}
    # three peeling rounds plus the empty round that detects the fixpoint
    with pytest.raises(ValueError, match="did not converge within 3 rounds"):
        parts_copurchase_kcore(spark, str(tmp_path), max_rounds=3)


def test_communities_two_cliques_with_bridge(spark, tmp_path):
    """Two 4-cliques joined by a single bridge edge: frequency-based
    LPA must keep them as TWO communities (each clique converges to its
    own min node id), where min-label connected components would merge
    everything into one — the distinction the operator exists for."""
    from spotify_tracks_spark.operators.graph import (
        parts_copurchase_communities,
    )

    c1, c2 = [1, 2, 3, 4], [11, 12, 13, 14]
    edges = (
        [(a, b) for a in c1 for b in c1 if a < b]
        + [(a, b) for a in c2 for b in c2 if a < b]
        + [(4, 11)]  # bridge
    )
    rows = [(i + 1, p) for i, e in enumerate(edges) for p in e]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")

    got = {
        r.part_id: (r.community, r.community_size)
        for r in parts_copurchase_communities(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(c1) | set(c2)
    # Pin the invariant the LPA label INIT silently relies on (round-11
    # advice): the init reads the session-shared degree table instead of
    # an E-sized distinct over the adjacency, which is only correct while
    # copurchase_degrees covers exactly the adjacency's node set (true
    # because copurchase_sym unions both edge directions).  If degree
    # construction ever filtered nodes, communities would emit a wrong
    # node table with no failure at the init site — this catches it.
    from spotify_tracks_spark.operators.graph import copurchase_degrees

    degree_nodes = {
        r.node for r in copurchase_degrees(spark, str(tmp_path)).collect()
    }
    assert set(got) == degree_nodes, (
        "LPA label output must cover exactly the degree table's node set"
    )
    labels_c1 = {got[v][0] for v in c1}
    labels_c2 = {got[v][0] for v in c2}
    assert len(labels_c1) == 1 and len(labels_c2) == 1
    assert labels_c1 != labels_c2, "cliques must keep distinct communities"
    assert all(got[v][1] == 4 for v in c1 + c2)


def test_knn_classifier_planted_clusters(spark, tmp_path):
    """Two tight embedding clusters with distinct labels: every probe's
    k=5 neighbors are its own cluster, so classification is perfect."""
    import random

    from spotify_tracks_spark.operators.similarity import (
        embedding_knn_classifier,
    )

    rng = random.Random(7)
    rows = []
    for i in range(40):
        label = i % 2
        center = [10.0, 0.0, 0.0, 0.0] if label == 0 else [0.0, 10.0, 0.0, 0.0]
        vec = [c + rng.uniform(-0.5, 0.5) for c in center]
        # vec_id multiples of 100 become probes (probe_mod contract)
        rows.append((i * 100 if i < 6 else i * 100 + 1, vec, label))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{tmp_path}/embeddings.parquet")

    got = embedding_knn_classifier(spark, str(tmp_path)).collect()
    assert {(r.label_actual, r.label_pred) for r in got} == {(0, 0), (1, 1)}
    assert sum(r.n_probes for r in got) == 6


def test_substitutes_finds_never_copurchased_pair(spark, tmp_path):
    """Two parts that NEVER share an order but share both neighbors must
    be each other's top substitute at sim 1.0 — the structural signal
    co-occurrence miners are blind to."""
    from spotify_tracks_spark.operators.graph import (
        parts_copurchase_substitutes,
    )

    orders = [(1, [10, 30, 40]), (2, [20, 30, 40])]
    rows = [(o, p) for o, ps in orders for p in ps]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")

    got = {
        (r.part_id, r.rank): r
        for r in parts_copurchase_substitutes(spark, str(tmp_path)).collect()
    }
    top10 = got[(10, 1)]
    assert top10.substitute_id == 20
    assert top10.common == 2 and top10.sim == 1.0
    top20 = got[(20, 1)]
    assert top20.substitute_id == 10 and top20.sim == 1.0


def test_explode_edge_build_equals_join_form(spark):
    """The round-8 explode-form edge build (groupBy -> sorted array ->
    index-pair explode) must stay row-identical to the original
    per-order self-join formulation — two independent constructions of
    the same edge set, compared both ways at sf0.001."""
    from spotify_tracks_spark.operators.graph import (
        _copurchase_edges_join_form,
        copurchase_edges,
    )
    from tests.conftest import SF_SMOKE

    memo.clear()
    sf = SF_SMOKE
    fast = copurchase_edges(spark, sf)
    ref = _copurchase_edges_join_form(spark, sf)
    assert fast.exceptAll(ref).count() == 0
    assert ref.exceptAll(fast).count() == 0
    assert fast.count() > 0
    memo.clear()


def test_edge_build_wide_order_gate_both_forms(spark, tmp_path):
    """Round-8 verdict item 7: the join-form fallback is documented as
    the escape hatch for corpora whose per-order item lists outgrow
    aggregation buffers, but only same-data equality covered it.  Plant
    a fixture where the size gate actually FIRES — one 5-item order
    exceeding a lowered max_order_items=4 — and assert both forms (a)
    drop the oversized order entirely, (b) keep duplicate-item orders
    gated on DISTINCT item count (the documented equivalence), and (c)
    produce identical edges and degree tables."""
    from spotify_tracks_spark.operators.graph import (
        _copurchase_edges_join_form,
        copurchase_degrees,
        copurchase_edges,
    )

    wide = [1, 2, 3, 4, 5]          # 5 distinct items > gate of 4: dropped
    dup4 = [6, 7, 8, 9, 9, 9]       # 4 DISTINCT items: kept either way
    small = [1, 6]                  # survives; links the two groups
    orders = {1: wide, 2: dup4, 3: small}
    rows = [(o, p) for o, parts in orders.items() for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")

    memo.clear()
    try:
        d = str(tmp_path)
        fast = copurchase_edges(spark, d, max_order_items=4)
        ref = _copurchase_edges_join_form(spark, d, max_order_items=4)
        got = sorted((r.x, r.y) for r in fast.collect())
        want = sorted(
            [(6, 7), (6, 8), (6, 9), (7, 8), (7, 9), (8, 9), (1, 6)]
        )
        assert got == want, got          # no edge touches the wide order's pairs
        assert sorted((r.x, r.y) for r in ref.collect()) == want
        deg = {
            r.node: r.deg
            for r in copurchase_degrees(spark, d, max_order_items=4).collect()
        }
        assert deg == {1: 1, 6: 4, 7: 3, 8: 3, 9: 3}
    finally:
        memo.clear()


def test_adamic_adar_planted(spark, tmp_path):
    """Known graph: A,B both connect to C,D,E and D-E is also an edge.
    Expected predictions (min_common=2): (A,B) with common=3 and weight
    1/ln2 + 2/ln3 (C has degree 2, D and E degree 3); (C,D) and (C,E)
    with common=2, weight 2/ln3 (centers A,B).  (D,E) has common=2 but
    IS an edge — the anti-join must drop it.  A second call with
    max_center_deg=2 keeps only C as a center, proving the hub cap
    excludes degree-3 centers from pair generation."""
    import math

    from spotify_tracks_spark.operators.graph import (
        parts_copurchase_adamic_adar,
    )

    A, B, C, D, E = 1, 2, 3, 4, 5
    orders = {
        1: [A, C], 2: [B, C], 3: [A, D], 4: [B, D],
        5: [A, E], 6: [B, E], 7: [D, E],
    }
    rows = [(o, p) for o, parts in orders.items() for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")

    got = {
        (r.part_a, r.part_b): (r.common, r.aa_score)
        for r in parts_copurchase_adamic_adar(spark, str(tmp_path)).collect()
    }
    w2, w3 = 1.0 / math.log(2.0), 1.0 / math.log(3.0)
    assert got == {
        (A, B): (3, round(w2 + 2 * w3, 6)),
        (C, D): (2, round(2 * w3, 6)),
        (C, E): (2, round(2 * w3, 6)),
    }

    capped = {
        (r.part_a, r.part_b): (r.common, r.aa_score)
        for r in parts_copurchase_adamic_adar(
            spark, str(tmp_path), min_common=1, max_center_deg=2
        ).collect()
    }
    assert capped == {(A, B): (1, round(w2, 6))}


def test_clustering_coef_planted(spark, tmp_path):
    """Same planted graph as the triangle test (triangle {A,B,C}, a
    chordless 4-cycle, a pendant edge C-D): coefficients are exact
    rationals — A and B (deg 2, 1 triangle) score 1.0; C (deg 3, 1
    triangle) scores 2*1/(3*2) = 1/3; the cycle nodes (deg 2, 0
    triangles) score exactly 0 and must be PRESENT."""
    from spotify_tracks_spark.operators.graph import (
        parts_copurchase_clustering_coef,
    )

    A, B, C, D, E, Fp, G = 1, 2, 3, 4, 5, 6, 7
    orders = {
        1: [A, B, C],
        2: [A, B],
        3: [C, D],
        4: [D, E], 5: [E, Fp], 6: [Fp, G], 7: [G, D],
    }
    rows = [(o, p) for o, parts in orders.items() for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")

    got = {
        r.part_id: (r.degree, r.n_triangles, r.clustering_coef)
        for r in parts_copurchase_clustering_coef(spark, str(tmp_path)).collect()
    }
    assert got == {
        A: (2, 1, 1.0),
        B: (2, 1, 1.0),
        C: (3, 1, 2 * 1 / (3 * 2)),
        D: (3, 0, 0.0),
        E: (2, 0, 0.0),
        Fp: (2, 0, 0.0),
        G: (2, 0, 0.0),
    }


def test_triangle_counts_are_session_memoized(spark, tmp_path):
    """The wedge join runs once per (session, dataset): a second
    triangles call (with no Spark job) and the clustering-coefficient
    consumer must return the SAME checkpointed frame, and memo.clear()
    releases it."""
    from spotify_tracks_spark.operators import graph as g

    rows = [(1, 1), (1, 2), (1, 3)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")

    def triangle_entries():
        return [e.value for (_, key), e in memo._ENTRIES.items() if key[0] == "triangles"]

    memo.clear()
    t1 = g.parts_copurchase_triangles(spark, str(tmp_path))
    sc = spark.sparkContext
    sc.setJobGroup("tri-repeat", "repeat triangles plan build")
    try:
        t2 = g.parts_copurchase_triangles(spark, str(tmp_path))
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("tri-repeat") == []
    assert t1 is t2
    assert triangle_entries() == [t1]
    g.parts_copurchase_clustering_coef(spark, str(tmp_path))
    assert triangle_entries() == [t1]  # consumer reused, didn't rebuild
    memo.clear()
    assert not triangle_entries()


def test_hub_warning_once_and_jobless_repeat(spark, tmp_path):
    """The hub-cap warning counts dropped centers AT MOST ONCE per
    (session, op, dataset, cap) — round-9 verdict item 5: the per-call
    eager ``deg.filter(...).count()`` put a driver-blocking Spark job on
    the hot path purely for observability.  Pin (a) the warning fires
    exactly once across repeat invocations, and (b) a repeat invocation
    schedules ZERO Spark jobs at plan-construction time (everything it
    needs — edges, degrees, hub count — is session-cached)."""
    import warnings as w

    from spotify_tracks_spark.operators import graph as g

    # star graph: center 9 has degree 4 > cap 3 → one dropped hub
    rows = [(o, p) for o, (a, b) in enumerate(
        [(9, 1), (9, 2), (9, 3), (9, 4), (1, 2)]
    ) for p in (a, b)]
    df = spark.createDataFrame(
        [(o, p) for o, pair in enumerate([(9, 1), (9, 2), (9, 3), (9, 4), (1, 2)])
         for p in pair],
        "l_orderkey long, l_partkey long",
    )
    df.coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")

    memo.clear()
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        g.parts_copurchase_adamic_adar(
            spark, str(tmp_path), max_center_deg=3
        ).collect()
        first = [c for c in caught if "hub centers" in str(c.message)]
        assert len(first) == 1, [str(c.message) for c in caught]
        assert "1 hub centers above deg 3" in str(first[0].message)

    # repeat: same key → no warning, no count job.  Job-count pin via a
    # dedicated job group: plan construction must schedule nothing.
    sc = spark.sparkContext
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        sc.setJobGroup("hub-warn-repeat", "repeat adamic_adar plan build")
        try:
            g.parts_copurchase_adamic_adar(spark, str(tmp_path), max_center_deg=3)
        finally:
            sc.setJobGroup("", "")
        assert not [c for c in caught if "hub centers" in str(c.message)]
    assert sc.statusTracker().getJobIdsForGroup("hub-warn-repeat") == []

    # substitutes shares the helper but warns under its own op key
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        g.parts_copurchase_substitutes(spark, str(tmp_path), max_center_deg=3)
        subs = [c for c in caught if "parts_copurchase_substitutes" in str(c.message)]
        assert len(subs) == 1
    memo.clear()
