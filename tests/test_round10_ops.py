"""Planted-fixture ground truth for the round-10 additions whose oracles
mirror the same algorithm in SQL (parity alone could hide a shared
systematic bug): the link-prediction pair, the degree-MLE summary,
personalized PageRank, the Misra-Gries heavy-terms pass, readability,
tokenizer fertility, and the lagged cross-correlation."""

from __future__ import annotations

import math
from datetime import datetime, timedelta

from spotify_tracks_spark.functions import memo


def test_jaccard_links_planted(spark, tmp_path):
    """4-cycle A-B-C-D: the two diagonals (A,C) and (B,D) are non-edges
    sharing BOTH neighbors — common=2, |union| = 2+2-2 = 2, J = 1.0 —
    and no other pair clears min_common."""
    from spotify_tracks_spark.operators.graph import (
        parts_copurchase_jaccard_links,
    )

    A, B, C, D = 1, 2, 3, 4
    orders = {1: [A, B], 2: [B, C], 3: [C, D], 4: [D, A]}
    rows = [(o, p) for o, parts in orders.items() for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")
    memo.clear()
    try:
        got = {
            (r.part_a, r.part_b): (r.common, r.jaccard)
            for r in parts_copurchase_jaccard_links(spark, str(tmp_path)).collect()
        }
    finally:
        memo.clear()
    assert got == {(A, C): (2, 1.0), (B, D): (2, 1.0)}


def test_degree_powerlaw_planted(spark, tmp_path):
    """Same 4-cycle: 4 nodes of degree 2, 4 edges — mean 2.0 and the
    closed-form CSN alpha 1 + n/Σln(d/0.5) = 1 + 4/(4·ln 4)."""
    from spotify_tracks_spark.operators.graph import (
        parts_copurchase_degree_powerlaw,
    )

    orders = {1: [1, 2], 2: [2, 3], 3: [3, 4], 4: [4, 1]}
    rows = [(o, p) for o, parts in orders.items() for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")
    memo.clear()
    try:
        row = parts_copurchase_degree_powerlaw(spark, str(tmp_path)).collect()[0]
    finally:
        memo.clear()
    assert (row.n_nodes, row.n_edges, row.min_deg, row.max_deg) == (4, 4, 2, 2)
    assert row.mean_deg == 2.0
    assert abs(row.alpha_mle - (1.0 + 4 / (4 * math.log(4.0)))) < 1e-6


def test_ppr_planted_mass_and_reach(spark, tmp_path):
    """Star (hub 1, leaves 2-6) plus a DISCONNECTED pair {7,8}: with
    n_seeds=2 the deterministic seed order picks hub 1 (deg 5) then
    node 2 (deg-1 tie broken by id).  Invariants: total walk mass is
    exactly 1 per round (undirected graph, no dangling nodes), the hub
    outranks every leaf, and the disconnected pair gets NO rows —
    sparse-reach is the operator's whole point."""
    from spotify_tracks_spark.operators.graph import (
        parts_copurchase_ppr,
    )

    orders = {i: [1, i + 1] for i in range(1, 6)}  # star 1-{2..6}
    orders[6] = [7, 8]  # far component
    rows = [(o, p) for o, parts in orders.items() for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")
    memo.clear()
    try:
        got = {
            r.part_id: r.rank
            for r in parts_copurchase_ppr(spark, str(tmp_path), n_seeds=2).collect()
        }
    finally:
        memo.clear()
    assert 7 not in got and 8 not in got
    assert abs(sum(got.values()) - 1.0) < 1e-4  # 6-dp rounding x |V| slack
    assert got[1] == max(got.values())
    assert all(got[1] > got[leaf] for leaf in (3, 4, 5, 6))


def test_heavy_terms_mg_exact_under_compress(spark, tmp_path):
    """Planted skew with k small enough to force the per-partition MG
    compress step repeatedly: token 'aa' (50 of 100) is the only one
    with freq·k > n at k=3; 'bb' (30) misses (90 < 100).  The exact
    recount pass must emit exactly the true heavy set with exact
    counts, across multiple partitions."""
    from spotify_tracks_spark.operators.text_analysis import text_heavy_terms_mg

    fillers = [f"f{i}" for i in range(20)]
    toks = ["aa"] * 50 + ["bb"] * 30 + fillers
    assert len(toks) == 100
    # spread tokens across 10 docs / several partitions
    docs = [
        (i, " ".join(toks[i * 10 : (i + 1) * 10]), "en", "test", 0)
        for i in range(10)
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).repartition(4).write.parquet(f"{tmp_path}/documents.parquet")
    rows = text_heavy_terms_mg(spark, str(tmp_path), k=3).collect()
    got = {(r.token): (r.freq, r.n_total, r.share) for r in rows}
    assert got == {"aa": (50, 100, 0.5)}


def test_readability_planted(spark, tmp_path):
    """Hand-counted doc: 'Hello world. This is fun!' = 5 words, 2
    sentence-terminator runs, 6 vowel groups — Flesch 102.7775."""
    from spotify_tracks_spark.operators.text_analysis import text_readability

    spark.createDataFrame(
        [(1, "Hello world. This is fun!", "en", "test", 25)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    row = text_readability(spark, str(tmp_path)).collect()[0]
    assert (row.n_words, row.n_sentences, row.n_syllables) == (5, 2, 6)
    expect = 206.835 - 1.015 * (5 / 2) - 84.6 * (6 / 5)
    assert abs(row.flesch - round(expect, 6)) < 1e-9


def test_tokenizer_fertility_planted(spark, tmp_path):
    """'hello world' is 2 WORD_RE words and 2 BPE_RE tokens ('hello',
    ' world') over 11 chars: fertility 1.0, 5.5 chars/token."""
    from spotify_tracks_spark.operators.llm_prep import corpus_tokenizer_fertility

    spark.createDataFrame(
        [(1, "hello world", "xx", "test", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    row = corpus_tokenizer_fertility(spark, str(tmp_path)).collect()[0]
    assert (row.lang, row.n_docs, row.n_words, row.n_bpe_tokens) == ("xx", 1, 2, 2)
    assert row.fertility == 1.0
    assert row.chars_per_bpe_token == 5.5


def test_lagged_crosscorr_planted(spark, tmp_path):
    """Purchases are clicks shifted +2 days with identical NON-MONOTONE
    daily counts (a linear ramp would score 1.0 at every lag): the CCF
    must read an exact 1.0 at lag_days=2 (y_day = day+2) and strictly
    less at every other reported lag."""
    from spotify_tracks_spark.operators.timeseries import events_lagged_crosscorr

    counts = [2, 1, 4, 1, 8, 1]
    rows = []
    eid = 0
    for i, c in enumerate(counts):
        for _ in range(c):
            eid += 1
            rows.append((eid, datetime(2024, 1, 1 + i), 1, "click", 0.0, "{}"))
            eid += 1
            rows.append((eid, datetime(2024, 1, 3 + i), 1, "purchase", 0.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.lag_days: r.r
        for r in events_lagged_crosscorr(spark, str(tmp_path)).collect()
    }
    assert got[2] == 1.0
    assert all(v < 1.0 for lag, v in got.items() if lag != 2)


def test_embedding_dim_stats_planted(spark, tmp_path):
    """Two 2-d vectors [[0,2],[2,4]]: per-dim mean/std/min/max by hand
    (sample std = sqrt(2) on both dims)."""
    from spotify_tracks_spark.operators.clustering import embedding_dim_stats

    spark.createDataFrame(
        [(1, [0.0, 2.0], 0), (2, [2.0, 4.0], 1)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(f"{tmp_path}/embeddings.parquet")
    got = {
        r.dim: (r.n, r.mean, r.std, r.min_v, r.max_v)
        for r in embedding_dim_stats(spark, str(tmp_path)).collect()
    }
    s2 = round(math.sqrt(2.0), 6)
    assert got == {0: (2, 1.0, s2, 0.0, 2.0), 1: (2, 3.0, s2, 2.0, 4.0)}


def test_markov_entropy_planted(spark, tmp_path):
    """One user, sequence a->b then a->c (interleaved): from 'a' the
    chain branches 50/50 — exactly 1 bit; 'b' has one successor — 0."""
    from spotify_tracks_spark.operators.analytics import events_markov_entropy

    rows = [
        (1, datetime(2024, 1, 1, 0), 1, "a", 0.0, "{}"),
        (2, datetime(2024, 1, 1, 1), 1, "b", 0.0, "{}"),
        (3, datetime(2024, 1, 1, 2), 1, "a", 0.0, "{}"),
        (4, datetime(2024, 1, 1, 3), 1, "c", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.from_type: (r.n_out, r.n_successors, r.entropy_bits)
        for r in events_markov_entropy(spark, str(tmp_path)).collect()
    }
    # 'c' is terminal (no outgoing transition), so it has no row
    assert set(got) == {"a", "b"}
    assert got["a"] == (2, 2, 1.0)
    assert got["b"] == (1, 1, 0.0)


def test_modularity_two_triangles(spark, tmp_path):
    """Two disjoint triangles: LPA keeps them apart, m=6, each community
    has m_c=3 intra edges and D_c=6 — Q_c = 3/6 - (6/12)^2 = 0.25."""
    from spotify_tracks_spark.operators.graph import (
        parts_copurchase_modularity,
    )

    orders = {
        1: [1, 2], 2: [2, 3], 3: [1, 3],      # triangle A
        4: [4, 5], 5: [5, 6], 6: [4, 6],      # triangle B
    }
    rows = [(o, p) for o, parts in orders.items() for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")
    memo.clear()
    try:
        got = sorted(
            (r.n_nodes, r.m_intra, r.d_total, r.q_contrib)
            for r in parts_copurchase_modularity(spark, str(tmp_path)).collect()
        )
    finally:
        memo.clear()
    assert got == [(3, 3, 6, 0.25), (3, 3, 6, 0.25)]


def test_rake_planted(spark, tmp_path):
    """'red apple. green apple. of red apple' — 'of' is a stopword, so
    three phrase instances, word scores red=2 apple=2 green=2, both
    distinct phrases score 4.0 and tie-break alphabetically."""
    from spotify_tracks_spark.operators.text_analysis import text_rake_phrases

    spark.createDataFrame(
        [(1, "red apple. green apple. of red apple", "en", "t", 36)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    rows = text_rake_phrases(spark, str(tmp_path)).collect()
    got = [(r.phrase, r.n_words, r.score, r.phrase_rank) for r in rows]
    assert got == [("green apple", 2, 4.0, 1), ("red apple", 2, 4.0, 2)]


def test_rrf_fusion_recomputes_from_lists(spark):
    """Independent recomputation: collect the IVF and LSH lists at the
    smoke SF and re-derive every fused row's score and rank in Python —
    the operator must agree exactly (same 6-dp rounding)."""
    from spotify_tracks_spark.operators.similarity import (
        RRF_K0,
        ann_topk_ivf,
        ann_topk_lsh,
        ann_topk_rrf_fusion,
    )
    from .conftest import SF_SMOKE

    ivf = [(r.query_id, r.neighbor_id, r.rank) for r in ann_topk_ivf(spark, SF_SMOKE).collect()]
    lsh = [(r.query_id, r.neighbor_id, r.rank) for r in ann_topk_lsh(spark, SF_SMOKE).collect()]
    scores: dict = {}
    for q, n, rk in ivf + lsh:
        s, c = scores.get((q, n), (0.0, 0))
        scores[(q, n)] = (s + 1.0 / (RRF_K0 + rk), c + 1)
    expect = {}
    by_q: dict = {}
    for (q, n), (s, c) in scores.items():
        by_q.setdefault(q, []).append((-s, n, c))
    for q, cands in by_q.items():
        for i, (neg_s, n, c) in enumerate(sorted(cands)[:5], start=1):
            expect[(q, n)] = (c, round(-neg_s, 6), i)
    got = {
        (r.query_id, r.neighbor_id): (r.n_lists, r.rrf, r.rrf_rank)
        for r in ann_topk_rrf_fusion(spark, SF_SMOKE).collect()
    }
    assert got == expect


def test_zipf_slope_exact_power_law(spark, tmp_path):
    """freq = 12/rank exactly (12,6,4,3): ln-ln OLS must read slope -1,
    r2 = 1."""
    from spotify_tracks_spark.operators.text_analysis import text_zipf_slope

    toks = ["w1"] * 12 + ["w2"] * 6 + ["w3"] * 4 + ["w4"] * 3
    spark.createDataFrame(
        [(1, " ".join(toks), "en", "t", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    row = text_zipf_slope(spark, str(tmp_path)).collect()[0]
    assert row.n_terms == 4
    assert abs(row.slope - (-1.0)) < 1e-6
    assert abs(row.r2 - 1.0) < 1e-6
    assert abs(row.intercept - round(math.log(12.0), 6)) < 1e-6


def test_centroid_outliers_planted(spark, tmp_path):
    """Nine clustered vectors + one far point: exactly the far point
    clears z > 2."""
    from spotify_tracks_spark.operators.clustering import (
        embedding_centroid_outliers,
    )

    rows = [(i, [float(i % 3) * 0.1, 0.0], 0) for i in range(9)]
    rows.append((9, [10.0, 10.0], 1))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{tmp_path}/embeddings.parquet")
    got = [r.vec_id for r in embedding_centroid_outliers(spark, str(tmp_path)).collect()]
    assert got == [9]


def test_reorder_intervals_planted(spark, tmp_path):
    """Customer 1 orders on days 0/10/30 (gaps 10, 20); customer 2 has a
    single order and contributes nothing."""
    from spotify_tracks_spark.operators.tpch_shapes import (
        customers_reorder_intervals,
    )

    orders = [
        (1, 1, "O", 0.0, datetime(2024, 1, 1), "1-URGENT"),
        (2, 1, "O", 0.0, datetime(2024, 1, 11), "1-URGENT"),
        (3, 1, "O", 0.0, datetime(2024, 1, 31), "1-URGENT"),
        (4, 2, "O", 0.0, datetime(2024, 1, 5), "1-URGENT"),
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(1, "AUTOMOBILE", 0.0), (2, "BUILDING", 0.0)],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    ).coalesce(1).write.parquet(f"{tmp_path}/customer.parquet")
    rows = customers_reorder_intervals(spark, str(tmp_path)).collect()
    got = {
        r.c_mktsegment: (
            r.n_customers, r.n_gaps, r.avg_gap_days, r.min_gap_days, r.max_gap_days
        )
        for r in rows
    }
    assert got == {"AUTOMOBILE": (1, 2, 15.0, 10, 20)}


def test_stream_heavy_terms_matches_batch_under_compress(spark, tmp_path):
    """The streaming MG fold at k=3 over the planted skew corpus must
    emit the identical exact heavy set as the batch operator — the
    sequential-merge bound survives micro-batching."""
    from spotify_tracks_spark.streaming import stream_docs_heavy_terms

    fillers = [f"f{i}" for i in range(20)]
    toks = ["aa"] * 50 + ["bb"] * 30 + fillers
    docs = [
        (i, " ".join(toks[i * 10 : (i + 1) * 10]), "en", "test", 0)
        for i in range(10)
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).repartition(4).write.parquet(f"{tmp_path}/documents.parquet")
    rows = stream_docs_heavy_terms(
        spark, str(tmp_path), k=3, base=f"{tmp_path}/fold"
    ).collect()
    got = {r.token: (r.freq, r.n_total, r.share) for r in rows}
    assert got == {"aa": (50, 100, 0.5)}


def test_gopher_rules_planted(spark, tmp_path):
    """Doc 1 passes every rule (60 normal words incl. two stopwords);
    doc 2 fails exactly the word-count and stopword gates."""
    from spotify_tracks_spark.operators.llm_prep import corpus_gopher_rules

    good = "the quick brown fox jumps over a lazy dog today " * 6  # 60 words
    bad = "zap zip zop"
    spark.createDataFrame(
        [(1, good.strip() + ".", "en", "t", 0), (2, bad, "en", "t", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: (
            r.n_words, r.pass_word_count, r.pass_word_len, r.pass_symbol,
            r.pass_stopwords, r.pass_alpha, r.passes_all,
        )
        for r in corpus_gopher_rules(spark, str(tmp_path)).collect()
    }
    assert got[1] == (60, 1, 1, 1, 1, 1, 1)
    assert got[2] == (3, 0, 1, 1, 0, 1, 0)


def test_fulfillment_latency_planted(spark, tmp_path):
    """Gaps [1, 3] under one priority: avg 2.0 and the interpolated
    percentile triple (2.0, 2.8, 2.98)."""
    from spotify_tracks_spark.operators.tpch_shapes import (
        orders_fulfillment_latency,
    )

    spark.createDataFrame(
        [(1, 1, "O", 0.0, datetime(2024, 1, 1), "1-URGENT"),
         (2, 1, "O", 0.0, datetime(2024, 1, 1), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(f"{tmp_path}/orders.parquet")
    li = [
        (1, 1, 1, 1, 1.0, 0.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 2)),
        (2, 1, 1, 1, 1.0, 0.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 4)),
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")
    row = orders_fulfillment_latency(spark, str(tmp_path)).collect()[0]
    assert (row.n_items, row.avg_days) == (2, 2.0)
    assert row.p50 == 2.0
    assert abs(row.p90 - 2.8) < 1e-9
    assert abs(row.p99 - 2.98) < 1e-9


def test_top_component_planted_axis(spark, tmp_path):
    """All variance along dim 0 ([(0,0),(2,0),(4,0),(6,0)]): the top
    component must read (±1, 0) with variance 20/3."""
    from spotify_tracks_spark.operators.clustering import embedding_top_component

    rows = [(i, [float(2 * i), 0.0], 0) for i in range(4)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{tmp_path}/embeddings.parquet")
    got = {r.dim: (r.loading, r.variance_explained)
           for r in embedding_top_component(spark, str(tmp_path)).collect()}
    assert abs(abs(got[0][0]) - 1.0) < 1e-6
    assert abs(got[1][0]) < 1e-6
    assert abs(got[0][1] - round(20 / 3, 6)) < 1e-6


def test_burstiness_planted(spark, tmp_path):
    """Periodic arrivals (equal gaps) must read B = -1 exactly; a
    bursty pattern (gaps 1,1,58) reads B = 0.243984 (sample-variance
    sigma = sqrt(1083))."""
    from spotify_tracks_spark.operators.timeseries import events_burstiness

    rows = []
    for i in range(4):  # periodic: gaps 10,10,10
        rows.append((i + 1, datetime(2024, 1, 1, 0, 0, 10 * i), 1, "tick", 0.0, "{}"))
    base = datetime(2024, 1, 1, 1, 0, 0)
    for i, sec in enumerate([0, 1, 2, 60]):  # bursty: gaps 1,1,58
        rows.append((10 + i, base + timedelta(seconds=sec), 1, "burst", 0.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    got = {r.event_type: (r.n_gaps, r.mean_gap_s, r.burstiness)
           for r in events_burstiness(spark, str(tmp_path)).collect()}
    assert got["tick"] == (3, 10.0, -1.0)
    assert got["burst"][0] == 3
    mu, sig = 20.0, math.sqrt(1083.0)
    assert abs(got["burst"][2] - round((sig - mu) / (sig + mu), 6)) < 1e-9


def test_hhi_planted(spark, tmp_path):
    """One nation with a monopoly supplier (HHI 1.0), one with two equal
    suppliers (HHI 0.5)."""
    from spotify_tracks_spark.operators.tpch_shapes import nation_supplier_hhi

    li = [
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 2)),
        (2, 1, 2, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 2)),
        (3, 1, 3, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 2)),
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, 10, "s1"), (2, 20, "s2"), (3, 20, "s3")],
        "s_suppkey long, s_nationkey long, s_name string",
    ).coalesce(1).write.parquet(f"{tmp_path}/supplier.parquet")
    spark.createDataFrame(
        [(10, "MONO"), (20, "DUO")], "n_nationkey long, n_name string"
    ).coalesce(1).write.parquet(f"{tmp_path}/nation.parquet")
    got = {r.n_name: (r.n_suppliers, r.hhi, r.top_share)
           for r in nation_supplier_hhi(spark, str(tmp_path)).collect()}
    assert got == {"MONO": (1, 1.0, 1.0), "DUO": (2, 0.5, 0.5)}


def test_lexical_diversity_planted(spark, tmp_path):
    """'a a b c' -> 4 tokens, 3 types (TTR 0.75), 2 hapax (share 2/3)."""
    from spotify_tracks_spark.operators.text_analysis import text_lexical_diversity

    spark.createDataFrame(
        [(1, "a a b c", "xx", "t", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    row = text_lexical_diversity(spark, str(tmp_path)).collect()[0]
    assert (row.n_tokens, row.n_types, row.n_hapax) == (4, 3, 2)
    assert row.type_token_ratio == 0.75
    assert row.hapax_share == round(2 / 3, 6)


def test_embedding_dispersion_identity(spark, tmp_path):
    """Brute-force check of the moment identity on 3 vectors
    ([0,0],[1,0],[0,2]): pair d² = 1, 4, 5 — mean 10/3; center norm
    |(1,2)|/3."""
    from spotify_tracks_spark.operators.clustering import embedding_dispersion

    rows = [(1, [0.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.0, 2.0], 0)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{tmp_path}/embeddings.parquet")
    row = embedding_dispersion(spark, str(tmp_path)).collect()[0]
    assert row.n_vectors == 3
    assert abs(row.mean_sq_dist - round(10 / 3, 6)) < 1e-9
    assert abs(row.rms_dist - round(math.sqrt(10 / 3), 6)) < 1e-6
    assert abs(row.center_norm - round(math.sqrt(5) / 3, 6)) < 1e-6


def test_source_divergence_planted(spark, tmp_path):
    """Two single-token disjoint sources ('a a' vs 'b b'): symmetric JSD
    with coverage 0.5 each — hand-computed via the coverage identity."""
    from spotify_tracks_spark.operators.llm_prep import corpus_source_divergence

    spark.createDataFrame(
        [(1, "a a", "A", "A", 3), (2, "b b", "B", "B", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    # source A: p(a)=1, q(a)=0.5, m=1.5
    tp = 1.0 * math.log2(2 * 1.0 / 1.5)
    tq = 0.5 * math.log2(2 * 0.5 / 1.5)
    expect = round(0.5 * tp + 0.5 * (tq + (1.0 - 0.5)), 6)
    got = {r.source: (r.n_tokens, r.coverage, r.jsd_bits)
           for r in corpus_source_divergence(spark, str(tmp_path)).collect()}
    assert got["A"] == (2, 0.5, expect)
    assert got["B"] == (2, 0.5, expect)
