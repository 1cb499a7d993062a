"""Property tests for the training-pipeline operators (dedup, similarity,
text analysis, idempotent sink, publish sinks) at sf0.001 — semantics the
hash-parity gate can't express: invariants, idempotence, recall bounds."""

from __future__ import annotations

import sqlite3
import time

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from spotify_tracks_spark.functions import memo
from spotify_tracks_spark.operators import dedup, similarity, text_analysis
from spotify_tracks_spark.operators.idempotent_sink import append_if_absent, idempotent_union
from spotify_tracks_spark.sinks.publish import (
    copy_to_sqlite,
    http_batch_payloads,
    publish_models,
    sql_dump,
)
from spotify_tracks_spark.sources.tables import read_table

from .conftest import SF_SMOKE

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


# --- idempotent sink: re-ingesting any overlap is a no-op (SURVEY.md §5.4) ---

def test_idempotent_reappend_is_noop(spark):
    ev = read_table(spark, SF_SMOKE, "events")
    existing = ev.filter(F.col("event_id") % 2 == 0)
    incoming = ev.filter(F.col("event_id") % 3 == 0)
    once = idempotent_union(existing, incoming, ["event_id"])
    twice = idempotent_union(once, incoming, ["event_id"])
    assert once.count() == twice.count()
    assert append_if_absent(once, incoming, ["event_id"]).count() == 0


def test_idempotent_union_is_set_union(spark):
    ev = read_table(spark, SF_SMOKE, "events")
    existing = ev.filter(F.col("event_id") % 2 == 0)
    incoming = ev.filter(F.col("event_id") % 3 == 0)
    got = idempotent_union(existing, incoming, ["event_id"]).count()
    want = ev.filter((F.col("event_id") % 2 == 0) | (F.col("event_id") % 3 == 0)).count()
    assert got == want


def test_append_if_absent_keeps_incoming_column_order(spark):
    """A key that is not the leading columns must not move to the front:
    every file appended to a sink keeps the sink's column layout."""
    schema = "name string, pop double, played_at string, ctx string"
    existing = spark.createDataFrame([("a", 1.0, "t1", "x")], schema)
    incoming = spark.createDataFrame([("a", 2.0, "t1", "y"), ("b", 3.0, "t2", None)], schema)
    fresh = append_if_absent(existing, incoming, ["name", "played_at"])
    assert fresh.columns == incoming.columns
    assert [tuple(r) for r in fresh.collect()] == [("b", 3.0, "t2", None)]


def test_append_if_absent_null_keys_and_batch_winner(spark):
    """Planted edge rules of ON CONFLICT DO NOTHING: a key with a NULL
    component never matches the sink, even the same NULL-bearing key held
    there; such rows still collapse within the batch; and a within-batch
    duplicate keeps the row whose non-key columns are smallest as
    coalesced strings (NULL renders as "~", "10.0" < "2.0")."""
    schema = "k1 string, k2 long, v string, n double"
    existing = spark.createDataFrame(
        [("a", None, "held", 0.0), (None, None, "held", 0.0), ("b", 1, "held", 0.0)], schema
    )
    incoming = spark.createDataFrame(
        [
            ("a", None, "z", 1.0),
            ("a", None, "y", 9.0),
            (None, None, "w", 1.0),
            ("b", 1, "new", 1.0),
            ("c", 2, None, 1.0),
            ("c", 2, "m", 5.0),
            ("d", 3, "q", 2.0),
            ("d", 3, "q", 10.0),
        ],
        schema,
    )
    got = sorted(map(tuple, append_if_absent(existing, incoming, ["k1", "k2"]).collect()), key=repr)
    assert got == sorted(
        [("a", None, "y", 9.0), (None, None, "w", 1.0), ("c", 2, "m", 5.0), ("d", 3, "q", 10.0)],
        key=repr,
    )


# --- dedup invariants ---

def test_dedup_exact_canonical_is_min(spark):
    df = dedup.dedup_exact(spark, SF_SMOKE)
    assert df.filter(F.col("canonical_doc_id") > F.col("doc_id")).count() == 0
    # canonical member itself is never flagged duplicate
    assert df.filter(
        (F.col("doc_id") == F.col("canonical_doc_id")) & F.col("is_duplicate")
    ).count() == 0


def test_minhash_estimates_bounded_and_ordered(spark):
    df = dedup.dedup_minhash_lsh(spark, SF_SMOKE).collect()
    for r in df:
        assert r.doc_a < r.doc_b
        assert 0.0 <= r.est_jaccard <= 1.0
        assert r.jaccard >= 0.5


def test_minhash_catches_exact_duplicates(spark):
    """Exact duplicate pairs have identical signatures ⇒ LSH must emit them."""
    exact = dedup.dedup_exact(spark, SF_SMOKE)
    dup_pairs = {
        (r.canonical_doc_id, r.doc_id)
        for r in exact.filter("is_duplicate").collect()
    }
    got = {(r.doc_a, r.doc_b) for r in dedup.dedup_minhash_lsh(spark, SF_SMOKE).collect()}
    missing = dup_pairs - got
    assert not missing, f"exact dups missed by LSH: {sorted(missing)[:5]}"


def test_simhash_pairs_within_radius(spark):
    for r in dedup.dedup_simhash(spark, SF_SMOKE).collect():
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= dedup.SIMHASH_MAX_HAMMING


def test_simhash_full_recall_at_radius(spark):
    """Pigeonhole blocking recall: every fingerprint pair within the verify
    radius — including distances 4–8, which 4×15-bit chunking silently
    missed — must come out of the blocked operator.  Brute-force all-pairs
    over the collected fingerprints is the ground truth."""
    docs = read_table(spark, SF_SMOKE, "documents", spread=True)
    fps = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(docs).collect()}
    ids = sorted(fps)
    want = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= dedup.SIMHASH_MAX_HAMMING
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.dedup_simhash(spark, SF_SMOKE).collect()
    }
    assert got == want
    # the planted-pair guarantee is only meaningful if mid-radius distances
    # actually occur in the corpus; the synthetic near-dups provide them
    assert any(4 <= h <= dedup.SIMHASH_MAX_HAMMING for _, _, h in want), (
        "corpus has no pair at hamming 4-8; recall claim untested"
    )


def test_simhash_chunk_layout_covers_all_bits(spark):
    for radius in (1, 3, 8, 14):
        layout = dedup._chunk_layout(dedup.SIMHASH_BITS, radius + 1)
        assert len(layout) == radius + 1
        assert sum(w for _, w in layout) == dedup.SIMHASH_BITS
        offs = [o for o, _ in layout]
        assert offs == sorted(offs) and offs[0] == 0
        # contiguous, non-overlapping
        for (o1, w1), (o2, _) in zip(layout, layout[1:]):
            assert o1 + w1 == o2


# --- similarity search ---

def test_ann_bruteforce_rank_contract(spark):
    rows = similarity.ann_topk_bruteforce(spark, SF_SMOKE, k=5).collect()
    per_q: dict[int, list] = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        assert -1.0 <= r.cos <= 1.0
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r.cos for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_ann_lsh_subset_of_bruteforce_scores(spark):
    """LSH candidates score identically to brute force for the same pair."""
    bf = {
        (r.query_id, r.neighbor_id): r.cos
        for r in similarity.ann_topk_bruteforce(spark, SF_SMOKE, k=2000).collect()
    }
    for r in similarity.ann_topk_lsh(spark, SF_SMOKE).collect():
        key = (r.query_id, r.neighbor_id)
        assert key in bf
        assert abs(bf[key] - r.cos) < 1e-9


# --- text analysis ---

def test_text_quality_ratios_bounded(spark):
    for r in text_analysis.text_quality(spark, SF_SMOKE).collect():
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert 0.0 < r.distinct_ratio <= 1.0
        assert r.n_tokens > 0


def test_langid_pred_domain(spark):
    langs = set(text_analysis.LANG_STOPWORDS) | {"und"}
    for r in text_analysis.text_langid(spark, SF_SMOKE).collect():
        assert r.lang_pred in langs


# --- publish sinks ---

def test_publish_pipeline_roundtrip(spark, tmp_path):
    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "n_chars")
    db = str(tmp_path / "publish.db")
    n = docs.count()
    sent = publish_models({"docs": docs}, db, batch_size=7)
    creates, inserts = sql_dump(db)
    assert len(creates) == 1 and len(inserts) == n
    assert sent["docs"] == -(-n // 7)  # ceil-div batches
    conn = sqlite3.connect(db)
    try:
        assert conn.execute('SELECT count(*) FROM "docs"').fetchone()[0] == n
    finally:
        conn.close()


def test_http_batch_payloads_shape():
    payloads = http_batch_payloads([f"INSERT {i}" for i in range(5)], batch_size=2)
    assert len(payloads) == 3
    for p in payloads:
        assert p["requests"][-1] == {"type": "close"}
        assert all(r["type"] == "execute" for r in p["requests"][:-1])
    total = sum(len(p["requests"]) - 1 for p in payloads)
    assert total == 5


def _sqlite_rows(db: str, table: str) -> list[tuple]:
    conn = sqlite3.connect(db)
    try:
        return sorted(conn.execute(f'SELECT * FROM "{table}"').fetchall())
    finally:
        conn.close()


def test_copy_to_sqlite_preserves_nulls(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None, 2.5, "2001-09-15", "2001-09-15 23:59:58.250"),
         (2, "x", None, None, None),
         (3, "y", 0.5, "1995-01-02", "1995-03-29 15:37:13")],
        "id: long, s: string, d: double, dt: string, ts: string",
    ).select("id", "s", "d", F.to_date("dt").alias("dt"), F.to_timestamp("ts").alias("ts"))
    db = str(tmp_path / "t.db")
    copy_to_sqlite({"t": df}, db)
    assert _sqlite_rows(db, "t") == [
        (1, None, 2.5, "2001-09-15", "2001-09-15 23:59:58.250000"),
        (2, "x", None, None, None),
        (3, "y", 0.5, "1995-01-02", "1995-03-29 15:37:13"),
    ]


def test_copy_to_sqlite_timestamps_ignore_driver_tz(spark, tmp_path, monkeypatch):
    """Timestamps are published as wall time in the session zone (UTC),
    whatever zone the driver process runs in."""
    df = spark.range(1).select(F.to_timestamp(F.lit("1995-03-29 15:37:13")).alias("ts"))
    db = str(tmp_path / "tz.db")
    try:
        monkeypatch.setenv("TZ", "America/Boise")
        time.tzset()
        copy_to_sqlite({"t": df}, db)
    finally:
        monkeypatch.undo()
        time.tzset()
    assert _sqlite_rows(db, "t") == [("1995-03-29 15:37:13",)]


# --- extension queries all have an oracle entry (closed contract) ---

# Rows-only by design (the genuinely non-SQL-expressible / approximate
# ops; each is property-tested instead).  They live in extra_queries() —
# the capped 50-entry driver surface holds only exactly-oracled entries:
# - embedding_kmeans: iterative Lloyd's, float means partial-order sensitive
# - events_approx_stats: HLL++/t-digest sketches, approximate by construction
ROWS_ONLY = {
    "embedding_kmeans",
    "events_approx_stats",
    "events_user_sketch_rollup",  # HLL estimates: tolerance-tested instead
}


def test_every_query_has_oracle():
    missing = [k for k in QUERIES if k not in ORACLES]
    assert not missing, f"driver queries without oracle_sql: {missing}"
    extra, extra_oracles = entrymod.extra_queries(), entrymod.extra_oracle_sql()
    assert ROWS_ONLY <= set(extra)
    missing_extra = [
        k for k in extra if k not in extra_oracles and k not in ROWS_ONLY
    ]
    assert not missing_extra, f"extra queries without oracle: {missing_extra}"
    stale = [k for k in ROWS_ONLY if k in extra_oracles or k in ORACLES]
    assert not stale, f"ROWS_ONLY out of sync: {stale}"


# --- multimodal plumbing ---

def test_documents_are_ascii(spark):
    """The frame-sample oracle equates char and byte offsets — valid only
    while the testdata documents are pure ASCII."""
    docs = read_table(spark, SF_SMOKE, "documents")
    diff = docs.select(
        (F.octet_length(F.encode("text", "utf-8")) - F.length("text")).alias("d")
    ).agg(F.max("d")).collect()[0][0]
    assert diff == 0


def test_sample_frames_covers_payload(spark):
    from spotify_tracks_spark.operators.multimodal import (
        FRAME_BYTES,
        FRAME_STRIDE,
        attach_binary,
        sample_frames,
    )

    docs = read_table(spark, SF_SMOKE, "documents").limit(20)
    media = attach_binary(docs)
    frames = sample_frames(media).collect()
    sizes = {r.doc_id: r.n_bytes for r in media.collect()}
    for r in frames:
        assert r.frame_idx % FRAME_STRIDE == 0
        assert r.frame_off == r.frame_idx * FRAME_BYTES
        assert 1 <= r.frame_bytes <= FRAME_BYTES
        assert r.frame_off + r.frame_bytes <= sizes[r.doc_id]
    # frame 0 always sampled: every doc appears
    assert {r.doc_id for r in frames} == set(sizes)


def test_ngram_block_cap_bounds_candidates(spark):
    """max_block drops only pairs from mega-blocks; survivors identical."""
    full = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_ngram_jaccard(spark, SF_SMOKE, max_block=None).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_ngram_jaccard(spark, SF_SMOKE, max_block=10).collect()
    }
    assert capped <= full


# --- analytics surface: top-k / pivot / sample ---

def test_topk_per_user_bounds(spark):
    from spotify_tracks_spark.operators.analytics import TOPK_PER_USER, events_topk_per_user

    df = events_topk_per_user(spark, SF_SMOKE)
    per_user = df.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    assert per_user <= TOPK_PER_USER
    # rank 1 really is the user's max value
    ev = read_table(spark, SF_SMOKE, "events")
    top1 = df.filter(F.col("rnk") == 1).select("user_id", F.col("value").alias("top_v"))
    maxes = ev.groupBy("user_id").agg(F.max("value").alias("max_v"))
    assert top1.join(maxes, "user_id").filter(F.col("top_v") != F.col("max_v")).count() == 0


def test_pivot_counts_sum_to_total(spark):
    from spotify_tracks_spark.operators.analytics import EVENT_TYPES, events_pivot

    df = events_pivot(spark, SF_SMOKE)
    wide_total = df.select(
        sum([F.sum(f"n_{t}") for t in EVENT_TYPES], F.lit(0)).alias("s")
    ).collect()[0][0]
    assert wide_total == read_table(spark, SF_SMOKE, "events").count()


def test_sample_deterministic_and_consistent(spark):
    from spotify_tracks_spark.operators.analytics import events_sample

    a = {r.event_id for r in events_sample(spark, SF_SMOKE).select("event_id").collect()}
    b = {r.event_id for r in events_sample(spark, SF_SMOKE).select("event_id").collect()}
    assert a == b and len(a) > 0
    # widening the rate keeps prior draws (nested samples): pct=10 ⊂ pct=20
    c = {r.event_id for r in events_sample(spark, SF_SMOKE, pct=20).select("event_id").collect()}
    assert a <= c


def test_stratified_sample_nests_per_stratum(spark):
    """Each stratum's draw is the flat hash-mod sample at its own rate —
    so stratified and flat samples stay join-consistent per type, and a
    100% stratum keeps every row."""
    from spotify_tracks_spark.operators.analytics import (
        STRATA_PCT,
        events_sample,
        events_sample_stratified,
    )

    strat = events_sample_stratified(spark, SF_SMOKE).persist()
    ev = read_table(spark, SF_SMOKE, "events")
    for etype, pct in STRATA_PCT.items():
        got = {
            r.event_id
            for r in strat.filter(F.col("event_type") == etype).collect()
        }
        want = {
            r.event_id
            for r in events_sample(spark, SF_SMOKE, pct=pct)
            .filter(F.col("event_type") == etype)
            .collect()
        }
        assert got == want, etype
        if pct == 100:
            assert len(got) == ev.filter(F.col("event_type") == etype).count()
    strat.unpersist()


# --- dedup clusters (connected components) ---

def test_dedup_clusters_invariants(spark):
    df = dedup.dedup_clusters(spark, SF_SMOKE).persist()
    pairs = dedup.dedup_minhash_lsh(spark, SF_SMOKE).select("doc_a", "doc_b")
    lab = {r.doc_id: r.cluster_id for r in df.collect()}
    # every edge's endpoints share a component, label = min member id
    for p in pairs.collect():
        assert lab[p.doc_a] == lab[p.doc_b]
    from collections import defaultdict
    members = defaultdict(set)
    for d, c in lab.items():
        members[c].add(d)
    for c, ms in members.items():
        assert c == min(ms)
        assert len(ms) >= 2  # singletons are not dup clusters
    sizes = {r.cluster_id: r.cluster_size for r in df.collect()}
    assert all(sizes[c] == len(ms) for c, ms in members.items())
    df.unpersist()


def test_corpus_prep_stage_invariants(spark):
    """Every survivor passes all four gates; fps are unique (dedup ran);
    survivors are exactly the oracle-checked composition's fixpoints."""
    from spotify_tracks_spark.operators.corpus import (
        CORPUS_MIN_QUALITY,
        CORPUS_MIN_TOKENS,
        CORPUS_SAMPLE_PCT,
        corpus_prep,
    )

    out = corpus_prep(spark, SF_SMOKE).collect()
    assert out, "pipeline should keep some docs"
    assert all(r.lang_pred == "en" for r in out)
    assert all(r.n_tokens >= CORPUS_MIN_TOKENS for r in out)
    assert all(r.quality_score >= CORPUS_MIN_QUALITY for r in out)
    fps = [r.fp for r in out]
    assert len(fps) == len(set(fps)), "exact dedup must leave unique fingerprints"
    # widening the sample rate only adds rows (nested deterministic samples)
    wider = corpus_prep(spark, SF_SMOKE, sample_pct=100)
    assert {r.doc_id for r in out} <= {r.doc_id for r in wider.collect()}
    assert CORPUS_SAMPLE_PCT < 100


def test_dedup_clusters_paths_agree(spark):
    """The driver union-find fast path and the distributed min-label loop
    must produce identical (doc_id, cluster_id, cluster_size) labelings
    (small_graph_edges=0 forces the iterative path)."""
    fast = dedup.dedup_clusters(spark, SF_SMOKE)
    dist = dedup.dedup_clusters(spark, SF_SMOKE, small_graph_edges=0)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, dist.collect()))


def test_dedup_clusters_distributed_above_gate(spark):
    """Exercise the distributed min-label fallback ABOVE its 200 k-edge
    gate (round-11 verdict item 3: the path had never run under load).
    Synthetic dup graph with known components: 60 k chains of 5 nodes
    (nodes 10g..10g+4, edges (v, v+1)) = 240 k edges > SMALL_GRAPH_EDGES.
    Chains have diameter 4 — the worst shallow-dup-cluster shape for a
    1-hop-per-round propagation — so this also pins multi-round
    convergence, not just the 1-round star case, and that the rounds'
    checkpointed label vectors are released as the loop goes."""
    n_groups = 60_000
    groups = F.floor(F.col("id") / 4)
    pairs = (
        spark.range(n_groups * 4)
        .select(
            (groups * 10 + (F.col("id") % 4)).alias("doc_a"),
            (groups * 10 + (F.col("id") % 4) + 1).alias("doc_b"),
        )
    )
    assert pairs.count() == 240_000 > dedup.SMALL_GRAPH_EDGES
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    out = dedup._min_label_components(pairs)
    # each of the ≥5 rounds checkpoints its labels; only the returned
    # frame's checkpoint may stay behind
    assert persisted().size() - before <= 1
    # every node labeled with its chain's min id, every chain size 5
    bad = out.filter(
        (F.col("cluster_id") != (F.floor(F.col("doc_id") / 10) * 10))
        | (F.col("cluster_size") != 5)
    ).count()
    assert bad == 0
    assert out.count() == n_groups * 5


def test_dedup_embedding_corpus_contract(spark):
    """Corpus-wide near-dup: ordered pairs, threshold respected, same
    bucket by construction, and cosine agrees with a direct computation."""
    from spotify_tracks_spark.operators.similarity import (
        _sign_signature,
        cosine,
        dedup_embedding_corpus,
    )

    rows = dedup_embedding_corpus(spark, SF_SMOKE, near_dup_threshold=0.3).collect()
    assert rows, "threshold 0.3 should emit pairs on the smoke corpus"
    emb = read_table(spark, SF_SMOKE, "embeddings")
    sig = {r.vec_id: r.s for r in emb.select("vec_id", _sign_signature(F.col("embedding")).alias("s")).collect()}
    e = {r.vec_id: r.embedding for r in emb.collect()}
    import math
    for r in rows:
        assert r.vec_a < r.vec_b
        assert r.cos >= 0.3
        assert sig[r.vec_a] == sig[r.vec_b]
        dot = sum(float(x) * float(y) for x, y in zip(e[r.vec_a], e[r.vec_b]))
        na = math.sqrt(sum(float(x) ** 2 for x in e[r.vec_a]))
        nb = math.sqrt(sum(float(x) ** 2 for x in e[r.vec_b]))
        assert abs(r.cos - dot / (na * nb)) < 1e-5


def test_sketch_rollup_estimate_close_to_exact(spark):
    """Merged daily HLL sketches estimate per-type distinct users within
    HLL++ tolerance of the exact count (and exactly for small counts)."""
    from spotify_tracks_spark.operators.events import events_user_sketch_rollup

    got = {r.event_type: r for r in events_user_sketch_rollup(spark, SF_SMOKE).collect()}
    exact = {
        r.event_type: r.n
        for r in read_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for t, r in got.items():
        assert abs(r.approx_users - exact[t]) <= max(3, 0.05 * exact[t]), (
            t, r.approx_users, exact[t]
        )


# --- cohort retention + ordered funnel ---

def _write_events(spark, tmp_path, rows):
    """Write a synthetic events table (full testdata schema) for operators
    that take an sf_dir."""
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    return str(tmp_path)


def test_retention_offset_zero_equals_cohort_size(spark):
    from spotify_tracks_spark.operators.analytics import events_retention

    rows = events_retention(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.week_offset >= 0 for r in rows)
    # every user is active in their own cohort week, so the offset-0 cell
    # IS the cohort size: distinct users whose first active week is W
    week = F.floor(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-05"))) / 7
    ).alias("week")
    first = (
        read_table(spark, SF_SMOKE, "events")
        .select("user_id", week)
        .groupBy("user_id")
        .agg(F.min("week").alias("cohort_week"))
        .groupBy("cohort_week")
        .agg(F.countDistinct("user_id").alias("n"))
    )
    want = {r.cohort_week: r.n for r in first.collect()}
    got = {r.cohort_week: r.n_users for r in rows if r.week_offset == 0}
    assert got == want


def test_retention_week_index_spans_year_boundary(spark, tmp_path):
    """Dec→Jan cohort: epoch-week offsets stay dense across New Year
    (year*100+weekofyear would report ~50, not 2)."""
    import datetime as dt

    from spotify_tracks_spark.operators.analytics import events_retention

    t = lambda d: dt.datetime(*d, 12, 0, 0)  # noqa: E731
    sf = _write_events(
        spark,
        tmp_path,
        [
            (1, t((2024, 12, 23)), 1, "view", 1.0, "{}"),  # cohort week W
            (2, t((2025, 1, 6)), 1, "view", 1.0, "{}"),    # W+2
            (3, t((2024, 12, 29)), 2, "view", 1.0, "{}"),  # ISO-wk-1-in-Dec trap
            (4, t((2025, 1, 1)), 2, "view", 1.0, "{}"),    # same epoch week
        ],
    )
    rows = events_retention(spark, sf).collect()
    w0 = (dt.date(2024, 12, 23) - dt.date(1970, 1, 5)).days // 7
    got = {(r.cohort_week, r.week_offset): r.n_users for r in rows}
    # user 1: offsets 0 and 2; user 2: one epoch week (Dec 29 + Jan 1 both
    # fall in the week starting Mon Dec 30? no — Dec 29 is a Sunday, so
    # they straddle: Dec 29 in week w0+0? compute directly
    w_u2a = (dt.date(2024, 12, 29) - dt.date(1970, 1, 5)).days // 7
    w_u2b = (dt.date(2025, 1, 1) - dt.date(1970, 1, 5)).days // 7
    assert got[(w0, 0)] >= 1 and got[(w0, 2)] == 1
    for off in {0, w_u2b - w_u2a}:
        assert got.get((w_u2a, off), 0) >= 1
    assert all(0 <= off <= 2 for (_, off) in got)


def test_funnel_orders_and_monotone(spark, tmp_path):
    from spotify_tracks_spark.operators.analytics import events_funnel

    t = lambda h: ("2024-03-01 %02d:00:00" % h)  # noqa: E731
    import datetime as dt

    ts = lambda h: dt.datetime(2024, 3, 1, h)  # noqa: E731
    sf = _write_events(
        spark,
        tmp_path,
        [
            # user 1: fully ordered view→click→purchase
            (1, ts(1), 1, "view", 1.0, "{}"),
            (2, ts(2), 1, "click", 1.0, "{}"),
            (3, ts(3), 1, "purchase", 1.0, "{}"),
            # user 2: out of order (click before view) — counts only as view
            (4, ts(1), 2, "click", 1.0, "{}"),
            (5, ts(2), 2, "view", 1.0, "{}"),
            # user 3: view only
            (6, ts(1), 3, "view", 1.0, "{}"),
            # user 4: purchase with no view — reaches nothing
            (7, ts(1), 4, "purchase", 1.0, "{}"),
        ],
    )
    got = {r.step: r.n_users for r in events_funnel(spark, sf).collect()}
    assert got == {"view": 3, "click": 1, "purchase": 1}
    # monotone on real data too
    real = {r.step: r.n_users for r in events_funnel(spark, SF_SMOKE).collect()}
    assert real["view"] >= real["click"] >= real["purchase"]


def test_tfidf_top_terms_contract(spark):
    from spotify_tracks_spark.operators.text_analysis import (
        TFIDF_TOP_K,
        text_tfidf_top_terms,
    )

    rows = text_tfidf_top_terms(spark, SF_SMOKE).collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        assert 0.0 < r.tf <= 1.0
        assert r.idf >= 1.0  # smoothed: ln((N+1)/(df+1)) + 1, df <= N
        assert abs(r.tfidf - r.tf * r.idf) < 1e-12
        per_doc.setdefault(r.doc_id, []).append(r)
    assert per_doc
    for rs in per_doc.values():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TFIDF_TOP_K
        # ordered by tfidf desc with term-asc tie-break
        for a, b in zip(rs, rs[1:]):
            assert a.tfidf > b.tfidf or (a.tfidf == b.tfidf and a.term < b.term)


def test_minhash_incremental_planted(spark, tmp_path):
    """Planted batch-vs-corpus scenario: doc ids picked so the
    deterministic split puts {1, 5, 13, 17} in the incoming batch and
    {2, 3} in the corpus (portable_hash60(id) % 4).  A new doc equal
    to a corpus doc is dropped as a corpus dup; of two equal new docs
    the LOWER id survives (first-wins); a unique new doc is kept."""
    text_a = "the quick brown fox jumps over the lazy dog " * 4
    text_c = "pack my box with five dozen liquor jugs today " * 4
    text_e = "sphinx of black quartz judge my vow forever more " * 4
    rows = [
        (2, text_a),    # corpus
        (3, "how vexingly quick daft zebras jump over fences " * 4),  # corpus
        (1, text_c),    # new, equal to 13 -> 1 survives (lower id)
        (5, text_a),    # new, equal to corpus doc 2 -> dropped
        (13, text_c),   # new, equal to 1 -> dropped (batch dup earlier)
        (17, text_e),   # new, unique -> kept
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(f"{tmp_path}/documents.parquet")

    got = {
        r.doc_id: (r.n_corpus_dups, r.n_batch_dups_earlier, r.is_kept)
        for r in dedup.dedup_minhash_incremental(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 5, 13, 17}
    assert got[5] == (1, 0, False)      # corpus dup
    assert got[13] == (0, 1, False)     # batch dup of earlier doc 1
    assert got[1] == (0, 0, True)
    assert got[17] == (0, 0, True)


def test_ann_probe_panel_is_capped(spark, tmp_path):
    """The probe set is a fixed-size PANEL, not a rate sample: with
    probe_mod=1 every vector qualifies, but only the `max_probes` lowest
    vec_ids may probe — the round-10 scale fix that keeps the exact-
    baseline evaluation linear in corpus size (a rate sample makes the
    probe x corpus scan quadratic).  The cap never binds at the oracle
    SFs (<=20 probes on driver data), which is why the ANN oracles are
    unchanged; this planted fixture is the cap's own pin."""
    import numpy as np

    n, d, cap = 40, 4, 8
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(n, d)).astype("float32")
    spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.parquet(f"{tmp_path}/embeddings.parquet")

    memo.clear()
    rows = similarity.ann_topk_bruteforce(
        spark, str(tmp_path), k=3, probe_mod=1, max_probes=cap
    ).collect()
    probed = {r.query_id for r in rows}
    assert probed == set(range(cap))  # lowest vec_ids, exactly cap many
    memo.clear()


def test_ann_capped_registration_binds_on_fixture_data(spark):
    """The REGISTERED cap-binding parameterization
    (ann_topk_bruteforce_capped: probe_mod=2, cap=16) must actually
    bind on the driver fixtures — the whole point of the round-11
    registration is that its DuckDB oracle exercises the bound path,
    unlike the default registration where the cap is slack."""
    rows = similarity.ann_topk_bruteforce_capped(spark, SF_SMOKE).collect()
    probed = sorted({r.query_id for r in rows})
    assert len(probed) == similarity.ANN_CAP_DEMO_MAX_PROBES
    # the panel is exactly the 16 lowest even vec_ids
    n_eligible = (
        read_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") % similarity.ANN_CAP_DEMO_PROBE_MOD == 0)
        .count()
    )
    assert n_eligible > similarity.ANN_CAP_DEMO_MAX_PROBES  # cap binds
    assert probed == [
        2 * i for i in range(similarity.ANN_CAP_DEMO_MAX_PROBES)
    ]
