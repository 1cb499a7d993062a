"""Deduplication operators over ``documents`` — the dedup stage of a
large-scale training-data pipeline.

Four families, each with a different cost/recall point, all built on the
engine-portable 60-bit hash (functions/hashing.py) so every one of them —
including the probabilistic ones — has a byte-exact DuckDB oracle:

- ``dedup_exact``          hash-groupBy on normalized text.  One shuffle of
                           (hash, doc_id) pairs only.
- ``dedup_ngram_jaccard``  min-shingle-hash *blocking* + exact Jaccard
                           verification inside blocks.  Linear candidate
                           generation (vs quadratic all-pairs).
- ``dedup_minhash_lsh``    16-hash minhash signatures (computed per-row via
                           higher-order functions — NO explode, no
                           shingle-grain shuffle), banded 4×4 into LSH
                           buckets, candidate pairs verified with exact
                           Jaccard.
- ``dedup_simhash``        60-bit simhash fingerprints per-row; near-dup
                           pairs blocked on ``max_hamming + 1`` chunks
                           (pigeonhole: ≤max_hamming flipped bits leave
                           some chunk equal ⇒ full recall at the verify
                           radius) and verified with bit_count(xor).

Scale shape: signature computation is a narrow projection at scan speed;
the only shuffles are on (band_hash) / (chunk value) keys whose cardinality
is ~#docs, and the pair joins are self-equi-joins on those keys.  Skewed
buckets (boilerplate shingles) are AQE skew-split; a production run would
also cap bucket width (documented in each function).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.hashing import portable_hash60
from ..sources.tables import read_table
from ..functions import memo

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = 4
SHINGLE_K = 8
# Production block-width cap for dedup_ngram_jaccard_capped: a shared
# boilerplate shingle block of W docs costs W(W-1)/2 candidate pairs, so
# bounding W bounds the worst-case fan-out of the self-join.
NGRAM_MAX_BLOCK = 64
SIMHASH_BITS = 60
SIMHASH_MAX_HAMMING = 8

# Minhash hash family: h_i(s) = (A_i * v + B_i) mod MINHASH_P where
# v = portable_hash60(s) & 0xFFFFFFFF.  ONE md5 per shingle (the base
# hash) + 16 integer affine derivations, instead of 16 md5s per shingle.
# A_i < 2^30 and v < 2^32 keep A_i*v+B_i < 2^62 — no bigint overflow in
# either engine, so Spark and DuckDB compute identical values.
# Fixed seed 20260813; regeneration breaks oracle parity.
MINHASH_P = 4294967291  # largest 32-bit prime
MINHASH_AB = (
    (1064082031, 398802782),
    (298493742, 972347432),
    (58225162, 291219900),
    (215489561, 234034474),
    (703471044, 924035316),
    (586349398, 402639405),
    (1071644562, 668925748),
    (126328945, 428031840),
    (848272349, 230896653),
    (397332018, 858479239),
    (263703426, 106582524),
    (951695955, 87966394),
    (333402359, 490296874),
    (711675979, 955195195),
    (165938588, 890048279),
    (332297311, 970348799),
)
assert len(MINHASH_AB) == N_HASHES


def _norm(col: Column) -> Column:
    return F.lower(F.regexp_replace(col, r"\s+", " "))


def _char_shingles(norm: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-char shingles of the normalized text (set semantics)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1))),
            lambda g: norm.substr(g, F.lit(k)),
        )
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: every doc mapped to its duplicate group.

    Output: doc_id, fp (normalized-text md5), canonical_doc_id (min id in
    group), is_duplicate (true for every non-canonical member)."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(_norm(F.col("text"))).alias("fp")
    )
    groups = docs.groupBy("fp").agg(F.min("doc_id").alias("canonical_doc_id"))
    return docs.join(groups, "fp").select(
        "doc_id",
        "fp",
        "canonical_doc_id",
        (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_duplicate"),
    )


def _with_shingle_hash_sets(docs: DataFrame) -> DataFrame:
    """Distinct 60-bit shingle hashes per doc — the set the near-dup
    operators block and verify on.  Hashing the shingles once here and
    carrying array<long> (instead of the 8-char strings) halves the
    persisted/shuffled bytes and turns set intersection into long
    comparisons; Jaccard over hashed shingle sets equals string-set
    Jaccard up to 60-bit collisions, and the oracle hashes identically."""
    return docs.select(
        "doc_id",
        F.array_distinct(
            # NB: must stay a unary lambda — portable_hash60 itself has a
            # (col, seed) signature, and pyspark feeds 2-param callables
            # (element, index), which would seed each hash with its index
            F.transform(_char_shingles(_norm(F.col("text"))), lambda s: portable_hash60(s))
        ).alias("hs"),
    )


# Six dedup queries start from the SAME (doc_id, hs) shingle-hash table
# over the full documents corpus, and the clusters / recall-eval /
# edit-distance consumers read the SAME verified pair set of each fuzzy
# family.  Those full-corpus artifacts are session-cached
# (``functions/memo.py``) as localCheckpointed frames; at 100 TB each is
# a written table that every dedup job scans.

# perfbench/common.py calls this name; it clears the whole session cache
clear_dedup_memo = memo.clear


def shingle_hash_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-wide (doc_id, hs) shingle-hash table, built once per
    (session, dataset) and shared by every full-corpus dedup operator.
    Callers must treat it as immutable shared state (derive, never
    unpersist)."""
    return memo.cached(
        spark,
        sf_dir,
        ("shingles",),
        lambda: _with_shingle_hash_sets(
            read_table(spark, sf_dir, "documents", spread=True)
        ).localCheckpoint(eager=True),
    )


def dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    max_block: int | None = NGRAM_MAX_BLOCK,
    hash_sets: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs, blocked on the min shingle hash.

    The default caps candidate blocks at ``NGRAM_MAX_BLOCK`` docs — a
    single boilerplate shingle shared by W docs otherwise fans out to
    W·(W−1)/2 pairs, which is the scale-killer at 100 TB.  Pass
    ``max_block=None`` for full uncapped semantics (the exhaustive
    blocked-Jaccard oracle form, used by tests).

    Candidates = docs sharing the *minimum* shingle hash (single-hash
    blocking — each doc lands in exactly one block, so candidate
    generation is linear and the block key shuffle is by an integer).
    Verification = exact Jaccard over distinct shingle sets via
    array_intersect/array_union sizes — a per-pair projection.

    The blocked projection (hashed shingle set + min hash) is persisted
    before the self-join: both join sides reuse one computation instead of
    re-hashing every shingle twice (at 100 TB this intermediate would be a
    written table; MEMORY_AND_DISK is its single-job equivalent).

    ``hash_sets`` lets composed callers (fixture corpora, incremental
    slices) pass an already-persisted (doc_id, hs) frame so the
    shingle/md5 pass runs once per evaluation, not once per family.

    The full-corpus default path is session-cached per (threshold, cap)
    (``functions/memo.py``): the registered capped query and
    ``dedup_recall_eval``'s ngram family consume the identical pair
    set."""
    if hash_sets is None:

        def build() -> DataFrame:
            pinned: list[DataFrame] = []
            try:
                # pair-grain output is tiny; pin it, then release the
                # blocked projection cache backing the self-join
                return _ngram_jaccard_pairs(
                    threshold, max_block, shingle_hash_sets(spark, sf_dir), pinned
                ).localCheckpoint(eager=True)
            finally:
                for df in pinned:
                    df.unpersist()

        return memo.cached(spark, sf_dir, ("ngram", threshold, max_block), build)
    return _ngram_jaccard_pairs(threshold, max_block, hash_sets, [])


def _ngram_jaccard_pairs(
    threshold: float,
    max_block: int | None,
    sh: DataFrame,
    pinned: list[DataFrame],
) -> DataFrame:
    blocked = sh.select(
        "doc_id",
        "hs",
        F.array_min("hs").alias("block"),
    ).persist()
    pinned.append(blocked)
    # materialize BEFORE the self-join: a lazy persist lets both join sides
    # (and AQE's broadcast-side estimation) race to compute the expensive
    # projection concurrently — the count() pins one computation
    blocked.count()
    if max_block is not None:
        # production skew cap (the default): drop blocks wider than
        # max_block before the self-join — a single boilerplate shingle
        # shared by W docs creates W*(W-1)/2 candidate pairs (the dominant
        # cost at sf0.1: one block of 315 docs = 49k pairs).  Capping
        # trades recall inside mega-blocks for bounded fan-out; callers
        # wanting full semantics opt in with max_block=None.
        wide = blocked.groupBy("block").count().filter(F.col("count") > max_block)
        blocked = blocked.join(F.broadcast(wide.select("block")), "block", "left_anti")
    a = blocked.alias("a")
    b = blocked.alias("b")
    # |A∪B| = |A|+|B|-|A∩B| over distinct-element sets: one hash-set build
    # per pair instead of two (array_union is as expensive as the
    # intersect); subexpression elimination reuses the intersect size.
    n_inter = F.size(F.array_intersect("a.hs", "b.hs"))
    jac = n_inter / (F.size("a.hs") + F.size("b.hs") - n_inter)
    # Size-bound prefilter (implied by the threshold: J ≤ min(|A|,|B|) /
    # max(|A|,|B|)) ahead of the jaccard term in the join condition — the
    # O(1) ratio check prunes a matched pair before its O(|A|+|B|)
    # intersect.  Written inside the ON clause so the predicate order is
    # ours (a threshold filter applied after .select gets pushed into the
    # condition *ahead* of the cheap checks — measured 2× slower).
    size_ok = (
        F.least(F.size("a.hs"), F.size("b.hs"))
        / F.greatest(F.size("a.hs"), F.size("b.hs"))
        >= threshold
    )
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & size_ok
        & (jac >= threshold),
    )
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        jac.alias("jaccard"),
    )


def signatures_from_hash_sets(sh: DataFrame) -> DataFrame:
    """Minhash signatures from a (doc_id, hs: array<long>) hash-set frame:
    v = h & 0xFFFFFFFF, slot i = min((A_i*v + B_i) mod P) — pure integer
    projections over already-hashed shingles, so the md5 pass happens
    exactly once upstream (and is shared with Jaccard verification).

    The 16 slots are unrolled array_min(transform(...)) expressions with
    literal A/B — indexing a constant array from inside the lambda rebuilds
    the array per element evaluation (~3× slower end-to-end); unrolling
    keeps every coefficient a folded literal."""
    return _with_signatures(sh).select("doc_id", "sig")


def _with_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, hs, sig) — the signature projection WITH the hash set
    kept alongside, so LSH verify can attach both per candidate side
    from ONE doc-grain frame (round 12: the previous verify joined the
    signature frame and the hash-set frame separately — four attach
    joins instead of two, each shuffling/building over the same docs)."""
    vs = F.transform(F.col("hs"), lambda h: h.bitwiseAND(F.lit(0xFFFFFFFF)))

    def _affine_min(a: int, b: int) -> Column:
        # closure factory: pyspark HOF lambdas must stay unary (a 2-param
        # lambda is passed (element, index)), so coefficients bind here.
        return F.array_min(
            F.transform(F.col("vs"), lambda v: (F.lit(a) * v + F.lit(b)) % F.lit(MINHASH_P))
        )

    sig = F.array(*[_affine_min(a, b) for a, b in MINHASH_AB])
    return sh.select("doc_id", "hs", vs.alias("vs")).select(
        "doc_id", "hs", sig.alias("sig")
    )


def band_keys(sigs: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Explode a signature frame into its LSH band keys: one
    (doc_id, band, bh) row per band, bh = md5 of the band's signature
    slice — the join key of every LSH candidate step (and the storage
    key of a persisted corpus index; see dedup_minhash_incremental).
    ``extra_cols`` ride along unchanged (e.g. a batch flag)."""
    return sigs.select(
        "doc_id",
        *extra_cols,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("sig", b * ROWS_PER_BAND + 1, ROWS_PER_BAND),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select(
        "doc_id", *extra_cols, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )


def dedup_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    hash_sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle→minhash→band→bucket-join→verify.

    Bands of 4 rows: P(candidate) = 1-(1-j^4)^4 — steep S-curve around
    j≈0.5.  Output: (doc_a, doc_b, est_jaccard, jaccard) for verified
    pairs ≥ threshold.  ``hash_sets`` as in ``dedup_ngram_jaccard``.

    The full-corpus default path is session-cached per threshold
    (``functions/memo.py``): clusters, edit-distance and the recall
    eval all consume this exact pair set instead of each
    re-running the whole signature+band join."""
    if hash_sets is None:

        def build() -> DataFrame:
            prep = _with_signatures(shingle_hash_sets(spark, sf_dir)).persist()
            prep.count()
            try:
                # pair-grain output is tiny; pin it and release the
                # signature cache
                return _minhash_verify(prep, threshold).localCheckpoint(eager=True)
            finally:
                prep.unpersist()

        return memo.cached(spark, sf_dir, ("minhash", threshold), build)
    # caller-supplied hash sets (fixture corpora, incremental slices):
    # the original lazy path
    prep = _with_signatures(hash_sets).persist()
    prep.count()  # materialize the cache before the self-join (see dedup_ngram_jaccard)
    return _minhash_verify(prep, threshold)


def _minhash_verify(prep: DataFrame, threshold: float) -> DataFrame:
    """Band join + exact-Jaccard verify over a prepared
    (doc_id, hs, sig) frame (the shared tail of both paths).  The
    candidate pairs attach BOTH the signature (LSH estimate) and the
    hash set (exact verify) from the one doc-grain frame — two attach
    joins, not the previous four (round 12, guide §2.4: the signature
    frame and the hash-set frame are projections of the same rows)."""
    bands = band_keys(prep)

    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    enriched = (
        cand.join(
            prep.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sig").alias("sig_a"),
                F.col("hs").alias("sh_a"),
            ),
            "doc_a",
        )
        .join(
            prep.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sig").alias("sig_b"),
                F.col("hs").alias("sh_b"),
            ),
            "doc_b",
        )
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        / N_HASHES
    )
    # |A∪B| = |A|+|B|-|A∩B| (see dedup_ngram_jaccard): one set build per pair
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter)
    return (
        enriched.select(
            "doc_a", "doc_b", est.alias("est_jaccard"), jac.alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


# Column-valued shift amounts aren't expressible in the Python lambda DSL,
# so the simhash fold is a SQL expression (still pure Catalyst / codegen;
# near-identical text to the DuckDB oracle).  Token hashes live in their
# own projection (`th`) so the md5 array is computed once per row, not
# once per bit position (a 60× md5 saving).
_TOKEN_HASHES_EXPR = """
transform(
  split(lower(regexp_replace(text, '\\\\s+', ' ')), ' '),
  t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)
)
"""

_SIMHASH_FOLD_EXPR = f"""
aggregate(
  sequence(0, {SIMHASH_BITS - 1}),
  cast(0 as bigint),
  (acc, p) -> acc + if(
    aggregate(
      th,
      cast(0 as bigint),
      (a, h) -> a + (cast((h >> p) & 1 as bigint) * 2 - 1)
    ) > 0,
    shiftleft(cast(1 as bigint), p),
    cast(0 as bigint))
)
"""


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """60-bit simhash per doc as a pure projection.

    Whitespace-token hashes vote ±1 per bit position (frequency-weighted —
    tokens are not deduplicated); fingerprint bit p is the sign of the
    vote sum."""
    return docs.select(
        "doc_id", F.expr(_TOKEN_HASHES_EXPR).alias("th")
    ).select("doc_id", F.expr(_SIMHASH_FOLD_EXPR).alias("simhash"))


def _chunk_layout(bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """(offset, width) per chunk, widths differing by at most one bit."""
    base, rem = divmod(bits, n_chunks)
    layout, pos = [], 0
    for i in range(n_chunks):
        w = base + (1 if i < rem else 0)
        layout.append((pos, w))
        pos += w
    return layout


def dedup_simhash(spark: SparkSession, sf_dir: str, max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """SimHash near-dup pairs: chunk-blocked candidates + hamming verify.

    The 60-bit fingerprint splits into ``max_hamming + 1`` near-equal
    chunks; ≤ ``max_hamming`` differing bits cannot touch every chunk
    (pigeonhole), so at least one chunk collides and blocking on chunk
    value has FULL recall at the verify radius — the blocking adapts to
    the radius instead of silently dropping distance-(chunks..radius)
    pairs.  Verification is ``bit_count(xor) <= max_hamming``; the DuckDB
    oracle is an independent brute-force all-pairs scan, so a recall gap
    here would hash-mismatch rather than pass unnoticed.

    Scale: narrower chunks (6-7 bits at radius 8 vs 15 at radius 3) mean
    denser buckets — the price of a wide radius.  Bucket cardinality is
    2^width per chunk index; at corpus scale pick the radius the product
    (docs / 2^width)² per bucket affords, or tighten ``max_hamming``.

    The pair-grain result is session-cached per radius
    (``functions/memo.py``): the registered query and
    ``dedup_recall_eval``'s simhash family consume the identical pair
    set."""
    return memo.cached(
        spark, sf_dir, ("simhash", max_hamming), lambda: _simhash_pairs(spark, sf_dir, max_hamming)
    )


def _simhash_pairs(spark: SparkSession, sf_dir: str, max_hamming: int) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", spread=True)
    fps = simhash_fingerprints(docs).persist()
    fps.count()  # materialize before the self-join (see dedup_ngram_jaccard)
    layout = _chunk_layout(SIMHASH_BITS, max_hamming + 1)
    structs = ", ".join(
        f"named_struct('chunk', {i}, 'val', shiftright(simhash, {off}) & {2**w - 1})"
        for i, (off, w) in enumerate(layout)
    )
    chunks = fps.select(
        "doc_id",
        "simhash",
        F.explode(F.expr(f"array({structs})")).alias("cc"),
    ).select("doc_id", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))
    pairs = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("simhash_a"),
            F.col("b.simhash").alias("simhash_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("simhash_a ^ simhash_b"))
    try:
        # pin the pair-grain result, then release the fingerprint cache
        # backing the chunk self-join
        return (
            pairs.select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .localCheckpoint(eager=True)
        )
    finally:
        fps.unpersist()


SMALL_GRAPH_EDGES = 200_000


def dedup_clusters(
    spark: SparkSession, sf_dir: str, small_graph_edges: int = SMALL_GRAPH_EDGES
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs — connected components by
    iterative min-label propagation (the step pair-finding ops stop short
    of: "which rows form one duplicate group", what a training pipeline
    actually deletes against).

    Edges are the verified minhash-LSH pairs; each node repeatedly adopts
    the minimum component label in its neighborhood until fixpoint, so
    every doc in a component ends labeled with the component's smallest
    doc_id.  Per iteration: one join of (edges ⋈ labels) + a min-aggregate
    — both shuffle only the EDGE set (≈ #near-dup pairs, ≪ corpus), never
    the corpus.  Convergence in O(component diameter) rounds; near-dup
    clusters are shallow (dup chains, not paths), so the loop exits in 2-3
    rounds with a driver-side scalar check per round (a convergence test,
    not data collection).  At 100 TB: labels/edges persist per round and
    unpersist after — bounded memory, and the classic large-star/small-star
    optimization drops in unchanged if diameters ever grow.

    Small-graph fast path: the verified near-dup edge set is orders of
    magnitude smaller than the corpus (pairs of *near-identical* docs), so
    when it fits comfortably on the driver (≤ ``small_graph_edges``,
    one count to decide) union-find runs locally in O(E α(E)) — replacing
    3-4 distributed rounds whose per-round job overhead dwarfs the work.
    This is the standard production shape: distributed candidate
    generation + verification, local consolidation of the (tiny) dup
    graph; the iterative path stays for graphs that outgrow the driver.
    Both paths produce identical labels (min doc_id per component).

    Output: (doc_id, cluster_id, cluster_size) for docs in a dup cluster.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").persist()
    n_edges = pairs.count()

    if n_edges <= small_graph_edges:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for row in pairs.collect():
            a, b = row.doc_a, row.doc_b
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps the label = smallest member
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        comp = {x: find(x) for x in parent}
        sizes: dict[int, int] = {}
        for c in comp.values():
            sizes[c] = sizes.get(c, 0) + 1
        rows = [(x, c, sizes[c]) for x, c in comp.items()]
        pairs.unpersist()
        return spark.createDataFrame(
            rows, "doc_id long, cluster_id long, cluster_size long"
        )

    out = _min_label_components(pairs)
    pairs.unpersist()
    return out


def _min_label_components(pairs: DataFrame) -> DataFrame:
    """Distributed connected components by iterative min-label
    propagation over a (doc_a, doc_b) pair frame — the >200 k-edge
    fallback of ``dedup_clusters`` (the driver union-find fast path
    covers the common case).  Exercised and tuned under load in round
    12 (round-11 verdict item 3): a synthetic 1 M-edge dup graph drives
    it in tests/test_operators.py and scripts/cc_fallback_curve.py
    curves it on an edge-count ladder.

    Round-12 materialization discipline (the kcore/LPA pattern):

    - each round's stepped label vector is ``localCheckpoint(eager)``ed
      ONCE and feeds both the convergence count and the next round —
      the previous persist() chain left lineage growing linearly with
      rounds (plan size, planning time) and re-planned the full history
      every round; the previous round's checkpoint is released once the
      next one is materialized, so a deep graph holds one label vector,
      not one per round;
    - the changed-row count folds into the SAME frame (old label
      carried alongside the stepped label) instead of the previous
      extra new⋈old join per round — one pass over |V| does both jobs;
    - the symmetrized edge view is pinned once up front,
      HASH-PARTITIONED ON THE ROUND JOIN KEY (doc_b) — the stationary-
      adjacency discipline of the LPA/PageRank loops (graph.py): the
      cached layout satisfies every round's join requirement, so only
      the |V|-row label vector moves per round.  Without it the
      2 M-edge ladder rung read alpha 1.26 (each round re-exchanged the
      full edge set once the label frame outgrew the broadcast
      threshold); with it the same rung reads alpha ≤ ~1.

    Labels/edges stay (pair-table)-grain throughout — the corpus never
    shuffles.  Convergence in O(component diameter) rounds; near-dup
    clusters are shallow, and the classic large-star/small-star
    rewrite drops in unchanged if diameters ever grow.

    Output: (doc_id, cluster_id, cluster_size), cluster_id = min doc_id
    of the component — identical labeling to the union-find fast path.
    """
    edges = (
        pairs.select("doc_a", "doc_b")
        .union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .repartition(F.col("doc_b"))
        .sortWithinPartitions("doc_b")
        .persist()
    )
    edges.count()  # materialize the layout once; rounds reuse it

    try:
        labels = (
            edges.select(F.col("doc_a").alias("doc_id"))
            .distinct()
            .withColumn("comp", F.col("doc_id"))
            .localCheckpoint(eager=True)
        )
        held = labels  # the checkpoint the current labels read from

        while True:
            nbr_min = (
                edges.join(labels, edges.doc_b == labels.doc_id)
                .groupBy("doc_a")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            stepped = (
                labels.join(nbr_min, labels.doc_id == nbr_min.doc_a, "left")
                .select(
                    "doc_id",
                    F.col("comp").alias("prev_comp"),
                    F.least(
                        F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                    ).alias("comp"),
                )
                .localCheckpoint(eager=True)
            )
            # the new round is materialized: the previous one's blocks go
            _drop_checkpoint(held)
            held = stepped
            changed = stepped.filter(F.col("comp") != F.col("prev_comp")).count()
            labels = stepped.select("doc_id", "comp")
            if changed == 0:
                break

        sizes = labels.groupBy("comp").agg(F.count("*").alias("cluster_size"))
        out = (
            labels.join(sizes, "comp")
            .select("doc_id", F.col("comp").alias("cluster_id"), "cluster_size")
            .localCheckpoint(eager=True)
        )
        _drop_checkpoint(held)
        return out
    finally:
        edges.unpersist()


def _drop_checkpoint(df: DataFrame) -> None:
    """Release the blocks of a ``localCheckpoint``ed frame.  They live in
    the checkpointed RDD, which ``DataFrame.unpersist`` does not reach;
    nothing may read ``df`` afterwards (its lineage is truncated)."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


PARA_TOKENS = 12
PARA_DUP_FRAC = 0.5


def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-grain exact dedup: chunk each document into fixed
    ``PARA_TOKENS``-token "paragraphs" (the corpus ships single-line docs,
    so fixed token windows stand in for real newline paragraphs — the
    text_repetition convention), md5 each chunk, and mark every occurrence
    after the globally FIRST (doc_id, position) as a duplicate.  This is
    the sub-document dedup pass (boilerplate headers, license blocks,
    quoted reposts) that document-grain dedup_exact can't see.

    Plan: one narrow chunking projection, ``posexplode``, then a single
    shuffle on the chunk hash — ``row_number`` over (hash → doc_id, pos)
    makes first-wins deterministic — and a groupBy(doc_id) fold back to
    document grain.  At 100 TB both exchanges carry (hash, doc_id, pos)
    triples, never text; skew is bounded because a degenerate mega-chunk
    ("the the the…") concentrates ONE hash partition, and the per-doc
    fold is entity-grain.

    Output: (doc_id, n_paras, n_dup_paras, dup_para_frac, is_mostly_dup).
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    toks = F.split(F.lower(F.col("text")), " ")
    n_toks = F.size(toks)
    chunks = F.transform(
        F.sequence(F.lit(0), F.floor((n_toks - 1) / PARA_TOKENS).cast("int")),
        lambda i: F.array_join(
            F.slice(toks, i * PARA_TOKENS + 1, PARA_TOKENS), " "
        ),
    )
    ex = docs.select("doc_id", F.posexplode(chunks).alias("pos", "chunk")).select(
        "doc_id", "pos", F.md5("chunk").alias("h")
    )
    w = Window.partitionBy("h").orderBy("doc_id", "pos")
    flagged = ex.withColumn("is_dup", F.row_number().over(w) > 1)
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_paras"),
    )
    frac = F.col("n_dup_paras") / F.col("n_paras")
    return per_doc.select(
        "doc_id",
        "n_paras",
        "n_dup_paras",
        frac.alias("dup_para_frac"),
        (frac > PARA_DUP_FRAC).alias("is_mostly_dup"),
    )


def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: inside every near-dup cluster
    (minhash-LSH verified pairs → connected components), keep exactly one
    document — the longest text, ties to the lowest doc_id — and mark the
    rest for dropping.  This is the decision step that turns the dedup
    family's PAIR/CLUSTER reports into an actionable corpus filter
    (singletons never reach a cluster, so absence from this list means
    "keep" by definition).

    Cost is ``dedup_clusters`` plus entity-grain work: clustered docs are
    a small fraction of the corpus, so the n_chars join broadcasts the
    cluster side and the per-cluster window sorts tiny groups.  Output:
    (doc_id, cluster_id, n_chars, keep)."""
    clusters = dedup_clusters(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = docs.join(F.broadcast(clusters.select("doc_id", "cluster_id")), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .select("doc_id", "cluster_id", "n_chars", (F.col("rn") == 1).alias("keep"))
    )


CONTAIN_THRESHOLD = 0.8
CONTAIN_MAX_DF = 64  # posting-list cap: shingles in more docs are dropped


def dedup_containment(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = CONTAIN_THRESHOLD,
    max_df: int = CONTAIN_MAX_DF,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle CONTAINMENT — the sixth
    family, for the case Jaccard is structurally blind to: a short
    document embedded inside a much longer one (quote farms, wrapper
    pages, prompt-in-completion leaks).  C(A→B) = |A∩B| / |A| is ~1 for
    an excerpt regardless of the host's length, while J(A,B) ≈ |A|/|B|
    → 0 — minhash-LSH never even generates the candidate.

    Plan shape is the inverted-index join (``text_doc_similarity``'s,
    over shingle hashes): explode the persisted hash sets to postings
    [one shuffle]; drop shingles in more than ``max_df`` docs (df cap —
    boilerplate shingles are the posting-list skew bomb; candidate
    fan-out is bounded at Σ df² over kept shingles); self-join postings
    on shingle; pair-grain count = |A∩B|; per-doc kept-set sizes join
    back at entity grain.  The metric is thus "containment over
    discriminative shingles" — same df-capped-vocabulary semantics as
    the doc-similarity operator, and every count is an integer so both
    ratios are single exact-operand IEEE divisions (hash-exact oracle).

    Output: (doc_a, doc_b, n_shared, contain_a_in_b, contain_b_in_a)
    for unordered pairs (doc_a < doc_b) where either direction ≥
    ``threshold``."""
    sh = shingle_hash_sets(spark, sf_dir)  # shared memoized artifact
    post = sh.select("doc_id", F.explode("hs").alias("h"))
    wide = post.groupBy("h").agg(F.count("*").alias("df")).filter(
        F.col("df") > max_df
    )
    kept = post.join(
        F.broadcast(wide.select("h")), "h", "left_anti"
    ).persist()
    try:
        kept.count()
        sizes = kept.groupBy("doc_id").agg(F.count("*").alias("nsh"))
        a = kept.select(F.col("h").alias("h"), F.col("doc_id").alias("doc_a"))
        b = kept.select(F.col("h").alias("h"), F.col("doc_id").alias("doc_b"))
        pairs = (
            a.join(b, "h")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_shared"))
        )
        out = (
            pairs.join(
                sizes.select(
                    F.col("doc_id").alias("doc_a"), F.col("nsh").alias("na")
                ),
                "doc_a",
            )
            .join(
                sizes.select(
                    F.col("doc_id").alias("doc_b"), F.col("nsh").alias("nb")
                ),
                "doc_b",
            )
            .select(
                "doc_a",
                "doc_b",
                "n_shared",
                (F.col("n_shared") / F.col("na")).alias("contain_a_in_b"),
                (F.col("n_shared") / F.col("nb")).alias("contain_b_in_a"),
            )
            .filter(
                F.greatest("contain_a_in_b", "contain_b_in_a") >= threshold
            )
        )
        # pair-grain result is tiny; cut it loose from the cached
        # lineage so the corpus-sized caches can release (the
        # dedup_recall_eval / dedup_edit_distance discipline)
        return out.localCheckpoint(eager=True)
    finally:
        kept.unpersist()


# edit-distance verify: prefix length and acceptance threshold
EDIT_PREFIX = 64
EDIT_MAX = 8
# prefix-bucket blocking for the independent candidate source
EDIT_BLOCK = 24
EDIT_MAX_BLOCK = 64


def dedup_edit_distance(
    spark: SparkSession,
    sf_dir: str,
    prefix_len: int = EDIT_PREFIX,
    max_edits: int = EDIT_MAX,
    block_len: int = EDIT_BLOCK,
    max_block: int = EDIT_MAX_BLOCK,
    lsh_pairs: DataFrame | None = None,
) -> DataFrame:
    """Edit-distance near-dup pairs — the fifth dedup family (exact /
    Jaccard / MinHash / SimHash / embedding measure SET overlap; edit
    distance measures ORDER-preserving character drift: OCR noise, typo
    clusters, template fills).

    CANDIDATE GENERATION (round 4) is a UNION of two independent
    sources, because minhash-LSH blocks on *set* overlap — adversarial
    for exactly the order-drift pairs this family exists to catch (two
    docs sharing a near-identical opening but divergent bodies have low
    Jaccard and never share a band):

    1. the shared minhash-LSH pairs (catches body-level near-dups);
    2. PREFIX-BUCKET blocking: docs sharing their first ``block_len``
       normalized chars, plus a mirrored LAST-``block_len`` bucket so a
       typo inside the head block doesn't hide a pair whose tail agrees.
       Each bucket key is a narrow (key, doc_id) shuffle; buckets wider
       than ``max_block`` are dropped before the self-join (same
       skew-cap discipline as ``dedup_ngram_jaccard`` — boilerplate
       openings otherwise fan out W·(W−1)/2).

    The VERIFY is unchanged: Levenshtein over the first ``prefix_len``
    normalized chars ≤ ``max_edits``.  The prefix bound is the scale
    decision: full-text Levenshtein is O(|a|·|b|) per pair — unbounded
    on document bodies — while the prefix caps verify cost at
    prefix_len² per candidate, the standard production compromise.
    ``levenshtein`` is JVM-side in Spark and built-in in DuckDB with
    identical unit-cost semantics, so the oracle is byte-exact.

    Output: (doc_a, doc_b, edit_distance), candidates that pass.  The
    full-corpus default path (no caller-supplied ``lsh_pairs``) is
    session-cached per params (``functions/memo.py``): the registered
    query and ``dedup_recall_eval``'s edit family consume the identical
    pair set."""
    params = (prefix_len, max_edits, block_len, max_block)
    if lsh_pairs is None:
        return memo.cached(
            spark,
            sf_dir,
            ("edit", *params),
            lambda: _edit_distance_pairs(
                spark, sf_dir, *params, dedup_minhash_lsh(spark, sf_dir)
            ),
        )
    return _edit_distance_pairs(spark, sf_dir, *params, lsh_pairs)


def _edit_distance_pairs(
    spark: SparkSession,
    sf_dir: str,
    prefix_len: int,
    max_edits: int,
    block_len: int,
    max_block: int,
    lsh_pairs: DataFrame,
) -> DataFrame:
    keyed = read_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.substring(_norm(F.col("text")), 1, prefix_len).alias("prefix"),
        F.substring(_norm(F.col("text")), 1, block_len).alias("head"),
        F.substring(F.reverse(_norm(F.col("text"))), 1, block_len).alias("tail"),
    ).persist()
    keyed.count()  # pin one computation before the self-joins

    def block_pairs(key: str) -> DataFrame:
        k = keyed.select("doc_id", F.col(key).alias("bkey"))
        wide = k.groupBy("bkey").count().filter(F.col("count") > max_block)
        k = k.join(F.broadcast(wide.select("bkey")), "bkey", "left_anti")
        a, b = k.alias("a"), k.alias("b")
        return a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )

    # callers that already hold the minhash pair set (dedup_recall_eval)
    # pass it in — re-running the full minhash pipeline for candidates
    # would double the dominant cost of a composed evaluation
    try:
        cands = (
            lsh_pairs.select("doc_a", "doc_b")
            .unionByName(block_pairs("head"))
            .unionByName(block_pairs("tail"))
            .distinct()
        )
        a = keyed.select(F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"))
        b = keyed.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"))
        out = (
            cands.join(a, "doc_a")
            .join(b, "doc_b")
            .withColumn("edit_distance", F.levenshtein("pa", "pb").cast("long"))
            .filter(F.col("edit_distance") <= max_edits)
            .select("doc_a", "doc_b", "edit_distance")
        )
        # pin the (small, pair-grain) result so the cache backing its four
        # self-join references can be released — repeated calls in one
        # session otherwise accumulate executor storage
        return out.localCheckpoint(eager=True)
    finally:
        keyed.unpersist()


DEDUP_EVAL_FAMILIES = ("ngram", "minhash", "simhash", "edit")
POOL_TRUTH_JACCARD = 0.9


def dedup_recall_eval(
    spark: SparkSession, sf_dir: str, truth_threshold: float = POOL_TRUTH_JACCARD
) -> DataFrame:
    """Pair recall/precision of every fuzzy dedup family against a POOLED
    ground truth — the evaluation a corpus pipeline runs before trusting
    a near-dup detector (the text-side twin of ``ann_recall_eval_all``).

    Absolute truth does not exist for near-duplication (the corpus's
    planted clones are not byte-identical, so exact-text pairs are empty
    at small SF), so the report uses IR-style POOLING: the candidate
    pool is the union of every family's emitted pairs, and truth = pool
    pairs whose exact shingle-set Jaccard ≥ ``truth_threshold`` — the
    best-known reference set, exactly the TREC pooled-qrels compromise.
    A family's recall is its share of that pooled truth; its precision
    column is the fraction of its own pairs that are pooled-truth (low
    values flag a family emitting weakly-similar pairs, not an error).

    Counts are integers and both ratios single IEEE divisions —
    hash-exact.  Output: (family, n_truth, n_found, n_hit, recall,
    pool_precision), one row per family.

    The shingle/normalize pass is HOISTED: one persisted (doc_id, hs)
    hash-set table feeds ngram blocking, minhash signatures+verify AND
    the pooled-truth exact-Jaccard check (previously each family re-ran
    md5-per-shingle over the full corpus — the dominant scan, ×3).
    Every persisted intermediate is unpersisted after the final 4-row
    report is materialized, so repeated calls in one session (bench runs
    each query at least twice) don't accumulate executor storage."""
    hs_shared = shingle_hash_sets(spark, sf_dir)  # session-memoized table
    # the minhash call hits the session-memoized checkpointed pair set
    # (shared with clusters/edit across the whole session,
    # not just within this evaluation)
    minhash_pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    pairs: dict[str, DataFrame] = {}
    pool = truth = None
    try:
        # every family resolves through its session-memoized default
        # path (round-11): the registered per-family queries and this
        # evaluation consume the same checkpointed pair tables, so
        # whichever runs first per session pays each family's build
        fams = {
            "ngram": dedup_ngram_jaccard(spark, sf_dir),
            "minhash": minhash_pairs,
            "simhash": dedup_simhash(spark, sf_dir),
            "edit": dedup_edit_distance(spark, sf_dir),
        }
        pairs = {
            fam: df.select("doc_a", "doc_b").persist() for fam, df in fams.items()
        }
        pool = None
        for fam in DEDUP_EVAL_FAMILIES:
            pool = pairs[fam] if pool is None else pool.unionByName(pairs[fam])
        pool = pool.distinct().persist()
        pool.count()

        # exact-Jaccard verify of the pool.  The pool is dominated by
        # simhash's wide-radius pairs (~84 k at sf0.1), most nowhere near
        # truth_threshold — so prune FIRST on the exact size bound
        # J = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|): the (doc_id, set
        # size) join is integer-columns-only, and the expensive
        # shingle-ARRAY join then touches only the surviving pairs.
        sizes = hs_shared.select("doc_id", F.size("hs").alias("nsh"))
        pruned = (
            pool.join(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("na")),
                "doc_a",
            )
            .join(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("nb")),
                "doc_b",
            )
            .filter(
                F.least("na", "nb") / F.greatest("na", "nb") >= truth_threshold
            )
            .select("doc_a", "doc_b")
        )
        ja = hs_shared.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hsa"))
        jb = hs_shared.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hsb"))
        jac = F.size(F.array_intersect("hsa", "hsb")) / F.size(
            F.array_union("hsa", "hsb")
        )
        truth = (
            pruned.join(ja, "doc_a")
            .join(jb, "doc_b")
            .filter(jac >= truth_threshold)
            .select("doc_a", "doc_b")
            .persist()
        )
        n_truth = truth.count()

        parts = []
        for fam in DEDUP_EVAL_FAMILIES:
            stats = pairs[fam].agg(F.count("*").alias("n_found"))
            hits = truth.join(pairs[fam], ["doc_a", "doc_b"], "left_semi").agg(
                F.count("*").alias("n_hit")
            )
            parts.append(
                stats.crossJoin(hits).select(
                    F.lit(fam).alias("family"),
                    F.lit(n_truth).alias("n_truth"),
                    "n_found",
                    "n_hit",
                    F.when(
                        F.lit(n_truth) > 0, F.col("n_hit") / F.lit(float(n_truth))
                    ).alias("recall"),
                    F.when(
                        F.col("n_found") > 0, F.col("n_hit") / F.col("n_found")
                    ).alias("pool_precision"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # pin the 4-row report BEFORE releasing the caches it derives from
        return out.localCheckpoint(eager=True)
    finally:
        # hs_shared / minhash_pairs are session-memoized shared artifacts
        # now — only the evaluation-local caches release here
        for df in (pool, truth, *pairs.values()):
            if df is not None:
                df.unpersist()


def dedup_jaccard_exact_join(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """EXACT set-similarity join by PREFIX FILTERING (the AllPairs/
    PPJoin family) — every pair with shingle-set Jaccard ≥ ``threshold``,
    with a completeness GUARANTEE the other fuzzy families trade away:
    min-shingle blocking (ngram) misses pairs whose min hashes differ,
    minhash-LSH is probabilistic by construction, simhash is radius-
    bounded.  Prefix filtering is lossless: order every set by one
    global token ranking (rarest first) and emit only each set's first
    ``|s| − ⌈t·|s|⌉ + 1`` tokens as join keys — two sets with
    J ≥ t must overlap in ≥ ⌈t·max(|A|,|B|)⌉ elements, so they cannot
    BOTH miss each other's prefix under a common ordering (Chaudhuri
    et al., "A Primitive Operator for Similarity Joins", ICDE'06).

    Plan: shingle-hash sets (shared builder) → explode to postings → a
    df-count join tags each token with its document frequency [one
    token-keyed shuffle]; the global ordering is the (df, tok) TUPLE
    itself — a total order needs no consecutive ranks, so there is no
    global row_number (a single-partition window would serialize the
    whole vocabulary through one task at scale); per-doc ordered arrays
    rebuild via sort_array(collect_list(struct(df, tok))); the PREFIX
    explode is the candidate generator [second shuffle, prefix-sized
    not set-sized]; verify joins the full hash sets back and keeps
    exact J ≥ t.  The rarest-first ordering is why this scales: a
    token's candidate contribution is its df², and prefixes
    preferentially hold the rare tokens.  A pytest pins completeness
    against the brute-force all-pairs join at the harder t=0.5; the
    registered default is the standard near-dup operating point 0.8
    (prefix length shrinks to ~|s|/5, cutting candidate volume ~3×
    with the identical guarantee).

    Output: (doc_a, doc_b, jaccard), doc_a < doc_b."""
    return _jaccard_exact_join_from(shingle_hash_sets(spark, sf_dir), threshold)


def _jaccard_exact_join_from(sh: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filter join body over a persisted (doc_id, hs) frame; the
    pair-grain result is localCheckpointed so the corpus-sized cache can
    release when the caller unpersists (the dedup_recall_eval
    discipline)."""
    post = sh.select("doc_id", F.explode("hs").alias("tok"))
    dfreq = post.groupBy("tok").agg(F.count("*").alias("df"))
    ranked = (
        post.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "tok"))).alias("sorted"))
        .select(
            "doc_id",
            F.transform("sorted", lambda s: s["tok"]).alias("toks"),
            F.size("sorted").alias("n"),
        )
    )
    # PROBING prefix length |s| - ceil(t*|s|) + 1
    pref_len = F.col("n") - F.ceil(F.col("n") * F.lit(threshold)).cast("int") + 1
    prefixes = ranked.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("toks", 1, pref_len)).alias("pos", "tok"),
    )
    # LENGTH filter (the second AllPairs invariant, also lossless):
    # J ≥ t ⟹ min(|A|,|B|)/max(|A|,|B|) ≥ t, so size-incompatible
    # prefix collisions never reach the pair distinct — the filter that
    # tames mid-frequency tokens' df² fan-out
    size_ok = F.least(F.col("a.n"), F.col("b.n")) >= (
        F.greatest(F.col("a.n"), F.col("b.n")) * F.lit(threshold)
    )
    # INDEXING-prefix filter (PPJoin, round-11 optimization — the third
    # lossless invariant): for a valid pair with |A| ≤ |B|, the globally
    # SMALLEST common token w at positions (i*, j*) satisfies
    # O ≤ min(|A|−i*+1, |B|−j*+1) with O ≥ ⌈t/(1+t)·(|A|+|B|)⌉, so
    # i* ≤ |A| − ⌈2t/(1+t)·|A|⌉ + 1 (the short indexing prefix) and
    # j* ≤ |B| − ⌈t·|B|⌉ + 1 (the probing prefix).  Requiring SOME match
    # with the smaller side's position inside its indexing prefix prunes
    # the candidate set 1.44 M → 0.55 M at sf0.1 BEFORE the expensive
    # array-intersect verify, with zero recall loss (the completeness
    # pytest vs brute force and the looser-prefix DuckDB oracle both
    # pin it).  The 1e-9 guard biases ceil's float rounding toward a
    # LONGER prefix — over-keeping is harmless, over-pruning is not.
    def _idx_len(ncol: Column) -> Column:
        return (
            ncol
            - F.ceil(
                ncol * F.lit(2.0 * threshold / (1.0 + threshold)) - F.lit(1e-9)
            ).cast("int")
            + 1
        )

    ia, jb = F.col("a.pos") + 1, F.col("b.pos") + 1
    idx_ok = (
        ((F.col("a.n") <= F.col("b.n")) & (ia <= _idx_len(F.col("a.n"))))
        | ((F.col("b.n") <= F.col("a.n")) & (jb <= _idx_len(F.col("b.n"))))
    )
    # NOTE (round 12): PPJoin's POSITIONAL upper-bound filter was
    # measured here a second time per the round-11 verdict (item 4) —
    # this time on ladder-scale realistic text (sf0.2 synthetic, 100 k
    # docs) as well as the driver sf0.1 corpus, via
    # scripts/ppjoin_pos_ab.py with order-reversed repeats to cancel
    # JIT/warm-up bias.  It prunes 1.9% (sf0.1) / 0.8% (sf0.2) of
    # candidates at t=0.8 and moves verify wall-clock within noise in
    # both directions (19.75 vs 20.12 s second-position at sf0.2) —
    # below its complexity cost, so it stays out (measured and
    # rejected).
    cands = (
        prefixes.alias("a")
        .join(
            prefixes.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok
            & idx_ok,
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ja = sh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hsa"))
    jb = sh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hsb"))
    n_inter = F.size(F.array_intersect("hsa", "hsb"))
    jac = n_inter / (F.size("hsa") + F.size("hsb") - n_inter)
    return (
        cands.join(ja, "doc_a")
        .join(jb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .localCheckpoint(eager=True)
    )


INCR_SPLIT_MOD = 4      # hash(doc_id) % 4 == 0 → the "incoming batch" (~25%)


def dedup_minhash_incremental(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    split_mod: int = INCR_SPLIT_MOD,
) -> DataFrame:
    """Incremental dedup of an incoming batch against an EXISTING corpus
    — the production shape ``dedup_minhash_lsh`` is the offline twin
    of: at 100 TB you never re-pair the whole corpus per ingest; you
    keep the banded signature table as a persisted INDEX keyed by
    (band, bh) and probe only the new batch against it (new×old),
    plus the new batch against itself (new×new).  Candidate volume is
    |new|·bands + collisions — independent of corpus-pair count.

    The batch split is deterministic (hash(doc_id) % ``split_mod`` == 0
    plays the incoming slice) so the oracle reproduces it; in
    production the index is the previously-written bands/signatures
    table and the probe side is the ingest.  One md5 shingle pass
    serves both sides (the shared hash-set frame also verifies exact
    Jaccard on every candidate).  Keep policy: a new doc is dropped if
    it verifies ≥ ``threshold`` against ANY corpus doc, or against an
    earlier (lower doc_id) doc of its own batch — first-wins within
    the batch, matching ``dedup_paragraph``'s discipline; chained
    survivorship (B dropped for A ⇒ C~B kept) is dedup_clusters'
    job, not the ingest gate's.

    Output: one row per new doc — (doc_id, n_corpus_dups,
    n_batch_dups_earlier, is_kept)."""
    from ..functions.hashing import portable_hash60

    sh = (
        shingle_hash_sets(spark, sf_dir)  # shared memoized artifact
        .withColumn(
            "is_new", portable_hash60(F.col("doc_id")) % split_mod == 0
        )
        .persist()
    )
    sigs = signatures_from_hash_sets(sh).join(
        sh.select("doc_id", "is_new"), "doc_id"
    ).persist()
    sigs.count()
    bands = band_keys(sigs, extra_cols=("is_new",)).persist()
    try:
        index = bands.filter(~F.col("is_new")).select("doc_id", "band", "bh")
        probe = bands.filter(F.col("is_new")).select("doc_id", "band", "bh")

        cross = (
            probe.alias("n")
            .join(
                index.alias("o"),
                (F.col("n.band") == F.col("o.band"))
                & (F.col("n.bh") == F.col("o.bh")),
            )
            .select(
                F.col("n.doc_id").alias("new_id"), F.col("o.doc_id").alias("old_id")
            )
            .distinct()
        )
        intra = (
            probe.alias("a")
            .join(
                probe.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bh") == F.col("b.bh"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("old_id"), F.col("b.doc_id").alias("new_id")
            )
            .distinct()
        )

        def _verified(pairs: DataFrame) -> DataFrame:
            # exact-Jaccard verification on the shared hash-set frame
            j = (
                pairs.join(
                    sh.select(F.col("doc_id").alias("new_id"), F.col("hs").alias("hs_n")),
                    "new_id",
                )
                .join(
                    sh.select(F.col("doc_id").alias("old_id"), F.col("hs").alias("hs_o")),
                    "old_id",
                )
            )
            n_inter = F.size(F.array_intersect("hs_n", "hs_o"))
            jac = n_inter / (F.size("hs_n") + F.size("hs_o") - n_inter)
            return j.filter(jac >= threshold).groupBy("new_id").agg(
                F.count("*").alias("n")
            )

        corpus_dups = _verified(cross)
        batch_dups = _verified(intra)
        out = (
            sigs.filter(F.col("is_new"))
            .select("doc_id")
            .join(
                corpus_dups.select(
                    F.col("new_id").alias("doc_id"), F.col("n").alias("n_corpus_dups")
                ),
                "doc_id",
                "left",
            )
            .join(
                batch_dups.select(
                    F.col("new_id").alias("doc_id"),
                    F.col("n").alias("n_batch_dups_earlier"),
                ),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("n_corpus_dups", F.lit(0)).alias("n_corpus_dups"),
                F.coalesce("n_batch_dups_earlier", F.lit(0)).alias(
                    "n_batch_dups_earlier"
                ),
            )
            .withColumn(
                "is_kept",
                (F.col("n_corpus_dups") == 0) & (F.col("n_batch_dups_earlier") == 0),
            )
        )
        # one row per new doc: pin the report, then release the three
        # caches (a production run persists bands as the stored index
        # table instead — this operator's demo scope ends here)
        return out.localCheckpoint(eager=True)
    finally:
        for df in (sh, sigs, bands):
            df.unpersist()
