"""LLM training-data preparation operators — the pipeline stages between a
cleaned corpus (operators/corpus.py) and the trainer's data loader:

- ``text_pii_redact``        regex PII redaction (emails / IPv4s / intl
                             phone numbers → typed placeholder tokens)
- ``corpus_contamination``   benchmark-contamination check: shingle-hash
                             overlap of every document against a held-out
                             benchmark set
- ``corpus_pack_sequences``  concat-then-chunk sequence packing: assign
                             every document its (pack, offset) in the
                             fixed-capacity token stream pretraining
                             actually consumes

All three are exact and engine-portable, with byte-exact DuckDB oracles
(oracles_ext.py) — the regex dialects (Java / RE2) agree on every pattern
used here (no lookaround, no backreferences), and the shingle hashing is
the shared portable 60-bit md5 prefix (functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions import memo
from ..functions.hashing import portable_hash60
from ..sources.tables import read_table

# PII patterns, deliberately restricted to syntax Java regex and RE2
# interpret identically (character classes, bounded repeats, \b):
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
# international form only (+ then 7-15 digits): the general "phone-ish
# digit run" patterns are where regex dialects start disagreeing
PII_PHONE_RE = r"\+[0-9]{7,15}"

# (pattern, placeholder) in application order.  Counts are taken on the
# PROGRESSIVELY redacted text (emails first, then IPv4 over the
# email-redacted text, ...) so a span can only ever be counted and
# redacted once — e.g. the "1.2.3.4" inside "1.2.3.4@host.com" is part of
# the email match, not a second IP hit.  Both engines apply the same
# sequence, so the contract is engine-exact.
PII_STAGES = (
    ("emails", PII_EMAIL_RE, "<EMAIL>"),
    ("ips", PII_IPV4_RE, "<IP>"),
    ("phones", PII_PHONE_RE, "<PHONE>"),
)

# contamination verdict threshold: fraction of a doc's distinct shingle
# hashes that also appear in the benchmark set
CONTAMINATION_THRESHOLD = 0.2
# benchmark membership: deterministic ~1% slice of the corpus standing in
# for an eval set (testdata ships no benchmark table)
BENCHMARK_MOD = 97

# sequence packing capacity in whitespace tokens (a real pipeline uses the
# tokenizer's token count — same plan, different counter column)
PACK_CAPACITY = 512


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII redaction with per-category counts.

    Pure narrow projection (regexp_extract_all / regexp_replace column
    expressions) — no UDFs, no shuffle; at 100 TB this runs at parquet-scan
    speed inside whole-stage codegen, the same shape as
    text_analysis.py's scorers.  Returns the md5 of the redacted text
    rather than the text itself (the hash is what the oracle compares;
    a production run would write the redacted column).
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    redacted: Column = F.col("text")
    counts = []
    for name, pat, token in PII_STAGES:
        counts.append(
            F.size(F.regexp_extract_all(redacted, F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{name}")
        )
        redacted = F.regexp_replace(redacted, pat, token)
    return docs.select(
        "doc_id",
        *counts,
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("long").alias("n_chars_redacted"),
    )


def _shingle_hashes(norm: Column, k: int = 8) -> Column:
    """Distinct portable-hashed k-char shingles of normalized text (the
    same construction as dedup.py's blocking sets)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1))),
            lambda g: portable_hash60(norm.substr(g, F.lit(k))),
        )
    )


def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: for every document, the fraction of
    its distinct 8-char shingle hashes that appear anywhere in the
    benchmark slice (doc_id % BENCHMARK_MOD == 0).

    Plan shape: the benchmark side reduces to one DISTINCT shingle-hash
    column (tiny — |benchmark| ≪ |corpus|) and broadcasts; the corpus side
    explodes its shingle sets and LEFT-SEMI-counts against the broadcast —
    a map-side hash probe per shingle, then one groupBy(doc_id) shuffle of
    (doc_id, matched) pairs.  At 100 TB this is the standard decontamination
    sweep: benchmark fits in memory, corpus streams through.

    Output: (doc_id, is_benchmark, n_shingles, n_matched, contamination,
    is_contaminated)."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    norm = F.lower(F.regexp_replace("text", r"\s+", " "))
    # persist-and-pin (dedup.py pattern): three consumers (benchmark set,
    # corpus explode, output frame) read one materialization of the
    # expensive shingle hashing instead of re-hashing the corpus 3×
    sh = docs.select(
        "doc_id",
        (F.col("doc_id") % BENCHMARK_MOD == 0).alias("is_benchmark"),
        _shingle_hashes(norm).alias("hs"),
    ).persist()
    sh.count()
    bench_hashes = (
        sh.filter("is_benchmark").select(F.explode("hs").alias("h")).distinct()
    )
    exploded = sh.select(
        "doc_id", "is_benchmark", F.size("hs").alias("n_shingles"), F.explode("hs").alias("h")
    )
    matched = (
        exploded.join(F.broadcast(bench_hashes), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matched"))
    )
    out = (
        sh.select("doc_id", "is_benchmark", F.size("hs").cast("long").alias("n_shingles"))
        .join(matched, "doc_id", "left")
        .withColumn("n_matched", F.coalesce("n_matched", F.lit(0)).cast("long"))
    )
    contamination = F.col("n_matched") / F.col("n_shingles")
    return out.select(
        "doc_id",
        "is_benchmark",
        "n_shingles",
        "n_matched",
        contamination.alias("contamination"),
        (contamination >= CONTAMINATION_THRESHOLD).alias("is_contaminated"),
    )


def corpus_pack_sequences(
    spark: SparkSession, sf_dir: str, capacity: int = PACK_CAPACITY
) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are concatenated in
    doc_id order into one token stream and chunked every ``capacity``
    tokens — each document is assigned the pack containing its FIRST token
    and its offset within that pack (documents straddle pack boundaries,
    exactly like LLM pretraining's packed-example loader; the loader
    slices chunks from this assignment).

    The global running token count is the shared TWO-LEVEL prefix-sum
    primitive (``functions/ranking.py``): range partition on doc_id,
    partition-local running sums, broadcast per-partition offsets — no
    partition-less window at ANY level (the earlier bucket-based
    formulation still funneled the |buckets|-grain level-2 cumsum
    through one task; the offsets collect here is ``num_partitions``
    rows regardless of corpus size).

    Output: (doc_id, n_tokens, pack_id, pack_offset)."""
    from ..functions.ranking import two_level_prefix

    docs = read_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    ranked, _ = two_level_prefix(
        docs,
        [F.asc("doc_id")],
        measures={"cum_incl": F.col("n_tokens")},
        rank_col="__rk",
    )
    cum_excl = F.col("cum_incl") - F.col("n_tokens")
    return ranked.select(
        "doc_id",
        "n_tokens",
        F.floor(cum_excl / capacity).cast("long").alias("pack_id"),
        (cum_excl % capacity).cast("long").alias("pack_offset"),
    )


# repetition-filter thresholds (Gopher-style quality gates): docs whose
# content is dominated by repeated lines or repeated word bigrams
DUP_LINE_MAX = 0.30
DUP_BIGRAM_MAX = 0.20


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals per document — the boilerplate/spam
    gate of a corpus-cleaning pass:

    - ``dup_line_frac``:   1 − distinct/total over newline-split lines
      (testdata has no newlines → sentences of 12 whitespace tokens stand
      in when a doc is a single line, keeping the signal non-degenerate
      on any corpus shape)
    - ``dup_bigram_frac``: 1 − distinct/total over adjacent word bigrams
    - ``is_repetitive``:   either fraction over its threshold

    Pure narrow projection (split / transform / array_distinct), zero
    shuffle — runs at scan speed like the rest of text_analysis.  Exact
    integer counts ⇒ one IEEE division each ⇒ byte-exact oracle."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    lines_raw = F.split(F.col("text"), "\n")
    toks = F.split(F.lower(F.col("text")), " ")
    n_toks = F.size(toks)
    # sentence-ize single-line docs: fixed 12-token windows (slice clamps
    # at the end, so the last window may be short)
    sent = F.transform(
        F.sequence(F.lit(0), F.floor((n_toks - 1) / 12).cast("int")),
        lambda i: F.array_join(F.slice(toks, i * 12 + 1, 12), " "),
    )
    lines = F.when(F.size(lines_raw) > 1, lines_raw).otherwise(sent)
    # F.get is 0-based and NULL-safe out of range (ANSI mode errors on
    # element_at past the end); the coalesce pins the 1-token degenerate
    # case to the same "tok " string the oracle produces
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_toks - 1, F.lit(1))),
        lambda i: F.concat(
            F.get(toks, i - 1), F.lit(" "), F.coalesce(F.get(toks, i), F.lit(""))
        ),
    )
    dup_line = 1 - F.size(F.array_distinct(lines)) / F.size(lines)
    dup_bigram = 1 - F.size(F.array_distinct(bigrams)) / F.size(bigrams)
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        dup_line.alias("dup_line_frac"),
        F.size(bigrams).cast("long").alias("n_bigrams"),
        dup_bigram.alias("dup_bigram_frac"),
        ((dup_line > DUP_LINE_MAX) | (dup_bigram > DUP_BIGRAM_MAX)).alias(
            "is_repetitive"
        ),
    )


# train/val/test split: hash-mod buckets out of 100
SPLIT_BOUNDS = (("train", 0, 90), ("val", 90, 95), ("test", 95, 100))


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: every document lands in
    exactly one split by hash-mod bucket — the reproducible partition an
    LLM data pipeline freezes before training (re-runs, new shards, and
    other engines must all agree, which rand()-based splits and
    ``randomSplit`` cannot guarantee).

    Same portable-hash scan-side projection as events_sample — zero
    shuffle for the assignment itself; the per-split count summary is
    one tiny aggregate.  Salting the hash input with a split-version tag
    would rotate membership deterministically.  The splits are disjoint
    and exhaustive BY CONSTRUCTION (bucket ranges tile [0, 100)), which
    the planted test pins.

    Output: (doc_id, bucket, split)."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = F.pmod(portable_hash60(F.col("doc_id").cast("string")), F.lit(100))
    split = F.lit(None).cast("string")
    for name, lo, hi in SPLIT_BOUNDS:
        split = F.when((bucket >= lo) & (bucket < hi), F.lit(name)).otherwise(split)
    return docs.select(
        "doc_id", bucket.cast("long").alias("bucket"), split.alias("split")
    )


def corpus_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity report between ``documents`` and
    ``embeddings`` — the dangling-reference audit run before training
    joins text to vectors: rows per check with violation counts.

    Two anti-join counts (docs without a vector, vectors without a doc)
    plus the matched count — each a left-anti/semi join on the id, which
    Spark executes as broadcast-anti against the smaller side's id
    column (entity-grain; the text/embedding payloads are pruned from
    the scan).  Output: (check, n) with three fixed rows, so the report
    is stable for alerting thresholds."""
    doc_ids = read_table(spark, sf_dir, "documents").select("doc_id")
    vec_ids = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    orphan_docs = doc_ids.join(vec_ids, "doc_id", "left_anti").count()
    orphan_vecs = vec_ids.join(doc_ids, "doc_id", "left_anti").count()
    matched = doc_ids.join(vec_ids, "doc_id", "left_semi").count()
    return spark.createDataFrame(
        [
            ("docs_without_embedding", orphan_docs),
            ("embeddings_without_doc", orphan_vecs),
            ("matched", matched),
        ],
        "check string, n long",
    )


def corpus_train_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-manifest assembly: the END of the data pipeline — per
    (split, lang): how many documents and how many BPE-ish tokens
    actually reach the trainer after exact dedup (canonical survivors
    only) under the frozen train/val/test assignment.  This is the
    number a pretraining run budgets against, and the composition proves
    the pieces (split, dedup, token counting) join on consistent keys.

    All three inputs are entity-grain single-scan operators; the
    manifest joins them on doc_id (AQE broadcasts the slimmer sides) and
    folds to the tiny (split, lang) grain.  At 100 TB each input would
    be a materialized table and this is one co-partitioned join + a
    summary aggregate.

    Output: (split, lang, n_docs, n_tokens)."""
    from .dedup import dedup_exact
    from .text_analysis import text_tokens

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    kept = dedup_exact(spark, sf_dir).filter(~F.col("is_duplicate")).select("doc_id")
    split = corpus_split(spark, sf_dir).select("doc_id", "split")
    tokens = text_tokens(spark, sf_dir).select("doc_id", "n_bpe_tokens")
    return (
        docs.join(kept, "doc_id", "left_semi")
        .join(split, "doc_id")
        .join(tokens, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe_tokens").alias("n_tokens"),
        )
    )


# vocabulary encoding: top-K terms by document frequency; id 0 = <unk>
VOCAB_K = 256


def corpus_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary fit + encode — the tokenize-to-ids step between corpus
    cleaning and sequence packing: build a corpus vocabulary (the
    ``VOCAB_K`` terms with the highest document frequency; ids assigned
    by (df desc, term asc) so the mapping is total-ordered), then encode
    every document as its id sequence (0 = out-of-vocabulary).

    Plan, scale-first: term extraction is a narrow posexplode projection;
    the DF count is one shuffle at (term) grain; the vocabulary is K rows
    — it BROADCASTS onto the token stream (the canonical broadcast-join
    encode: no shuffle of the corpus to look up ids); re-assembly groups
    by doc_id (one corpus shuffle, sorted structs → ordered ids).  At
    100 TB: two corpus-wide shuffles total (DF count, reassembly), both
    at natural grain; the vocab never leaves broadcast size.

    Output: (doc_id, n_tokens, ids_str) — the id sequence space-joined
    into a string so the value-hash compare is list-order exact."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "term")
    )
    dfreq = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("dfreq"))
    vocab = (
        dfreq.withColumn(
            "token_id",
            F.row_number().over(Window.orderBy(F.desc("dfreq"), F.col("term"))),
        )
        .filter(F.col("token_id") <= VOCAB_K)
        .select("term", "token_id")
    )
    encoded = toks.join(F.broadcast(vocab), "term", "left").select(
        "doc_id", "pos", F.coalesce("token_id", F.lit(0)).alias("token_id")
    )
    return (
        encoded.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token_id"))),
                    lambda s: s["token_id"].cast("string"),
                ),
                " ",
            ).alias("ids_str"),
        )
    )


# length-bucketed batching: bucket width in tokens, cap, and batch size
BUCKET_WIDTH = 64
BUCKET_MAX = 7
BATCH_SIZE = 32


def corpus_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly — the dynamic-batching layout step
    of a training data loader: group documents of similar token length so
    each batch pads to its own max, not the corpus max.

    Buckets are fixed ``BUCKET_WIDTH``-token bands (capped at
    ``BUCKET_MAX`` so the tail is one bucket); within a bucket documents
    sort by (n_tokens, doc_id) and chunk into ``BATCH_SIZE``-doc batches.
    The report row per batch carries the padding-efficiency numbers a
    loader needs (padded = Σ(batch_max − n_tokens)).

    Plan: entity-grain projection → per-bucket ROW_NUMBER (8 partitions;
    at extreme corpus sizes this window is the same two-level prefix-sum
    shape corpus_pack_sequences demonstrates) → one aggregate at batch
    grain.  The corpus is scanned exactly once.

    Output: (bucket, batch_id, n_docs, min_tokens, max_tokens,
    padded_tokens, pad_frac)."""
    docs = read_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    bucketed = docs.select(
        "doc_id",
        "n_tokens",
        F.least(F.floor(F.col("n_tokens") / BUCKET_WIDTH), F.lit(BUCKET_MAX))
        .cast("long")
        .alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("n_tokens", "doc_id")
    batched = bucketed.withColumn(
        "batch_id", F.floor((F.row_number().over(w) - 1) / BATCH_SIZE).cast("long")
    )
    agg = batched.groupBy("bucket", "batch_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        (F.max("n_tokens") * F.count("*") - F.sum("n_tokens"))
        .cast("long")
        .alias("padded_tokens"),
    )
    return agg.select(
        "*",
        (F.col("padded_tokens") / (F.col("max_tokens") * F.col("n_docs"))).alias(
            "pad_frac"
        ),
    )


BALANCE_RESOLUTION = 1_000_000


def corpus_language_balance(
    spark: SparkSession, sf_dir: str, resolution: int = BALANCE_RESOLUTION
) -> DataFrame:
    """Down-sample every language to ≈ the smallest language's volume —
    the corpus REBALANCING step multilingual training mixes run (and the
    data-derived-rate sibling of ``events_sample_stratified``, whose
    strata rates are fixed constants).

    Two phases: (1) per-language counts — one tiny aggregate whose
    |languages|-row result is a documented bounded collect; (2) a
    scan-side hash-mod filter where each language's keep-threshold
    ``⌊resolution·target/count_lang⌋`` rides a literal CASE over the
    handful of languages.  Sampling is the repo's portable hash-mod
    discipline: deterministic, engine-portable, stable under
    repartitioning, and CONSISTENT — every operator sampling doc_ids
    draws the same rows, so sampled tables still join.  Zero shuffle;
    the filter reaches the scan.

    Output: the kept sample (doc_id, lang, source, n_chars)."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    counts = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    target = min(counts.values())
    thr = {lang: (resolution * target) // n for lang, n in counts.items()}
    thr_col = F.lit(0)
    for lang, t in sorted(thr.items()):
        thr_col = F.when(F.col("lang") == lang, F.lit(int(t))).otherwise(thr_col)
    bucket = F.pmod(
        portable_hash60(F.col("doc_id").cast("string")), F.lit(resolution)
    )
    return docs.filter(bucket < thr_col).select(
        "doc_id", "lang", "source", "n_chars"
    )


BPE_MERGES = 6


def _bpe_artifacts(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> tuple[DataFrame, DataFrame]:
    """(merge table, word->token-count map), session-cached per n_merges
    (``functions/memo.py``): corpus_bpe_merges and corpus_bpe_encode
    read the SAME merge loop, so the tokenizer trains once.  At 100 TB
    the learned tokenizer is a written artifact every encode job reads.
    Both frames are bounded by the vocabulary, not the corpus; callers
    must treat them as immutable shared state."""
    return memo.cached(
        spark, sf_dir, ("bpe", n_merges), lambda: _bpe_train(spark, sf_dir, n_merges)
    )


def _bpe_train(spark: SparkSession, sf_dir: str, n_merges: int) -> tuple[DataFrame, DataFrame]:
    rep, merges, final = _bpe_chain(spark, sf_dir, n_merges)
    try:
        out = merges[0]
        for m in merges[1:]:
            out = out.unionByName(m)
        merge_tbl = out.select("step", "lhs", "rhs", "pair_freq").localCheckpoint(
            eager=True
        )
        word_tok = final.select(
            "w",
            F.size(F.split(F.trim(F.col("s")), "  ")).alias("n_tok"),
        ).localCheckpoint(eager=True)
    finally:
        rep.unpersist()
    return merge_tbl, word_tok


def corpus_bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """The tokenizer-TRAINING step: the first ``n_merges`` BPE merges
    learned from the corpus (Sennrich et al., "Neural Machine
    Translation of Rare Words with Subword Units", ACL'16) — iterate
    "count adjacent symbol pairs weighted by word frequency → merge the
    most frequent pair everywhere", starting from characters.

    The scale story is the classic BPE factoring: merges operate on the
    WORD-FREQUENCY table, not the corpus — one corpus-sized shuffle
    builds (word, freq), after which every iteration is a |vocab|-sized
    pair count plus a |vocab|-sized rewrite.  Each winning pair is a
    one-row localCheckpointed broadcast relation (the repo's
    de-literalized-spine pattern), so the loop's plan stays O(1) per
    step and nothing larger than the vocabulary ever moves again.

    The symbol sequence is carried as a DOUBLE-SPACE-joined string with
    a two-space pad: every symbol is flanked by gaps of two spaces, a
    pair match (' a  b ') consumes exactly one space from each flanking
    gap, and its replacement (' ab ') restores the invariant — so one
    left-to-right non-overlapping replace() merges ALL boundary-aligned
    occurrences, including consecutive runs ('a b a b' → 'ab ab'),
    exactly like the reference implementation's zero-width-boundary
    regex, with plain string replace available identically in Spark and
    DuckDB.  All counts are integers; the (freq desc, lhs, rhs) tiebreak
    is total — fully deterministic.

    Output: (step, lhs, rhs, merged, pair_freq), one row per merge."""
    merge_tbl, _ = _bpe_artifacts(spark, sf_dir, n_merges)
    return merge_tbl.select(
        "step",
        "lhs",
        "rhs",
        F.concat("lhs", "rhs").alias("merged"),
        "pair_freq",
    )


def _bpe_chain(spark: SparkSession, sf_dir: str, n_merges: int):
    """The shared BPE loop: returns (persisted char-level rep table,
    [one-row checkpointed winner per step], final rewritten rep).  The
    rep rows carry (w, freq, s) so the encode step can map words to
    their final symbol sequences; callers own ``rep.unpersist()``."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    rep = words.select(
        "w",
        "freq",
        F.concat(
            F.lit("  "),
            F.array_join(F.expr("regexp_extract_all(w, '.', 0)"), "  "),
            F.lit("  "),
        ).alias("s"),
    ).persist()
    merges = []
    cur = rep
    for step in range(1, n_merges + 1):
        with_syms = cur.withColumn("syms", F.split(F.trim(F.col("s")), "  "))
        n = F.size(F.col("syms"))
        zipped = with_syms.select(
            "freq",
            F.slice("syms", 1, n - 1).alias("la"),
            F.slice("syms", 2, n - 1).alias("lb"),
        ).select("freq", F.explode(F.arrays_zip("la", "lb")).alias("pr"))
        pair_counts = (
            zipped.select(
                "freq",
                F.col("pr.la").alias("lhs"),
                F.col("pr.lb").alias("rhs"),
            )
            .groupBy("lhs", "rhs")
            .agg(F.sum("freq").alias("pair_freq"))
        )
        best = (
            pair_counts.orderBy(F.desc("pair_freq"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .withColumn("step", F.lit(step))
            .localCheckpoint(eager=True)  # one row; pins the winner so
            # later steps replay a constant, not this step's aggregation
        )
        merges.append(best)
        pat = F.concat(
            F.lit(" "), F.col("lhs"), F.lit("  "), F.col("rhs"), F.lit(" ")
        )
        repl = F.concat(F.lit(" "), F.col("lhs"), F.col("rhs"), F.lit(" "))
        cur = cur.crossJoin(
            F.broadcast(best.select("lhs", "rhs"))
        ).select("w", "freq", F.replace(F.col("s"), pat, repl).alias("s"))
    return rep, merges, cur


def corpus_bpe_encode(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """The tokenizer-APPLICATION step: encode every document with the
    ``n_merges`` BPE merges learned by ``corpus_bpe_merges`` and report
    the per-document token budget — the number an LLM data pipeline
    actually meters by.

    Scale shape: encoding never rewrites the corpus — the learned
    word → token-count map (|vocab| rows, localCheckpointed after the
    merge loop so the corpus pass replays a materialized table) joins
    the exploded word stream on the word key; per-doc sums are integer
    and map-side combinable.  Documents whose text holds no words drop
    out (nothing to encode).  ``compression`` (chars per BPE token) is
    one IEEE division of exact integers; its denominator is ≥ 1 by
    construction.

    Output: (doc_id, n_words, n_bpe_tokens, compression)."""
    _, word_tok = _bpe_artifacts(spark, sf_dir, n_merges)
    docs = read_table(spark, sf_dir, "documents", spread=True)
    doc_words = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.explode(F.split(F.lower("text"), " ")).alias("w"),
    ).filter(F.col("w") != "")
    return (
        doc_words.join(word_tok, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_tok").alias("n_bpe_tokens"),
            (F.max("n_chars") / F.sum("n_tok")).alias("compression"),
        )
    )


def corpus_temperature_sample(
    spark: SparkSession, sf_dir: str, resolution: int = BALANCE_RESOLUTION
) -> DataFrame:
    """Temperature-flattened multilingual mix: sample languages toward
    target shares ∝ n_l^α (α = 1/2) — the standard schedule between
    proportional sampling (α=1, head languages dominate) and
    ``corpus_language_balance``'s uniform target (α→0, tail languages
    over-repeated), the recipe the multilingual-pretraining literature
    converged on (exponentiated-share smoothing).

    At α = 1/2 the no-upsampling-feasible budget gives each language
    the closed-form acceptance rate √(n_min/n_l) — the smallest
    language keeps everything, a language 4× larger keeps half.  The
    rate is cross-engine deterministic with NO tolerance: IEEE 754
    REQUIRES sqrt to be correctly rounded (unlike exp/ln/pow), so
    ``⌊resolution·√(n_min/n_l)⌋`` lands on the identical integer
    threshold in Python, Spark and DuckDB.  Acceptance itself is the
    repo's hash-mod discipline: deterministic and join-consistent with
    every other doc_id sample.

    Scale shape: one |languages|-row aggregate (bounded collect), then
    a scan-side literal-CASE filter and a second tiny aggregate — the
    corpus is never shuffled.  Output: one row per language —
    (lang, n_docs, n_kept, accept_rate, flat_share, realized_share)."""
    import math

    docs = read_table(spark, sf_dir, "documents", spread=True)
    counts = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    n_min = min(counts.values())
    thr = {
        lang: int(resolution * math.sqrt(n_min / n)) for lang, n in counts.items()
    }
    thr_col = F.lit(0)
    for lang, t in sorted(thr.items()):
        thr_col = F.when(F.col("lang") == lang, F.lit(int(t))).otherwise(thr_col)
    bucket = F.pmod(
        portable_hash60(F.col("doc_id").cast("string")), F.lit(resolution)
    )
    kept = docs.filter(bucket < thr_col).groupBy("lang").agg(
        F.count("*").alias("n_kept")
    )
    # summed in sorted-language order: 5-term float sums agree across
    # engines to ~1 ulp regardless of order, far inside the 6-dp hash
    # rounding (the thresholds — the integers that decide rows — use
    # only correctly-rounded ops and carry NO such tolerance)
    sum_sqrt = sum(math.sqrt(n) for _, n in sorted(counts.items()))
    rows = []
    for lang, n in sorted(counts.items()):
        rows.append((lang, n, thr[lang]))
    base = spark.createDataFrame(rows, "lang string, n_docs long, thr long")
    total_kept = kept.agg(F.sum("n_kept").alias("total_kept"))
    return (
        base.join(kept, "lang", "left")
        .crossJoin(F.broadcast(total_kept))
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("thr") / F.lit(float(resolution))).alias("accept_rate"),
            (F.sqrt(F.col("n_docs")) / F.lit(sum_sqrt)).alias("flat_share"),
            (F.coalesce("n_kept", F.lit(0)) / F.col("total_kept")).alias(
                "realized_share"
            ),
        )
    )


REPEAT_GRAM_LEN = 32            # window length (chars)
REPEAT_GRAM_STRIDE = 8          # window stride


def corpus_repeated_ngrams(
    spark: SparkSession,
    sf_dir: str,
    gram_len: int = REPEAT_GRAM_LEN,
    stride: int = REPEAT_GRAM_STRIDE,
) -> DataFrame:
    """Cross-document repeated-substring exposure — the seed-gram form
    of exact-substring dedup (the suffix-array approach of the
    deduplicate-training-data literature, approximated the way a
    distributed pipeline runs it: fixed-length positional windows at a
    stride, repeated iff the same window text occurs in ≥2 DISTINCT
    documents).  Long verbatim overlaps necessarily cover many strided
    windows, so per-doc repeated-window fraction ranks memorization
    risk; within-doc repetition is ``text_repetition``'s job and is
    deliberately not counted here.

    Scale shape: the positional-window explode is |text|/stride rows
    per doc (the inverted-index grain); ONE hash-keyed shuffle builds
    the cross-doc document-frequency table; the flag joins back on the
    same key.  Windows carry 60-bit hashes, never text.  A doc shorter
    than ``gram_len`` yields one (short) window — the greatest(…, 1)
    convention of the shingle builders (Spark ``sequence`` errors on
    start > stop, and the single window still catches the short doc's
    exact cross-doc duplicates).

    Output: (doc_id, n_windows, n_repeated_windows, repeated_frac)."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    wins = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length(norm) - (gram_len - 1), F.lit(1)),
                    F.lit(stride),
                ),
                lambda p: portable_hash60(norm.substr(p, F.lit(gram_len))),
            )
        ).alias("h"),
    )
    wins = wins.persist()
    try:
        cross = (
            wins.select("doc_id", "h")
            .distinct()
            .groupBy("h")
            .agg(F.count("*").alias("n_docs"))
            .filter(F.col("n_docs") >= 2)
            .select("h")
        )
        flagged = wins.join(cross, "h", "left_semi")
        per_doc = wins.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
        rep = flagged.groupBy("doc_id").agg(
            F.count("*").alias("n_repeated_windows")
        )
        out = (
            per_doc.join(rep, "doc_id", "left")
            .select(
                "doc_id",
                "n_windows",
                F.coalesce("n_repeated_windows", F.lit(0)).alias(
                    "n_repeated_windows"
                ),
                (
                    F.coalesce("n_repeated_windows", F.lit(0))
                    / F.col("n_windows")
                ).alias("repeated_frac"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        wins.unpersist()


PSI_SMOOTH = 1                  # Laplace +1 per band: no empty-band ln(0)


def corpus_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between the frozen train/val/test splits —
    the Population Stability Index over document-length bands, the
    data-quality gate run before trusting a split (a hash-mod split
    SHOULD show near-zero drift; PSI ≥ 0.2 on a feature means the
    split leaked structure).  PSI(q‖p) = Σ_b (q_b − p_b)·ln(q_b/p_b)
    against the train split's distribution.

    Bands are ⌊log2(n_chars)⌋ buckets — data-independent boundaries, so
    the report needs no percentile negotiation between engines — and
    the band index is computed as bit_length − 1 via binary-string
    length (exact integer path in both engines; floor∘log2 on an exact
    power of two is the libm boundary the HLL rank already dodges, and
    here the value is a GROUPING KEY, where a one-ulp slip changes
    rows, not decimals); counts
    get Laplace +1 smoothing per band (no empty-band ln(0)), shares
    are single divisions, and the ≤ handful of ln terms sit far inside
    the 6-dp hash rounding.

    Scale shape: assignment and banding are scan-side projections; one
    (split, band) aggregate — tens of rows — then a tiny broadcast
    self-join against the train row.  Output: (split, n_docs, n_bands,
    psi)."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = F.pmod(portable_hash60(F.col("doc_id").cast("string")), F.lit(100))
    split = F.lit(None).cast("string")
    for name, lo, hi in SPLIT_BOUNDS:
        split = F.when((bucket >= lo) & (bucket < hi), F.lit(name)).otherwise(split)
    banded = docs.select(
        split.alias("split"),
        (
            F.length(
                F.conv(
                    F.greatest(F.col("n_chars"), F.lit(1)).cast("string"), 10, 2
                )
            )
            - 1
        ).cast("long").alias("band"),
    )
    # the band universe is shared across splits so each split's vector
    # has the same dimensionality (smoothing fills the gaps)
    bands = banded.select("band").distinct()
    splits = banded.select("split").distinct()
    grid = splits.crossJoin(F.broadcast(bands))
    counts = (
        banded.groupBy("split", "band")
        .agg(F.count("*").alias("n"))
        .join(grid, ["split", "band"], "right")
        .select(
            "split",
            "band",
            (F.coalesce("n", F.lit(0)) + F.lit(PSI_SMOOTH)).alias("n_sm"),
        )
    )
    tot = counts.groupBy("split").agg(
        F.sum("n_sm").alias("tot_sm"), F.count("*").alias("n_bands")
    )
    shares = counts.join(tot, "split").select(
        "split", "band", "n_bands", (F.col("n_sm") / F.col("tot_sm")).alias("share")
    )
    train = shares.filter(F.col("split") == "train").select(
        "band", F.col("share").alias("p")
    )
    psi_term = (F.col("share") - F.col("p")) * F.log(F.col("share") / F.col("p"))
    per_split = (
        shares.join(F.broadcast(train), "band")
        .groupBy("split")
        .agg(
            F.max("n_bands").alias("n_bands"),
            F.sum(psi_term).alias("psi"),
        )
    )
    n_docs = banded.groupBy("split").agg(F.count("*").alias("n_docs"))
    return per_split.join(n_docs, "split").select(
        "split", "n_docs", "n_bands", "psi"
    )


CURRICULUM_STAGES = 10


def corpus_curriculum_order(
    spark: SparkSession, sf_dir: str, n_stages: int = CURRICULUM_STAGES
) -> DataFrame:
    """Curriculum ordering: every document's GLOBAL training position
    under (quality_score desc, doc_id), plus its curriculum stage
    (``n_stages`` NTILE buckets) — the easy-to-hard schedule a
    curriculum-learning data loader consumes (highest-quality documents
    first; the stage column is what a stage-gated sampler reads).

    The global position is the two-level prefix primitive
    (``functions/ranking.py``) — the same no-partition-less-window
    discipline as events_gini/rfm/pareto, because the frame here is
    CORPUS grain, the largest in the repo.  Stages derive from the rank
    driver-side (``ntile_from_rank``), so the whole plan stays free of
    single-task sorts at any corpus size.

    Ordering determinism: quality_score is the text_quality expression —
    two integer-ratio divisions and one fixed-order combine, bit-equal
    across engines (text_quality is hash-green), with doc_id as the
    total-order tie-break.

    Output: (doc_id, quality_score, position, stage)."""
    from ..functions.ranking import ntile_from_rank, two_level_prefix
    from .text_analysis import text_quality

    scored = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    ranked, totals = two_level_prefix(
        scored,
        [F.desc("quality_score"), F.asc("doc_id")],
        rank_col="position",
    )
    return ranked.select(
        "doc_id",
        "quality_score",
        "position",
        ntile_from_rank(F.col("position"), totals["position"], n_stages).alias(
            "stage"
        ),
    )


SOURCE_CAP = 15  # max docs kept per source (domain-frequency cap)


def corpus_source_cap(
    spark: SparkSession, sf_dir: str, cap: int = SOURCE_CAP
) -> DataFrame:
    """SOURCE-FREQUENCY CAP: keep at most ``cap`` documents per source,
    chosen by quality — the web-corpus "domain cap" curation step that
    stops a single high-volume domain from dominating the training mix
    (the frequency-based complement of the share-based rebalancers
    ``corpus_language_balance`` / ``corpus_temperature_sample``).

    Semantics: within each source, documents rank by
    (quality_score desc, doc_id) — the same bit-deterministic
    cross-engine key corpus_curriculum_order uses — and survive iff
    their rank ≤ cap.

    Scale shape: one partitioned window keyed on source; the rank ≤ cap
    filter plans as WindowGroupLimit (per-partition top-k BEFORE the
    full sort materializes), so a hot domain costs a bounded heap, not
    a full-partition sort.  No global order anywhere.  Output: kept
    docs — (source, doc_id, quality_score, source_rank)."""
    from .text_analysis import text_quality

    scored = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    docs = read_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "source"
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        docs.join(scored, "doc_id")
        .withColumn("source_rank", F.row_number().over(w))
        .filter(F.col("source_rank") <= cap)
        .select("source", "doc_id", "quality_score", "source_rank")
    )


BUDGET_PCT = 25  # select the best ⌊25%⌋ of total corpus tokens


def corpus_token_budget_pack(
    spark: SparkSession, sf_dir: str, budget_pct: int = BUDGET_PCT
) -> DataFrame:
    """TOKEN-BUDGET selection: the highest-quality PREFIX of the corpus
    whose cumulative token count fits a budget — "train on the best B
    tokens", the selection step between quality scoring (text_quality)
    and sequence assembly (pack_sequences) that every
    compute-constrained training run performs.  The budget is
    data-derived (⌊budget_pct% of total corpus tokens⌋, integer floor)
    so the operator scales with SF instead of going vacuous.

    Semantics: documents rank by (quality_score desc, doc_id); a doc is
    selected iff its INCLUSIVE running token sum fits the budget — the
    deterministic prefix rule, not a knapsack (no skip-and-continue
    past the boundary doc: reproducibility beats squeezing the last few
    tokens).

    Plan: the global order + running sum is the two-level prefix
    primitive over the corpus-grain frame (the curriculum_order
    discipline — no partition-less window at the repo's largest grain);
    the budget scalar derives from the primitive's driver-side grand
    total, costing zero extra passes.

    Ordering determinism: quality_score is the text_quality expression
    (bit-equal across engines — fixed-order integer-ratio arithmetic),
    doc_id breaks ties; token counts are exact ints so the running sum
    and budget comparison are integer-exact.

    Output: (doc_id, quality_score, n_tokens, position, cum_tokens)
    for selected documents only."""
    from ..functions.ranking import two_level_prefix
    from .text_analysis import text_quality

    scored = text_quality(spark, sf_dir).select(
        "doc_id", "quality_score", "n_tokens"
    )
    ranked, totals = two_level_prefix(
        scored,
        [F.desc("quality_score"), F.asc("doc_id")],
        measures={"cum_tokens": F.col("n_tokens")},
        rank_col="position",
    )
    budget = (totals["cum_tokens"] * budget_pct) // 100
    return ranked.filter(F.col("cum_tokens") <= F.lit(budget)).select(
        "doc_id", "quality_score", "n_tokens", "position", "cum_tokens"
    )


SPAN_LEN = 3           # masked-span length in words (T5 mean span ~3)
SPAN_RATE_PCT = 15     # percent of words masked (T5's 15%)


def corpus_span_corruption(
    spark: SparkSession,
    sf_dir: str,
    span_len: int = SPAN_LEN,
    rate_pct: int = SPAN_RATE_PCT,
) -> DataFrame:
    """T5-style SPAN CORRUPTION: rewrite each document into the
    (input_text, target_text) pair a span-denoising pretraining
    objective consumes — contiguous word spans replaced by
    ``<extra_id_j>`` sentinels in the input, with the target holding
    the sentinels followed by the masked words.

    Deterministic span placement (no RNG): the document splits into
    ``n_spans = floor(n_words·rate/100 / span_len)`` equal SEGMENTS and
    each segment hosts exactly one span at a hash-derived offset
    (``portable_hash60(doc_id|j)`` mod the feasible range) — spans are
    non-overlapping BY CONSTRUCTION (one per segment, segment length ≥
    span length), reproducible across engines, and respect the global
    masking budget exactly like the iid-corruption expectation.

    Plan shape: everything is per-document array algebra — split,
    positional flags via ``transform`` over the word index, two
    filtered ``array_join``s — inside whole-stage codegen; no explode,
    no shuffle beyond the scan (the op is embarrassingly parallel, the
    right shape for a 100 TB corpus rewrite).

    Output: (doc_id, n_words, n_spans, input_text, target_text);
    documents too short for one span pass through unmasked with
    n_spans = 0."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    words = F.split(F.lower(F.col("text")), " ")
    n_words = F.size(words)
    n_spans = F.floor(
        (n_words * F.lit(rate_pct) / F.lit(100)) / F.lit(span_len)
    ).cast("int")
    # a segment must fit one whole span
    seg_len = F.when(n_spans > 0, (n_words / n_spans).cast("int")).otherwise(
        F.lit(0)
    )
    n_spans = F.when(seg_len >= span_len, n_spans).otherwise(F.lit(0))
    base = docs.select(
        "doc_id",
        words.alias("ws"),
        n_words.alias("n_words"),
        n_spans.alias("n_spans"),
        F.when(n_spans > 0, (n_words / n_spans).cast("int"))
        .otherwise(F.lit(0))
        .alias("seg_len"),
    )
    # span start for segment j (0-based word index):
    #   j*seg_len + hash(doc_id|j) % (seg_len - span_len + 1)
    # (greatest-guard: sequence(0, -1) raises in Spark — the repo's
    # documented convention; the n_spans > 0 gate below discards the
    # guarded value)
    starts = F.transform(
        F.sequence(F.lit(0), F.greatest(F.col("n_spans"), F.lit(1)) - 1),
        lambda j: j * F.col("seg_len")
        + F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"), j.cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.greatest(
                F.col("seg_len") - F.lit(span_len) + 1, F.lit(1)
            ).cast("long"),
        ).cast("int"),
    )
    spanned = base.select(
        "doc_id",
        "ws",
        "n_words",
        "n_spans",
        F.when(F.col("n_spans") > 0, starts)
        .otherwise(F.array().cast("array<int>"))
        .alias("starts"),
    )
    # per word index i (0-based): the span j containing i, else -1; a
    # word OPENS span j when i == starts[j]
    idx = F.sequence(F.lit(0), F.col("n_words") - 1)

    def span_of(i):
        return F.aggregate(
            F.col("starts"),
            F.lit(-1),
            lambda acc, s: F.when(
                (i >= s) & (i < s + F.lit(span_len)),
                F.array_position(F.col("starts"), s).cast("int") - 1,
            ).otherwise(acc),
        )

    pieces = spanned.select(
        "doc_id",
        "n_words",
        "n_spans",
        F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(F.col("ws"), i + 1).alias("w"),
                span_of(i).alias("sp"),
                F.array_contains(F.col("starts"), i).alias("opens"),
            ),
        ).alias("pcs"),
    )
    input_text = F.array_join(
        F.transform(
            F.filter(F.col("pcs"), lambda p: (p.sp == -1) | p.opens),
            lambda p: F.when(
                p.opens, F.concat(F.lit("<extra_id_"), p.sp.cast("string"), F.lit(">"))
            ).otherwise(p.w),
        ),
        " ",
    )
    target_text = F.array_join(
        F.transform(
            F.filter(F.col("pcs"), lambda p: p.sp != -1),
            lambda p: F.when(
                p.opens,
                F.concat(
                    F.lit("<extra_id_"), p.sp.cast("string"), F.lit("> "), p.w
                ),
            ).otherwise(p.w),
        ),
        " ",
    )
    return pieces.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_spans").cast("long").alias("n_spans"),
        input_text.alias("input_text"),
        target_text.alias("target_text"),
    )


QUALITY_SWEEP_STEPS = 30  # thresholds k/10, k = 0..30 (score range [0, 3])


def corpus_quality_sweep(
    spark: SparkSession, sf_dir: str, steps: int = QUALITY_SWEEP_STEPS
) -> DataFrame:
    """QUALITY-THRESHOLD YIELD CURVE: for every threshold t on the fixed
    grid k/10 (k = 0..steps), how many documents and tokens survive
    ``quality_score >= t`` and what share of the corpus that is — the
    table a curation run reads to PICK its filter threshold (the
    yield-vs-quality tradeoff), before ``corpus_prep`` applies one.

    One corpus pass: each doc buckets by floor(score*10) (clamped to the
    grid top; the score expression is the byte-identical single-division
    combination text_quality defines, so bucketing is bit-deterministic
    cross-engine); the <= steps+1-row bucket aggregate then joins a
    broadcast threshold spine on bucket >= k — a reverse cumulative sum
    expressed as a tiny range join, never a second corpus scan and never
    a partition-less window at corpus grain.  Shares divide by the k=0
    row's totals (one IEEE division per row of the 31-row report).

    Output: (threshold, docs_retained, tokens_retained, docs_share,
    token_share), one row per grid point, sorted by threshold."""
    from .text_analysis import text_quality

    q = text_quality(spark, sf_dir).select(
        F.least(
            F.floor(F.col("quality_score") * 10).cast("int"), F.lit(steps)
        ).alias("b"),
        F.col("n_tokens"),
    )
    # the clamped bucket key has at most steps+1 distinct values, so the
    # limit can never truncate — it exists to carry that bound INTO the
    # plan, where the BNLJ lint rule can prove the broadcast build side.
    # localCheckpoint pins the <=31-row aggregate so the two consumers
    # below (spine join + totals) share ONE corpus scan, not two.
    buckets = (
        q.groupBy("b")
        .agg(F.count("*").alias("docs"), F.sum("n_tokens").alias("toks"))
        .localCheckpoint(eager=True)
        .limit(steps + 1)
    )
    grid = spark.range(steps + 1).select(F.col("id").cast("int").alias("k"))
    # buckets is <= steps+1 rows: broadcast it and let the spine's
    # b >= k range condition express the reverse cumulative sum
    retained = (
        grid.join(F.broadcast(buckets), F.col("b") >= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.coalesce(F.sum("docs"), F.lit(0)).alias("docs_retained"),
            F.coalesce(F.sum("toks"), F.lit(0)).alias("tokens_retained"),
        )
    )
    totals = (
        buckets.agg(
            F.sum("docs").alias("td"), F.sum("toks").alias("tt")
        )
    )
    return (
        retained.join(F.broadcast(totals))
        .select(
            (F.col("k").cast("double") / F.lit(10.0)).alias("threshold"),
            F.col("docs_retained").cast("long").alias("docs_retained"),
            F.col("tokens_retained").cast("long").alias("tokens_retained"),
            F.round(F.col("docs_retained") / F.col("td"), 6).alias("docs_share"),
            F.round(F.col("tokens_retained") / F.col("tt"), 6).alias("token_share"),
        )
        .orderBy("threshold")
    )


def corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY report: per-language BPE-tokens-per-word and
    chars-per-BPE-token — the standard multilingual-tokenizer health
    metric (a language whose fertility is 2× English pays 2× the
    sequence length for the same text, so training mixes and context
    budgets are planned off exactly this table; cf. the fertility tables
    in the BLOOM/XGLM tokenizer analyses).

    Plan: one narrow projection over the documents scan computing the
    pinned ``text_analysis`` regex counts (WORD_RE / BPE_RE — the same
    leftmost-first token streams ``text_tokens`` and the BPE family
    pin), then a |languages|-row aggregate.  JVM-side regex in
    whole-stage codegen, one tiny shuffle, column-pruned to
    (lang, text).

    Determinism: all sums are exact integers; each ratio is one IEEE
    division of exact operands, 6-dp rounded.

    Output: (lang, n_docs, n_words, n_bpe_tokens, fertility,
    chars_per_bpe_token) — one row per language."""
    from .text_analysis import BPE_RE, WORD_RE

    docs = read_table(spark, sf_dir, "documents", spread=True)
    per_doc = docs.select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(WORD_RE), 0))
        .cast("long")
        .alias("n_words"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_RE), 0))
        .cast("long")
        .alias("n_bpe"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_bpe").alias("n_bpe_tokens"),
        F.round(F.sum("n_bpe") / F.sum("n_words"), 6).alias("fertility"),
        F.round(F.sum("n_chars") / F.sum("n_bpe"), 6).alias(
            "chars_per_bpe_token"
        ),
    )


# Gopher-rule thresholds (Rae et al., "Scaling Language Models: ...
# Gopher", 2021, Table A1 — adapted to the signals this corpus carries).
# Every rule comparison below is EXACT-INTEGER (cross-multiplied), so
# the pass flags carry zero float hazard; the reported ratios are 6-dp
# display values only.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3   # 3 <= sum_len/n_words <= 10
GOPHER_MAX_MEAN_WORD_LEN = 10
GOPHER_MAX_SYMBOL_RATIO_10 = 1   # n_symbols/n_words <= 1/10
GOPHER_MIN_STOPWORDS = 2
GOPHER_MIN_ALPHA_RATIO_5 = 4     # n_alpha_words/n_words >= 4/5


def corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GOPHER QUALITY-FILTER rule pack — the named, citable document
    gate most large web-corpus pipelines start from (Rae et al. 2021;
    reused by MassiveText descendants): word-count bounds, mean-word-
    length bounds, symbol-to-word ratio, minimum distinct stopwords,
    and the alphabetic-word ratio, each reported as an independent flag
    plus the conjunction — the per-rule attrition view a curation run
    tunes before committing to a corpus cut (``corpus_survival``'s
    gate-funnel sibling, at per-document grain with named rules).

    Plan: one narrow documents projection — every signal is a regex
    count / higher-order array fold (JVM-side, codegen); no joins, no
    shuffle at all.

    Determinism: every rule is evaluated as a CROSS-MULTIPLIED integer
    comparison (e.g. alpha ratio >= 4/5 as 5·n_alpha >= 4·n_words), so
    the flags are bit-exact by construction; the 6-dp ratio columns are
    display-only.

    Output: (doc_id, n_words, mean_word_len, symbol_ratio, n_stopwords,
    alpha_word_ratio, pass_word_count, pass_word_len, pass_symbol,
    pass_stopwords, pass_alpha, passes_all) with flags as 0/1."""
    from .text_analysis import LANG_STOPWORDS, WORD_RE

    docs = read_table(spark, sf_dir, "documents", spread=True)
    words = F.regexp_extract_all(F.lower("text"), F.lit(WORD_RE), 0)
    all_stop = tuple(w for ws in LANG_STOPWORDS.values() for w in ws)
    base = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w))
        .cast("long")
        .alias("sum_len"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(r"[^a-z0-9\s]"), 0)
        ).cast("long").alias("n_symbols"),
        F.size(
            F.array_distinct(F.filter(words, lambda w: w.isin(*all_stop)))
        ).cast("long").alias("n_stopwords"),
        F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
        .cast("long")
        .alias("n_alpha"),
    ).filter(F.col("n_words") > 0)
    nw = F.col("n_words")
    flags = base.select(
        "doc_id",
        "n_words",
        F.round(F.col("sum_len") / nw, 6).alias("mean_word_len"),
        F.round(F.col("n_symbols") / nw, 6).alias("symbol_ratio"),
        "n_stopwords",
        F.round(F.col("n_alpha") / nw, 6).alias("alpha_word_ratio"),
        ((nw >= GOPHER_MIN_WORDS) & (nw <= GOPHER_MAX_WORDS))
        .cast("int").alias("pass_word_count"),
        (
            (F.col("sum_len") >= GOPHER_MIN_MEAN_WORD_LEN * nw)
            & (F.col("sum_len") <= GOPHER_MAX_MEAN_WORD_LEN * nw)
        ).cast("int").alias("pass_word_len"),
        (F.col("n_symbols") * 10 <= GOPHER_MAX_SYMBOL_RATIO_10 * nw)
        .cast("int").alias("pass_symbol"),
        (F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS)
        .cast("int").alias("pass_stopwords"),
        (F.col("n_alpha") * 5 >= GOPHER_MIN_ALPHA_RATIO_5 * nw)
        .cast("int").alias("pass_alpha"),
    )
    return flags.withColumn(
        "passes_all",
        (
            F.col("pass_word_count")
            * F.col("pass_word_len")
            * F.col("pass_symbol")
            * F.col("pass_stopwords")
            * F.col("pass_alpha")
        ).cast("int"),
    )


def corpus_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-DRIFT report: Jensen-Shannon divergence (bits) between each
    source's unigram distribution and the whole-corpus distribution —
    the mixture-monitoring number a multi-source pipeline alarms on
    ("src14 suddenly reads 3× further from the mix than its siblings"),
    the distributional sibling of ``corpus_split_drift``'s PSI (which
    compares two SPLITS on banded scores; this compares every SOURCE on
    the full vocabulary).

    Plan: token counts at (source, token) grain (one shuffle), the
    per-source totals broadcast back, the global distribution joined at
    token grain, the corpus total on a one-row broadcast spine.  The
    q-only tail (corpus tokens a source never uses) is folded in CLOSED
    FORM via the coverage identity Σ_{t∉P} q·log₂(2q/q) = 1 − Σ_{t∈P} q,
    so the plan never materializes |sources|×|vocab| rows — the join is
    inner on the source's own support.

    Determinism: counts exact; p, q are exact-integer divisions; the
    log₂ term sums carry ulp noise far below the 6-dp rounding.

    Output: (source, n_tokens, coverage, jsd_bits) — one row per
    source; jsd_bits ∈ [0, 1]."""
    from .text_analysis import WORD_RE

    docs = read_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(WORD_RE), 0)
        ).alias("tok"),
    )
    st = toks.groupBy("source", "tok").agg(F.count("*").alias("c_st"))
    s_tot = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    g = toks.groupBy("tok").agg(F.count("*").alias("c_t"))
    n_tot = g.agg(F.sum("c_t").alias("n"))
    j = (
        st.join(F.broadcast(s_tot), "source")
        .join(g, "tok")
        .crossJoin(F.broadcast(n_tot))
    )
    p = F.col("c_st") / F.col("n_s")
    q = F.col("c_t") / F.col("n")
    m = p + q
    terms = j.select(
        "source",
        "n_s",
        (p * F.log2(F.lit(2) * p / m)).alias("tp"),
        (q * F.log2(F.lit(2) * q / m)).alias("tq"),
        q.alias("qcov"),
    )
    return terms.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.round(F.sum("qcov"), 6).alias("coverage"),
        F.round(
            F.lit(0.5) * F.sum("tp")
            + F.lit(0.5) * (F.sum("tq") + (F.lit(1.0) - F.sum("qcov"))),
            6,
        ).alias("jsd_bits"),
    )
