"""DuckDB oracle SQL for the training-data extension operators.

Same contract as ``oracles.py``: every query here mirrors its Spark operator
value-for-value.  The probabilistic operators (minhash/simhash/LSH) are
oracle-checkable because both engines share the portable 60-bit hash
(functions/hashing.py): DuckDB ``('0x'||substr(md5(s),1,15))::bigint`` ==
Spark ``cast(conv(substring(md5(s),1,15),16,10) as bigint)``.

Dialect notes beyond oracles.py's table:
- DuckDB ``regexp_replace`` needs the ``'g'`` flag (Spark replaces all).
- DuckDB ``^`` is exponent; bitwise xor is ``xor()``.
- ``sum(BIGINT)`` → HUGEINT; cast back to bigint.
- ``epoch(ts)`` keeps fractional seconds; ``floor(...)::bigint`` matches
  Spark's ``cast(ts as long)``.
"""

from __future__ import annotations

from .operators.dedup import (
    MINHASH_AB,
    MINHASH_P,
    N_BANDS,
    N_HASHES,
    NGRAM_MAX_BLOCK,
    ROWS_PER_BAND,
    SHINGLE_K,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
)
from .operators.analytics import EVENT_TYPES, SAMPLE_PCT, TOPK_PER_USER
from .operators.clustering import K_CLUSTERS
from .operators.events import SESSION_GAP_MINUTES
from .operators.text_analysis import BPE_RE, LANG_STOPWORDS

H60 = "('0x'||substr(md5({s}),1,15))::bigint"


def _h60(s: str) -> str:
    return H60.format(s=s)


_NORM = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"
_KM1 = SHINGLE_K - 1

_SHINGLES = (
    f"list_distinct(list_transform(generate_series(1, greatest(length(norm)-{_KM1}, 1)),"
    f" g -> substr(norm, g, {SHINGLE_K})))"
)

_BPE_SQL = BPE_RE.replace("'", "''")

TEXT_TOKENS = f"""
select doc_id,
       length(text) as n_chars,
       len(string_split(text, ' ')) as n_ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z0-9]+')) as n_word_tokens,
       len(regexp_extract_all(lower(text), '{_BPE_SQL}')) as n_bpe_tokens
from documents
"""

_ALL_STOP = ", ".join(f"'{w}'" for ws in LANG_STOPWORDS.values() for w in ws)

TEXT_QUALITY = f"""
with t as (
    select doc_id, length(text) as n_chars, string_split(lower(text), ' ') as toks
    from documents
)
select doc_id, n_chars,
       len(toks) as n_tokens,
       list_sum(list_transform(toks, t -> length(t))) / len(toks) as mean_token_len,
       len(list_filter(toks, t -> t in ({_ALL_STOP}))) / len(toks) as stopword_ratio,
       len(list_distinct(toks)) / len(toks) as distinct_ratio,
       (len(list_filter(toks, t -> t in ({_ALL_STOP}))) / len(toks)) * 2.0
         + (len(list_distinct(toks)) / len(toks)) as quality_score
from t
"""


def _langid_sql() -> str:
    score_exprs = ",\n       ".join(
        f"len(list_filter(toks, t -> t in ({', '.join(repr(w) for w in ws)}))) as score_{lang}"
        for lang, ws in LANG_STOPWORDS.items()
    )
    langs = list(LANG_STOPWORDS)
    best = f"greatest({', '.join('score_' + lang for lang in langs)})"
    whens = "\n            ".join(
        f"when score_{lang} = {best} then '{lang}'" for lang in langs
    )
    return f"""
with t as (
    select doc_id, lang, string_split(lower(text), ' ') as toks from documents
),
scored as (
    select doc_id, lang,
       {score_exprs}
    from t
)
select doc_id, lang, {', '.join('score_' + lang for lang in langs)},
       case when {best} <= 0 then 'und'
            {whens}
       end as lang_pred
from scored
"""


TEXT_LANGID = _langid_sql()

TEXT_FINGERPRINT = f"""
with t as (select doc_id, {_NORM} as norm from documents)
select doc_id,
       md5(norm) as fp_exact,
       list_min(list_transform(generate_series(1, greatest(length(norm)-{_KM1}, 1)),
                               g -> {_h60(f"substr(norm, g, {SHINGLE_K})")})) as fp_min_shingle
from t
"""

DEDUP_EXACT = f"""
with d as (select doc_id, md5({_NORM}) as fp from documents),
g as (select fp, min(doc_id) as canonical_doc_id from d group by fp)
select d.doc_id, d.fp, g.canonical_doc_id,
       d.doc_id != g.canonical_doc_id as is_duplicate
from d join g on d.fp = g.fp
"""

# Near-dup operators block and verify on *hashed* shingle sets (array of
# 60-bit hashes): half the bytes of the string sets, integer intersection,
# and identical Jaccard up to hash collisions in both engines.
_SHINGLE_CTES = f"""
with docs as (select doc_id, {_NORM} as norm from documents),
sh as materialized (
    select doc_id,
           list_distinct(list_transform({_SHINGLES}, s -> {_h60('s')})) as hs
    from docs
)
"""

DEDUP_NGRAM_JACCARD = (
    _SHINGLE_CTES
    + """,
blocked as (
    select doc_id, hs, list_min(hs) as block
    from sh
),
pairs as (
    select a.doc_id as doc_a, b.doc_id as doc_b,
           len(list_intersect(a.hs, b.hs))
             / len(list_distinct(a.hs || b.hs)) as jaccard
    from blocked a
    join blocked b on a.block = b.block and a.doc_id < b.doc_id
)
select * from pairs where jaccard >= 0.5
"""
)

# Capped variant: drop blocks wider than NGRAM_MAX_BLOCK before pairing —
# the scale-safe configuration (bounded W(W-1)/2 fan-out), proven correct
# here rather than left as an untested footnote.
DEDUP_NGRAM_JACCARD_CAPPED = (
    _SHINGLE_CTES
    + f""",
blocked as (
    select doc_id, hs, list_min(hs) as block
    from sh
),
kept as (
    select b.doc_id, b.hs, b.block
    from blocked b
    join (select block from blocked group by block
          having count(*) <= {NGRAM_MAX_BLOCK}) ok
      on b.block = ok.block
),
pairs as (
    select a.doc_id as doc_a, b.doc_id as doc_b,
           len(list_intersect(a.hs, b.hs))
             / len(list_distinct(a.hs || b.hs)) as jaccard
    from kept a
    join kept b on a.block = b.block and a.doc_id < b.doc_id
)
select * from pairs where jaccard >= 0.5
"""
)

# Same affine minhash family as operators/dedup.py: one base md5 hash per
# shingle, 16 integer derivations (A_i*v + B_i) mod P.
def _containment_sql() -> str:
    from .operators.dedup import CONTAIN_MAX_DF, CONTAIN_THRESHOLD

    return (
        _SHINGLE_CTES
        + f""",
post as (
    select doc_id, h
    from (select doc_id, unnest(hs) as h from sh)
),
wide as (select h from post group by h having count(*) > {CONTAIN_MAX_DF}),
kept as (select * from post where h not in (select h from wide)),
sizes as (select doc_id, count(*) as nsh from kept group by doc_id),
pairs as (
    select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_shared
    from kept a join kept b on a.h = b.h and a.doc_id < b.doc_id
    group by a.doc_id, b.doc_id
)
select p.doc_a, p.doc_b, cast(p.n_shared as bigint) as n_shared,
       p.n_shared / sa.nsh as contain_a_in_b,
       p.n_shared / sb.nsh as contain_b_in_a
from pairs p
join sizes sa on sa.doc_id = p.doc_a
join sizes sb on sb.doc_id = p.doc_b
where greatest(p.n_shared / sa.nsh, p.n_shared / sb.nsh) >= {CONTAIN_THRESHOLD}
"""
    )


DEDUP_CONTAINMENT = _containment_sql()

_AB_A = "[" + ", ".join(str(a) for a, _ in MINHASH_AB) + "]"
_AB_B = "[" + ", ".join(str(b) for _, b in MINHASH_AB) + "]"
_SIG = (
    f"list_transform(generate_series(0, {N_HASHES - 1}),"
    f" i -> list_min(list_transform(vs,"
    f" v -> ({_AB_A}[i+1] * v + {_AB_B}[i+1]) % {MINHASH_P})))"
)

DEDUP_MINHASH_LSH = (
    _SHINGLE_CTES
    + f""",
base as (select doc_id, hs, list_transform(hs, h -> h & 4294967295) as vs
         from sh),
-- materialized: DuckDB inlines multiply-referenced CTEs, recomputing the
-- md5 shingle hashing once per reference (~3x) otherwise
sigs as materialized (select doc_id, hs, {_SIG} as sig from base),
bands as (
    select doc_id, b.band,
           md5(list_aggregate(
                 list_transform(sig[b.band*{ROWS_PER_BAND}+1 : b.band*{ROWS_PER_BAND}+{ROWS_PER_BAND}],
                                x -> x::varchar),
                 'string_agg', ',')) as bh
    from sigs, (select unnest(generate_series(0, {N_BANDS - 1})) as band) b
),
cand as (
    select distinct a.doc_id as doc_a, b.doc_id as doc_b
    from bands a join bands b on a.band = b.band and a.bh = b.bh and a.doc_id < b.doc_id
),
enriched as (
    select c.doc_a, c.doc_b,
           len(list_filter(generate_series(1, {N_HASHES}), i -> sa.sig[i] = sb.sig[i]))
             / {N_HASHES} as est_jaccard,
           len(list_intersect(sa.hs, sb.hs))
             / len(list_distinct(sa.hs || sb.hs)) as jaccard
    from cand c
    join sigs sa on c.doc_a = sa.doc_id
    join sigs sb on c.doc_b = sb.doc_id
)
select * from enriched where jaccard >= 0.5
"""
)

# Brute-force all-pairs — deliberately INDEPENDENT of the Spark operator's
# pigeonhole chunk blocking, so a blocking-recall bug shows up as a
# row-count/hash mismatch instead of being mirrored into the oracle.
DEDUP_SIMHASH = f"""
with docs as (
    select doc_id, string_split({_NORM}, ' ') as toks from documents
),
fps as (
    select doc_id,
           cast(list_sum(list_transform(generate_series(0, {SIMHASH_BITS - 1}), p ->
               case when list_sum(list_transform(toks,
                        t -> (({_h60('t')} >> p) & 1) * 2 - 1)) > 0
                    then (1::bigint << p) else 0::bigint end)) as bigint) as simhash
    from docs
)
select a.doc_id as doc_a, b.doc_id as doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) as bigint) as hamming
from fps a join fps b on a.doc_id < b.doc_id
where bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""

_EMB = "list_transform(embedding, x -> cast(x as double))"

def _ann_sql(k: int, probe_mod: int, max_probes: int | None = None) -> str:
    # max_probes mirrors the operator's probe-panel cap (the max_probes
    # lowest eligible vec_ids); None = the uncapped historical form
    cap = f" order by vec_id limit {max_probes}" if max_probes else ""
    return f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
probes as (select vec_id as query_id, e as qe from emb where vec_id % {probe_mod} = 0{cap}),
scored as (
    select p.query_id, emb.vec_id as neighbor_id,
           list_sum(list_transform(generate_series(1, len(emb.e)), i -> p.qe[i] * emb.e[i]))
             / (sqrt(list_sum(list_transform(p.qe, x -> x*x)))
                * sqrt(list_sum(list_transform(emb.e, x -> x*x)))) as cos
    from emb cross join probes p
    where emb.vec_id != p.query_id
),
ranked as (
    select query_id, neighbor_id, cos,
           row_number() over (partition by query_id order by cos desc, neighbor_id) as rank
    from scored
)
select query_id, neighbor_id, rank, round(cos, 6) as cos
from ranked where rank <= {k}
"""


ANN_TOPK_BRUTEFORCE = _ann_sql(5, 100)

#: Cap-BINDING parameterization (probe_mod=2, cap=16): pins the capped
#: panel's lowest-vec_id selection semantics with a hash oracle — at the
#: default registration the ANN_MAX_PROBES cap never binds at test SFs.
ANN_TOPK_BRUTEFORCE_CAPPED = _ann_sql(5, 2, 16)

_SIGN_SIG = (
    "list_aggregate(list_transform({e}[1:8],"
    " x -> case when x > 0 then '1' else '0' end), 'string_agg', '')"
)

ANN_TOPK_LSH = f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
sigs as (select vec_id, e, {_SIGN_SIG.format(e='e')} as sig from emb),
probes as (select vec_id as query_id, e as qe, sig from sigs where vec_id % 100 = 0),
scored as (
    select p.query_id, s.vec_id as neighbor_id,
           list_sum(list_transform(generate_series(1, len(s.e)), i -> p.qe[i] * s.e[i]))
             / (sqrt(list_sum(list_transform(p.qe, x -> x*x)))
                * sqrt(list_sum(list_transform(s.e, x -> x*x)))) as cos
    from sigs s join probes p on s.sig = p.sig
    where s.vec_id != p.query_id
),
ranked as (
    select query_id, neighbor_id, cos,
           row_number() over (partition by query_id order by cos desc, neighbor_id) as rank
    from scored
)
select query_id, neighbor_id, rank, round(cos, 6) as cos
from ranked where rank <= 5
"""

def _cos(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"
        f" / (sqrt(list_sum(list_transform({a}, x -> x*x)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x*x))))"
    )


def _ann_topk_ivf_sql(nprobe: int = 1) -> str:
    """IVF oracle; ``nprobe`` mirrors the operator's probe-side fan-out
    (corpus-side assignment is always the single nearest cell)."""
    return f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
centroids as materialized (
    select vec_id as cent_id, e as c_emb from emb order by vec_id limit 16
),
corpus_cells as (
    select neighbor_id, n_emb, cent_id as cell from (
        select emb.vec_id as neighbor_id, emb.e as n_emb, c.cent_id,
               row_number() over (
                   partition by emb.vec_id
                   order by {_cos('emb.e', 'c.c_emb')} desc, c.cent_id
               ) as rn
        from emb cross join centroids c
    ) where rn = 1
),
probes as (select vec_id as query_id, e as q_emb from emb where vec_id % 100 = 0),
probe_cells as (
    select query_id, q_emb, cent_id as cell from (
        select p.query_id, p.q_emb, c.cent_id,
               row_number() over (
                   partition by p.query_id
                   order by {_cos('p.q_emb', 'c.c_emb')} desc, c.cent_id
               ) as rn
        from probes p cross join centroids c
    ) where rn <= {nprobe}
),
scored as (
    select p.query_id, c.neighbor_id, {_cos('p.q_emb', 'c.n_emb')} as cos
    from corpus_cells c join probe_cells p on c.cell = p.cell
    where c.neighbor_id != p.query_id
),
ranked as (
    select query_id, neighbor_id, cos,
           row_number() over (partition by query_id order by cos desc, neighbor_id) as rank
    from scored
)
select query_id, neighbor_id, rank, round(cos, 6) as cos
from ranked where rank <= 5
"""


ANN_TOPK_IVF = _ann_topk_ivf_sql(1)


# Mirror of dedup_semantic_ivf (registered wrapper threshold 0.35, the
# isotropic-synthetic-embeddings operating point also used by
# dedup_embedding_corpus): identical deterministic cell assignment as
# the IVF oracle, then in-cell pairs with exact cosine verify.
DEDUP_SEMANTIC_IVF = f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
centroids as materialized (
    select vec_id as cent_id, e as c_emb from emb order by vec_id limit 16
),
cells as (
    select vec_id, e, cent_id as cell from (
        select emb.vec_id, emb.e, c.cent_id,
               row_number() over (
                   partition by emb.vec_id
                   order by {_cos('emb.e', 'c.c_emb')} desc, c.cent_id
               ) as rn
        from emb cross join centroids c
    ) where rn = 1
)
select a.cell as cell, a.vec_id as vec_a, b.vec_id as vec_b,
       round({_cos('a.e', 'b.e')}, 6) as cos
from cells a join cells b on a.cell = b.cell and a.vec_id < b.vec_id
where {_cos('a.e', 'b.e')} >= 0.35
"""
ANN_TOPK_IVF_NPROBE = _ann_topk_ivf_sql(2)

_TOP1 = _ann_sql(1, 10)

DEDUP_EMBEDDING = f"""
with top1 as ({_TOP1})
select query_id, neighbor_id, cos, cos >= 0.95 as is_near_dup
from top1
"""

# Corpus-wide embedding near-dup (similarity.py:dedup_embedding_corpus):
# mirrors the sign-bit bucketing (like ANN_TOPK_LSH — the bucketing is the
# operator's contract), exact cosine verified inside buckets.
DEDUP_EMBEDDING_CORPUS = f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
sigs as (select vec_id, e, {_SIGN_SIG.format(e='e')} as sig from emb),
pairs as (
    select a.vec_id as vec_a, b.vec_id as vec_b,
           list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i]))
             / (sqrt(list_sum(list_transform(a.e, x -> x*x)))
                * sqrt(list_sum(list_transform(b.e, x -> x*x)))) as cos
    from sigs a join sigs b on a.sig = b.sig and a.vec_id < b.vec_id
)
select vec_a, vec_b, round(cos, 6) as cos
from pairs where cos >= 0.35
"""

# Iteration-0 k-means assignment counts (clustering.py:kmeans_init_counts):
# init centroids are the k lowest vec_ids' raw vectors, distance is
# elementwise (x-c)*(x-c) summed, argmin ties break to the lower cluster
# id — all of which survives engine float rounding because the emitted
# rows are integer counts and the centroids are data, not means.
KMEANS_INIT_COUNTS = f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
seeds as (
    select row_number() over (order by vec_id) - 1 as cluster, e as c
    from emb order by vec_id limit {K_CLUSTERS}
),
scored as (
    select emb.vec_id, seeds.cluster,
           list_sum(list_transform(generate_series(1, len(emb.e)),
                    i -> (emb.e[i] - seeds.c[i]) * (emb.e[i] - seeds.c[i]))) as d
    from emb cross join seeds
),
ranked as (
    select vec_id, cluster,
           row_number() over (partition by vec_id order by d, cluster) as rn
    from scored
)
select cluster, count(*) as n_vectors
from ranked where rn = 1
group by cluster
"""

EVENTS_SUMMARY = """
select event_type,
       count(*) as n_events,
       count(distinct user_id) as n_users,
       min(ts) as first_ts,
       max(ts) as max_ts,
       cast(sum(json_extract_string(props, '$.k')::bigint) as bigint) as sum_k,
       cast(sum(json_extract_string(props, '$.k')::bigint) as bigint)
         / count(json_extract_string(props, '$.k')) as avg_k
from events
group by event_type
"""

EVENTS_SESSIONIZE = f"""
with e as (select event_id, ts, user_id from events),
g as (
    select *,
           case when floor(epoch(ts))::bigint
                     - lag(floor(epoch(ts))::bigint)
                       over (partition by user_id order by ts, event_id)
                     > {SESSION_GAP_MINUTES * 60}
                then 1 else 0 end as new_sess
    from e
),
s as (
    select *,
           sum(new_sess) over (partition by user_id order by ts, event_id
                               rows unbounded preceding) as session_no
    from g
)
select user_id, cast(session_no as bigint) as session_no,
       min(ts) as session_start, max(ts) as session_end,
       count(*) as n_events
from s
group by user_id, session_no
"""

IDEMPOTENT_APPEND = """
select * from events where event_id % 2 = 0 or event_id % 3 = 0
"""

# Streaming windowed rollup: append mode emits a window once the watermark
# (max event time - 1 day) passes its end — for a drained availableNow run
# that is exactly this predicate.  time_bucket aligns to the epoch like
# Spark's window().
EVENTS_STREAM_WINDOWED = """
with wm as (select max(ts) - interval 1 day as w from events)
select time_bucket(interval 1 day, ts) as window_start,
       time_bucket(interval 1 day, ts) + interval 1 day as window_end,
       event_type,
       count(*) as n_events
from events, wm
group by 1, 2, 3, wm.w
having window_end <= wm.w
"""

# Stateful sessionization drained via availableNow equals the batch
# window-function sessionization (open tails flushed on the final batch).
EVENTS_STREAM_SESSIONIZE = f"""
with e as (select event_id, ts, user_id from events),
g as (
    select *,
           case when floor(epoch(ts))::bigint
                     - lag(floor(epoch(ts))::bigint)
                       over (partition by user_id order by ts, event_id)
                     > {SESSION_GAP_MINUTES * 60}
                then 1 else 0 end as new_sess
    from e
),
s as (
    select *,
           sum(new_sess) over (partition by user_id order by ts, event_id
                               rows unbounded preceding) as session_no
    from g
)
select user_id,
       min(ts) as session_start, max(ts) as session_end,
       count(*) as n_events
from s
group by user_id, session_no
"""

EVENTS_STREAM_DEDUP = """
select * from events
"""

# Stream-stream interval join drained via availableNow emits every matching
# (purchase, click-in-preceding-hour) pair exactly once — the batch
# self-join below.
EVENTS_STREAM_JOIN = """
select p.event_id as purchase_id, c.event_id as click_id, p.user_id,
       p.ts as purchase_ts, c.ts as click_ts,
       epoch_us(p.ts) - epoch_us(c.ts) as lag_us
from events p join events c
  on p.user_id = c.user_id
where p.event_type = 'purchase' and c.event_type = 'click'
  and c.ts >= p.ts - interval 1 hour and c.ts <= p.ts
"""

# Frame sampling: documents are pure ASCII in this testdata (asserted in
# tests), so char offsets equal byte offsets and DuckDB's VARCHAR md5
# matches Spark's md5 over the frame bytes.
MULTIMODAL_FRAMES = """
with t as (select doc_id, text, length(text) as n from documents),
f as (
    select t.doc_id, u.i as frame_idx,
           u.i * 256 as frame_off,
           least(256, t.n - u.i * 256) as frame_bytes,
           md5(substr(t.text, u.i * 256 + 1, 256)) as frame_md5
    from t cross join unnest(generate_series(0, cast(ceil(t.n / 256.0) as bigint) - 1)) as u(i)
)
select * from f where frame_idx % 4 = 0
"""

MULTIMODAL_BYTES = """
select doc_id,
       octet_length(encode(text)) as n_bytes,
       md5(text) as content_md5,
       cast(case when length(text) = 0 then 0 else ascii(substr(text, 1, 1)) end as double) as first_byte
from documents
"""

# As-of join oracle: DuckDB's NATIVE ASOF LEFT JOIN — an independent
# implementation of the point-in-time semantics the Spark operator
# composes from union + running window (operators/asof.py).
EVENTS_ASOF_PURCHASE_CLICK = """
with l as (select user_id, ts, event_id from events where event_type = 'purchase'),
r as (select user_id, ts as click_ts, event_id as click_id from events where event_type = 'click')
select l.user_id, l.ts, l.event_id,
       r.click_id as asof_click_id,
       r.click_ts as asof_click_ts,
       epoch_us(l.ts) - epoch_us(r.click_ts) as gap_us
from l asof left join r on l.user_id = r.user_id and l.ts >= r.click_ts
"""

# Spark percentile() and DuckDB quantile_cont() share the linear-
# interpolation definition — exact, no sketch, bit-identical.
EVENTS_PERCENTILES = """
select event_type,
       count(*) as n_events,
       quantile_cont(value, 0.5) as p50,
       quantile_cont(value, 0.9) as p90,
       quantile_cont(value, 0.99) as p99
from events
group by event_type
"""

# DuckDB grouping(a, b) emits the same bitmask as Spark grouping_id().
EVENTS_ROLLUP = """
select event_type, cast(ts as date) as day,
       cast(grouping(event_type, cast(ts as date)) as bigint) as gid,
       count(*) as n_events,
       count(distinct user_id) as n_users,
       min(value) as min_value,
       max(value) as max_value
from events
group by rollup(event_type, cast(ts as date))
"""

EVENTS_PROPS_VARIANT = """
select event_type,
       count(json_extract_string(props, '$.k')) as n_with_k,
       cast(sum(json_extract_string(props, '$.k')::bigint) as bigint) as sum_k,
       min(json_extract_string(props, '$.k')::bigint) as min_k,
       max(json_extract_string(props, '$.k')::bigint) as max_k
from events
group by event_type
"""

EVENTS_CUBE = """
select event_type, cast(ts as date) as day,
       cast(grouping(event_type, cast(ts as date)) as bigint) as gid,
       count(*) as n_events,
       count(distinct user_id) as n_users,
       min(value) as min_value,
       max(value) as max_value
from events
group by cube(event_type, cast(ts as date))
"""

# ntile ties split by sort order; (value, event_id) is a total order, so
# both engines assign identical buckets.
EVENTS_VALUE_QUARTILES = """
with t as (
    select event_type, value,
           ntile(4) over (partition by event_type order by value, event_id) as quartile
    from events
)
select event_type, cast(quartile as bigint) as quartile,
       count(*) as n_events, min(value) as lo, max(value) as hi
from t
group by event_type, quartile
"""

# Range join oracle: the NAIVE theta join — the binned equi-join rewrite
# (operators/range_join.py) must reproduce it exactly.
EVENTS_VALUE_BANDS = """
with bands(band, lo, hi) as (
    values ('nano', 0.0, 10.0), ('small', 10.0, 50.0), ('medium', 50.0, 150.0),
           ('large', 150.0, 400.0), ('huge', 400.0, 2000.0)
)
select e.event_id, e.event_type, e.value, b.band, b.lo, b.hi
from events e
join bands b on e.value >= b.lo and e.value < b.hi
"""


EVENTS_TOPK_PER_USER = f"""
select user_id, event_id, value, rnk from (
    select user_id, event_id, value,
           row_number() over (partition by user_id
                              order by value desc, event_id asc) as rnk
    from events
) t
where rnk <= {TOPK_PER_USER}
"""

_PIVOT_COUNTS = ",\n       ".join(
    f"count(*) filter (where event_type = '{t}') as n_{t}" for t in EVENT_TYPES
)

EVENTS_PIVOT = f"""
select ts::date as day,
       {_PIVOT_COUNTS}
from events
group by 1
"""

# Inverse of EVENTS_PIVOT: every (day × type) combination with its count,
# zero-filled — the long form the Spark unpivot emits.
EVENTS_UNPIVOT = f"""
with days as (select distinct ts::date as day from events),
types(event_type) as (values {", ".join(f"('{t}')" for t in EVENT_TYPES)}),
counts as (
    select ts::date as day, event_type, count(*) as n
    from events group by 1, 2
)
select d.day, t.event_type, coalesce(c.n, 0) as n_events
from days d
cross join types t
left join counts c on c.day = d.day and c.event_type = t.event_type
"""

EVENTS_SAMPLE = f"""
select event_id, user_id, event_type, ts, value
from events
where {_h60('event_id::varchar')} % 100 < {SAMPLE_PCT}
"""

# dense epoch-week (whole weeks since Monday 1970-01-05): mirrors the
# Spark operator's monotone-across-year-boundaries week index
EVENTS_RETENTION = """
with act as (
    select distinct user_id,
           cast(floor((ts::date - DATE '1970-01-05') / 7.0) as bigint) as week
    from events
),
first as (
    select user_id, min(week) as cohort_week from act group by user_id
)
select f.cohort_week, cast(a.week - f.cohort_week as bigint) as week_offset,
       count(distinct a.user_id) as n_users
from act a join first f on a.user_id = f.user_id
group by f.cohort_week, a.week - f.cohort_week
"""

EVENTS_FUNNEL = """
with per_user as (
    select user_id,
           min(ts) filter (event_type = 'view') as t_view,
           min(ts) filter (event_type = 'click') as t_click,
           min(ts) filter (event_type = 'purchase') as t_purchase
    from events group by user_id
),
agg as (
    select count(*) filter (t_view is not null) as n_view,
           count(*) filter (t_view is not null and t_click > t_view) as n_click,
           count(*) filter (t_view is not null and t_click > t_view
                            and t_purchase > t_click) as n_purchase
    from per_user
)
select 1 as stage, 'view' as step, n_view as n_users from agg
union all select 2, 'click', n_click from agg
union all select 3, 'purchase', n_purchase from agg
"""

EVENTS_GAP_FILL = """
with d as (select event_type, cast(ts as date) as day from events),
counts as (select event_type, day, count(*) as n from d group by event_type, day),
bounds as (select event_type, min(day) as lo, max(day) as hi from d group by event_type),
spine as (
    select event_type, unnest(generate_series(lo, hi, interval 1 day))::date as day
    from bounds
)
select s.event_type, s.day, cast(coalesce(c.n, 0) as bigint) as n_events
from spine s left join counts c on s.event_type = c.event_type and s.day = c.day
"""

EVENTS_DEDUP_LATEST = """
with ranked as (
    select user_id, event_id, event_type, ts, value,
           row_number() over (partition by user_id order by ts desc, event_id desc) as rn
    from events
)
select user_id, event_id, event_type, ts, value
from ranked where rn = 1
"""


def _strata_case() -> str:
    from .operators.analytics import STRATA_PCT

    whens = " ".join(
        f"when event_type = '{t}' then {p}" for t, p in sorted(STRATA_PCT.items())
    )
    return f"case {whens} else 0 end"


EVENTS_SAMPLE_STRATIFIED = f"""
select event_id, user_id, event_type, ts, value
from events
where {_h60('event_id::varchar')} % 100 < ({_strata_case()})
"""

# Transitive closure via recursive CTE = the declarative twin of the
# engine's iterative min-label propagation; min(reachable id) is exactly
# the converged component label.
DEDUP_CLUSTERS = f"""
with recursive pairs as (
    select doc_a, doc_b from ({DEDUP_MINHASH_LSH}) q
),
edges as (
    select doc_a as a, doc_b as b from pairs
    union
    select doc_b as a, doc_a as b from pairs
),
reach(src, dst) as (
    select a, a from edges
    union
    select r.src, e.b from reach r join edges e on r.dst = e.a
),
comp as (
    select src as doc_id, min(dst) as cluster_id from reach group by src
)
select c.doc_id, c.cluster_id, s.cluster_size
from comp c
join (select cluster_id, count(*) as cluster_size from comp group by cluster_id) s
  using (cluster_id)
"""


EVENTS_SET_OPS = """
with viewers as (select distinct user_id from events where event_type = 'view'),
     buyers  as (select distinct user_id from events where event_type = 'purchase')
select user_id, 'viewer_only' as cohort
  from (select user_id from viewers except select user_id from buyers)
union all
select user_id, 'buyer_only' as cohort
  from (select user_id from buyers except select user_id from viewers)
union all
select user_id, 'both' as cohort
  from (select user_id from viewers intersect select user_id from buyers)
"""

EVENTS_ACTIVE_USERS = """
with per_user as (
    select user_id, count(*) as n_events from events group by user_id
)
select user_id, n_events
from per_user
where n_events > (select sum(n_events)::bigint / count(*) from per_user)
"""


def _corpus_prep_sql() -> str:
    from .operators.corpus import (
        CORPUS_LANG,
        CORPUS_MIN_QUALITY,
        CORPUS_MIN_TOKENS,
        CORPUS_SAMPLE_PCT,
    )

    langs = list(LANG_STOPWORDS)
    score_exprs = ",\n       ".join(
        f"len(list_filter(toks, t -> t in ({', '.join(repr(w) for w in ws)}))) as score_{lang}"
        for lang, ws in LANG_STOPWORDS.items()
    )
    best = f"greatest({', '.join('score_' + lg for lg in langs)})"
    whens = "\n            ".join(
        f"when score_{lg} = {best} then '{lg}'" for lg in langs
    )
    return f"""
with t as (
    select doc_id, string_split(lower(text), ' ') as toks,
           md5({_NORM}) as fp
    from documents
),
scored as (
    select doc_id, fp, len(toks) as n_tokens,
       (len(list_filter(toks, t -> t in ({_ALL_STOP}))) / len(toks)) * 2.0
         + (len(list_distinct(toks)) / len(toks)) as quality_score,
       {score_exprs}
    from t
),
labeled as (
    select doc_id, fp, n_tokens, quality_score,
       case when {best} <= 0 then 'und'
            {whens}
       end as lang_pred
    from scored
),
gated as (
    select * from labeled
    where lang_pred = '{CORPUS_LANG}'
      and n_tokens >= {CORPUS_MIN_TOKENS}
      and quality_score >= {CORPUS_MIN_QUALITY}
),
canon as (
    select fp, min(doc_id) as canonical_doc_id from gated group by fp
)
select g.doc_id, g.lang_pred, g.n_tokens, g.quality_score, g.fp
from gated g join canon c using (fp)
where g.doc_id = c.canonical_doc_id
  and {_h60('g.doc_id::varchar')} % 100 < {CORPUS_SAMPLE_PCT}
"""


CORPUS_PREP = _corpus_prep_sql()


# --- LLM-prep operators (operators/llm_prep.py) ---

def _pii_redact_sql() -> str:
    from .operators.llm_prep import PII_STAGES

    ctes = ["s0 as (select doc_id, text as t from documents)"]
    carried: list[str] = []
    for i, (name, pat, token) in enumerate(PII_STAGES, start=1):
        prev = ", ".join(carried) + (", " if carried else "")
        ctes.append(
            f"s{i} as (select doc_id, {prev}"
            f"len(regexp_extract_all(t, '{pat}')) as n_{name}, "
            f"regexp_replace(t, '{pat}', '{token}', 'g') as t from s{i - 1})"
        )
        carried.append(f"n_{name}")
    last = len(PII_STAGES)
    cols = ", ".join(carried)
    return (
        "with " + ",\n".join(ctes) + f"""
select doc_id, {cols}, md5(t) as redacted_md5,
       length(t) as n_chars_redacted
from s{last}
"""
    )


TEXT_PII_REDACT = _pii_redact_sql()


def _contamination_sql() -> str:
    from .operators.llm_prep import BENCHMARK_MOD, CONTAMINATION_THRESHOLD

    h = _h60(f"substr(norm, g, {SHINGLE_K})")
    return f"""
with docs as (select doc_id, {_NORM} as norm from documents),
sh as materialized (
    select doc_id, doc_id % {BENCHMARK_MOD} = 0 as is_benchmark,
           list_distinct(list_transform(
               generate_series(1, greatest(length(norm)-{_KM1}, 1)),
               g -> {h})) as hs
    from docs
),
bench as (select distinct unnest(hs) as h from sh where is_benchmark),
expl as (select doc_id, unnest(hs) as h from sh),
matched as (
    select e.doc_id, count(*) as n_matched
    from expl e join bench b using (h) group by e.doc_id
)
select s.doc_id, s.is_benchmark, len(s.hs) as n_shingles,
       coalesce(m.n_matched, 0) as n_matched,
       coalesce(m.n_matched, 0) / len(s.hs) as contamination,
       coalesce(m.n_matched, 0) / len(s.hs) >= {CONTAMINATION_THRESHOLD}
           as is_contaminated
from sh s left join matched m using (doc_id)
"""


CORPUS_CONTAMINATION = _contamination_sql()


def _pack_sequences_sql() -> str:
    from .operators.llm_prep import PACK_CAPACITY

    return f"""
with d as (
    select doc_id, len(string_split(text, ' '))::bigint as n_tokens
    from documents
),
c as (
    select doc_id, n_tokens,
           cast(coalesce(sum(n_tokens) over (
               order by doc_id
               rows between unbounded preceding and 1 preceding), 0) as bigint)
               as cum_excl
    from d
)
select doc_id, n_tokens,
       cast(floor(cum_excl / {PACK_CAPACITY}.0) as bigint) as pack_id,
       cum_excl % {PACK_CAPACITY} as pack_offset
from c
"""


CORPUS_PACK_SEQUENCES = _pack_sequences_sql()


def _tfidf_sql() -> str:
    from .operators.text_analysis import TFIDF_TOP_K

    return f"""
with d as (
    select doc_id, string_split(lower(text), ' ') as toks from documents
),
n as (select count(*) as n_docs from d),
expl as (
    select doc_id, len(toks) as n_tokens, unnest(toks) as term from d
),
pdt as (
    select doc_id, n_tokens, term, count(*) as n
    from expl group by doc_id, n_tokens, term
),
dftbl as (select term, count(*) as df from pdt group by term),
scored as (
    select p.doc_id, p.term,
           p.n / p.n_tokens as tf,
           ln((n.n_docs + 1.0) / (f.df + 1.0)) + 1.0 as idf,
           (p.n / p.n_tokens) * (ln((n.n_docs + 1.0) / (f.df + 1.0)) + 1.0)
               as tfidf
    from pdt p join dftbl f using (term) cross join n
),
ranked as (
    select *, row_number() over (
        partition by doc_id order by tfidf desc, term asc) as rnk
    from scored
)
select doc_id, term, tf, idf, tfidf, rnk
from ranked where rnk <= {TFIDF_TOP_K}
"""


TEXT_TFIDF_TOP_TERMS = _tfidf_sql()


def _doc_similarity_sql() -> str:
    from .operators.text_analysis import DOCSIM_MAX_DF, DOCSIM_TOP_K

    return f"""
with d as (
    select doc_id, string_split(lower(text), ' ') as toks from documents
),
counts as (
    select doc_id, term, count(*) as n
    from (select doc_id, unnest(toks) as term from d)
    group by doc_id, term
),
kept as (
    select c.* from counts c
    join (
        select term from counts group by term
        having count(*) <= greatest({DOCSIM_MAX_DF},
                                    (select count(distinct doc_id) from counts) // 10)
    ) f using (term)
),
norms as (
    select doc_id, sum(n * n) as nsq from kept group by doc_id
),
pairs as (
    select a.doc_id, b.doc_id as neighbor_id,
           count(*) as shared_terms,
           sum(a.n * b.n) as dot
    from kept a join kept b on a.term = b.term and a.doc_id != b.doc_id
    group by a.doc_id, b.doc_id
),
scored as (
    select p.doc_id, p.neighbor_id,
           cast(p.shared_terms as bigint) as shared_terms,
           cast(p.dot as bigint) as dot,
           p.dot / (sqrt(na.nsq) * sqrt(nb.nsq)) as cos
    from pairs p
    join norms na on na.doc_id = p.doc_id
    join norms nb on nb.doc_id = p.neighbor_id
),
ranked as (
    select *, row_number() over (
        partition by doc_id order by cos desc, neighbor_id asc) as rnk
    from scored
)
select doc_id, neighbor_id, shared_terms, dot,
       round(cos, 6) as cos, cast(rnk as bigint) as rnk
from ranked where rnk <= {DOCSIM_TOP_K}
"""


TEXT_DOC_SIMILARITY = _doc_similarity_sql()


def _cms_sql() -> str:
    from .operators.events import CMS_DEPTH, CMS_TOP_K, CMS_WIDTH

    # seeded portable_hash60: md5('<seed>|' || value) — same prefix trick
    # as functions/hashing.py:portable_hash60(col, seed)
    cell = _h60("d::varchar || '|' || uid") + f" % {CMS_WIDTH}"
    return f"""
with ev as (select user_id::varchar as uid from events),
ds as (select unnest(generate_series(0, {CMS_DEPTH - 1})) as d),
cells as (
    select d, {cell} as cell, count(*) as c
    from ev cross join ds
    group by d, cell
),
users as (select uid, count(*) as true_n from ev group by uid),
est as (
    select u.uid, u.true_n, min(c.c) as est_n
    from users u
    cross join ds
    join cells c on c.d = ds.d
        and c.cell = {_h60("ds.d::varchar || '|' || u.uid")} % {CMS_WIDTH}
    group by u.uid, u.true_n
)
select cast(uid as bigint) as user_id,
       cast(est_n as bigint) as est_n,
       cast(true_n as bigint) as true_n,
       cast(est_n - true_n as bigint) as overcount
from est
order by est_n desc, user_id asc
limit {CMS_TOP_K}
"""


EVENTS_CMS_HEAVY_HITTERS = _cms_sql()


def _triangles_sql() -> str:
    from .operators.graph import TRI_MAX_ORDER_ITEMS

    return f"""
with li as (select distinct l_orderkey as o, l_partkey as p from lineitem),
ok as (select o from li group by o having count(*) <= {TRI_MAX_ORDER_ITEMS}),
li2 as (select li.* from li join ok using (o)),
edges as (
    select distinct a.p as x, b.p as y
    from li2 a join li2 b on a.o = b.o and a.p < b.p
),
deg as (
    select n, count(*) as d
    from (select x as n from edges union all select y as n from edges)
    group by n
),
keyed as (
    select e.x, e.y, dx.d as dx, dy.d as dy
    from edges e
    join deg dx on dx.n = e.x
    join deg dy on dy.n = e.y
),
oriented as (
    select case when (dx, x) < (dy, y) then x else y end as u,
           case when (dx, x) < (dy, y) then y else x end as v,
           case when (dx, x) < (dy, y) then dy else dx end as kd,
           case when (dx, x) < (dy, y) then y else x end as kn
    from keyed
),
wedges as (
    select e1.u, e1.v, e2.v as w
    from oriented e1 join oriented e2
      on e1.u = e2.u and (e1.kd, e1.kn) < (e2.kd, e2.kn)
),
tris as (
    select wd.u, wd.v, wd.w from wedges wd
    where exists (select 1 from oriented o where o.u = wd.v and o.v = wd.w)
),
nodes as (
    select u as part_id from tris
    union all select v from tris
    union all select w from tris
)
select part_id, cast(count(*) as bigint) as n_triangles
from nodes group by part_id
"""


PARTS_COPURCHASE_TRIANGLES = _triangles_sql()


def _repetition_sql() -> str:
    from .operators.llm_prep import DUP_BIGRAM_MAX, DUP_LINE_MAX

    return f"""
with t as (
    select doc_id,
           string_split(text, chr(10)) as lines_raw,
           string_split(lower(text), ' ') as toks
    from documents
),
u as (
    select doc_id,
           case when len(lines_raw) > 1 then lines_raw
                else list_transform(
                    generate_series(0, cast(floor((len(toks)-1) / 12.0) as int)),
                    i -> array_to_string(toks[i*12+1 : i*12+12], ' '))
           end as lines,
           list_transform(
               generate_series(1, greatest(len(toks)-1, 1)),
               i -> concat(toks[i], ' ', coalesce(toks[i+1], ''))) as bigrams
    from t
)
select doc_id,
       len(lines) as n_lines,
       1 - len(list_distinct(lines)) / len(lines) as dup_line_frac,
       len(bigrams) as n_bigrams,
       1 - len(list_distinct(bigrams)) / len(bigrams) as dup_bigram_frac,
       (1 - len(list_distinct(lines)) / len(lines)) > {DUP_LINE_MAX}
         or (1 - len(list_distinct(bigrams)) / len(bigrams)) > {DUP_BIGRAM_MAX}
           as is_repetitive
from u
"""


TEXT_REPETITION = _repetition_sql()


EVENTS_SCD2_USER_STATE = """
with ev as (
    select user_id, event_type as state, ts, event_id from events
),
flagged as (
    select *,
           case when lag(state) over w is null
                  or state != lag(state) over w
                then 1 else 0 end as changed
    from ev
    window w as (partition by user_id order by ts asc, event_id asc)
),
islands as (
    select *,
           sum(changed) over (partition by user_id
                              order by ts asc, event_id asc
                              rows between unbounded preceding and current row)
               as island
    from flagged
),
spans as (
    select user_id, island, state,
           min(ts) as valid_from,
           count(*) as n_observations
    from islands group by user_id, island, state
)
select user_id, state, valid_from,
       lead(valid_from) over w2 as valid_to,
       lead(valid_from) over w2 is null as is_current,
       n_observations
from spans
window w2 as (partition by user_id order by island)
"""


def _window_funnel_sql() -> str:
    from .operators.analytics import ATTRIBUTION_DAYS

    iv = f"INTERVAL {ATTRIBUTION_DAYS} DAY"
    return f"""
with ev as (select user_id, event_type, ts from events),
v as (
    select *, min(case when event_type = 'view' then ts end)
                  over (partition by user_id) as t_view
    from ev
),
c as (
    select *, min(case when event_type = 'click'
                        and ts > t_view and ts <= t_view + {iv}
                       then ts end) over (partition by user_id) as t_click
    from v
),
p as (
    select *, min(case when event_type = 'purchase'
                        and ts > t_click and ts <= t_click + {iv}
                       then ts end) over (partition by user_id) as t_purchase
    from c
),
per_user as (
    select distinct user_id, t_view, t_click, t_purchase from p
),
agg as (
    select count(t_view) as n_view, count(t_click) as n_click,
           count(t_purchase) as n_purchase
    from per_user
)
select 1 as stage, 'view' as step, n_view as n_users from agg
union all select 2, 'click', n_click from agg
union all select 3, 'purchase', n_purchase from agg
"""


EVENTS_WINDOW_FUNNEL = _window_funnel_sql()


# --- time-series operators (operators/timeseries.py) -----------------------
# Rolling frames / interpolation arithmetic mirrored expression-for-
# expression: the RANGE frame runs over the same dense epoch-day index,
# the rolling-distinct fan-out uses the same sequence-explode + observed-
# day join, and every float op is the identical IEEE expression on exact
# integer inputs (parity rule: no stddev/avg builtins).

EVENTS_ROLLING_7D = """
with d as (select event_type, cast(ts as date) as day, user_id from events),
daily as (select event_type, day, count(*) as n from d group by event_type, day),
rolled as (
    select event_type, day, n as n_events,
           cast(sum(n) over (
               partition by event_type
               order by datediff('day', date '1970-01-01', day)
               range between 6 preceding and current row
           ) as bigint) as n_events_7d
    from daily
),
du as (select distinct event_type, day, user_id from d),
contrib as (
    select event_type, user_id,
           unnest(generate_series(day, day + interval 6 day, interval 1 day))::date as day
    from du
),
users7 as (
    select c.event_type, c.day, count(distinct c.user_id) as n_users_7d
    from contrib c
    join (select distinct event_type, day from daily) s
      on c.event_type = s.event_type and c.day = s.day
    group by c.event_type, c.day
)
select r.event_type, r.day, r.n_events, r.n_events_7d, u.n_users_7d
from rolled r join users7 u on r.event_type = u.event_type and r.day = u.day
"""

EVENTS_ANOMALY = """
with d as (select event_type, cast(ts as date) as day from events),
daily as (select event_type, day, count(*) as n from d group by event_type, day),
stats as (
    select event_type, count(*) as n_days, sum(n) as sum_n, sum(n * n) as sum_n2
    from daily group by event_type
)
select daily.event_type, daily.day, daily.n as n_events,
       sum_n / n_days as mean_n,
       (daily.n - sum_n / n_days)
           / nullif(sqrt(sum_n2 / n_days - (sum_n / n_days) * (sum_n / n_days)), 0.0)
           as z,
       coalesce(abs((daily.n - sum_n / n_days)
           / nullif(sqrt(sum_n2 / n_days - (sum_n / n_days) * (sum_n / n_days)), 0.0))
           > 2.0, false) as is_anomaly
from daily join stats on daily.event_type = stats.event_type
"""

EVENTS_INTERPOLATE = """
with e as (select event_type, cast(ts as date) as day, value from events),
daily as (
    select event_type, day, sum(value) / count(*) as v
    from e group by event_type, day
),
bounds as (select event_type, min(day) as lo, max(day) as hi from daily group by event_type),
spine as (
    select event_type, unnest(generate_series(lo, hi, interval 1 day))::date as day
    from bounds
),
grid as (
    select s.event_type, s.day,
           datediff('day', date '1970-01-01', s.day) as idx, d.v
    from spine s left join daily d on s.event_type = d.event_type and s.day = d.day
),
g as (
    select *,
        last_value(v ignore nulls) over (
            partition by event_type order by idx
            rows between unbounded preceding and current row) as pv,
        last_value(case when v is not null then idx end ignore nulls) over (
            partition by event_type order by idx
            rows between unbounded preceding and current row) as pi,
        first_value(v ignore nulls) over (
            partition by event_type order by idx
            rows between current row and unbounded following) as nv,
        first_value(case when v is not null then idx end ignore nulls) over (
            partition by event_type order by idx
            rows between current row and unbounded following) as ni
    from grid
)
select event_type, day, v is not null as observed,
       case when v is not null then v
            when pv is not null and nv is not null
                then pv + (nv - pv) * (idx - pi) / (ni - pi)
            else coalesce(pv, nv) end as value_interp
from g
"""


# --- paragraph-grain dedup (operators/dedup.py:dedup_paragraph) ------------
# Parallel unnest pairs each chunk with its 1-based position; ordering by
# (doc_id, pos) matches Spark's 0-based posexplode order exactly.

def _dedup_paragraph_sql() -> str:
    from .operators.dedup import PARA_DUP_FRAC, PARA_TOKENS

    n = PARA_TOKENS
    return f"""
with t as (select doc_id, string_split(lower(text), ' ') as toks from documents),
c as (
    select doc_id,
           list_transform(
               generate_series(0, cast(floor((len(toks)-1) / {n}.0) as int)),
               i -> array_to_string(toks[i*{n}+1 : i*{n}+{n}], ' ')) as chunks
    from t
),
e as (
    select doc_id,
           unnest(generate_series(1, len(chunks))) as pos,
           unnest(list_transform(chunks, ch -> md5(ch))) as h
    from c
),
r as (select doc_id, pos, row_number() over (partition by h order by doc_id, pos) as rn from e),
per_doc as (
    select doc_id, count(*) as n_paras,
           cast(sum(case when rn > 1 then 1 else 0 end) as bigint) as n_dup_paras
    from r group by doc_id
)
select doc_id, n_paras, n_dup_paras,
       n_dup_paras / n_paras as dup_para_frac,
       (n_dup_paras / n_paras) > {PARA_DUP_FRAC} as is_mostly_dup
from per_doc
"""


DEDUP_PARAGRAPH = _dedup_paragraph_sql()


# --- ANN recall evaluation (operators/similarity.py:ann_recall_eval) -------
# Inlines the bruteforce and LSH pipelines as CTEs (same fragments as
# ANN_TOPK_BRUTEFORCE / ANN_TOPK_LSH) and joins their top-k sets.

ANN_RECALL_EVAL = f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
probes as (select vec_id as query_id, e as qe from emb where vec_id % 100 = 0),
scored_x as (
    select p.query_id, emb.vec_id as neighbor_id,
           list_sum(list_transform(generate_series(1, len(emb.e)), i -> p.qe[i] * emb.e[i]))
             / (sqrt(list_sum(list_transform(p.qe, x -> x*x)))
                * sqrt(list_sum(list_transform(emb.e, x -> x*x)))) as cos
    from emb cross join probes p
    where emb.vec_id != p.query_id
),
exact as (
    select query_id, neighbor_id from (
        select query_id, neighbor_id,
               row_number() over (partition by query_id order by cos desc, neighbor_id) as rank
        from scored_x) where rank <= 5
),
sigs as (select vec_id, e, {_SIGN_SIG.format(e='e')} as sig from emb),
probes_l as (select vec_id as query_id, e as qe, sig from sigs where vec_id % 100 = 0),
scored_l as (
    select p.query_id, s.vec_id as neighbor_id,
           list_sum(list_transform(generate_series(1, len(s.e)), i -> p.qe[i] * s.e[i]))
             / (sqrt(list_sum(list_transform(p.qe, x -> x*x)))
                * sqrt(list_sum(list_transform(s.e, x -> x*x)))) as cos
    from sigs s join probes_l p on s.sig = p.sig
    where s.vec_id != p.query_id
),
approx as (
    select query_id, neighbor_id from (
        select query_id, neighbor_id,
               row_number() over (partition by query_id order by cos desc, neighbor_id) as rank
        from scored_l) where rank <= 5
),
hits as (
    select e.query_id, count(*) as n_hits
    from exact e join approx a
      on e.query_id = a.query_id and e.neighbor_id = a.neighbor_id
    group by e.query_id
),
base as (select query_id, count(*) as n_exact from exact group by query_id)
select b.query_id, b.n_exact,
       cast(coalesce(h.n_hits, 0) as bigint) as n_hits,
       coalesce(h.n_hits, 0) / 5.0 as recall
from base b left join hits h on b.query_id = h.query_id
"""


# --- one-scan column profile (operators/profile.py:events_profile) ---------

def _events_profile_sql() -> str:
    from .operators.profile import PROFILE_COLS

    aggs, rows = ["count(*) as n_rows"], []
    for c, kind in PROFILE_COLS:
        aggs.append(f"count({c}) as nn_{c}")
        aggs.append(f"count(distinct {c}) as nd_{c}")
        if kind == "num":
            src = f"cast({c} as double)"
        elif kind == "ts":
            src = f"cast(epoch_us({c}) as double)"
        else:
            src = "cast(null as double)"
        aggs.append(f"min({src}) as min_{c}")
        aggs.append(f"max({src}) as max_{c}")
        rows.append(
            f"select '{c}' as column_name, n_rows, n_rows - nn_{c} as n_nulls,"
            f" nd_{c} as n_distinct, min_{c} as min_num, max_{c} as max_num from a"
        )
    return "with a as (select " + ", ".join(aggs) + " from events)\n" + "\nunion all ".join(rows)


EVENTS_PROFILE = _events_profile_sql()


# --- weekly growth accounting (operators/analytics.py) ---------------------

EVENTS_GROWTH_ACCOUNTING = """
with act as (
    select distinct user_id,
           cast(floor(datediff('day', date '1970-01-05', cast(ts as date)) / 7.0) as bigint) as week
    from events
),
base as (
    select user_id, week,
           lag(week)  over (partition by user_id order by week) as prev_w,
           lead(week) over (partition by user_id order by week) as next_w
    from act
),
weekly as (
    select week,
           cast(sum(case when prev_w is null then 1 else 0 end) as bigint) as n_new,
           cast(sum(case when prev_w = week - 1 then 1 else 0 end) as bigint) as n_retained,
           cast(sum(case when prev_w is not null and prev_w != week - 1 then 1 else 0 end) as bigint)
               as n_resurrected
    from base group by week
),
mx as (select max(week) as max_week from act),
churn as (
    select b.week + 1 as week, count(*) as n_churned
    from base b, mx
    where (b.next_w is null or b.next_w > b.week + 1) and b.week + 1 <= mx.max_week
    group by b.week + 1
)
select coalesce(w.week, c.week) as week,
       coalesce(w.n_new, 0) as n_new,
       coalesce(w.n_retained, 0) as n_retained,
       coalesce(w.n_resurrected, 0) as n_resurrected,
       cast(coalesce(c.n_churned, 0) as bigint) as n_churned
from weekly w full outer join churn c on w.week = c.week
"""


# --- GROUPING SETS (operators/events.py:events_grouping_sets) --------------
# grouping_id bit order: Spark numbers the FIRST listed column as the most
# significant bit; DuckDB's GROUPING() does the same, so the ids agree.

EVENTS_GROUPING_SETS = """
select event_type, cast(ts as date) as day,
       cast(grouping(event_type, day) as bigint) as gid,
       count(*) as n_events,
       count(distinct user_id) as n_users,
       min(value) as min_value,
       max(value) as max_value
from events
group by grouping sets ((event_type, day), (day))
"""


# --- sliding-window streaming (streaming/windowed.py) ----------------------
# Two-bucket expansion: window 1 day sliding 12 h puts each event in
# exactly window/slide = 2 windows; 12 h buckets epoch-align identically
# in both engines (DuckDB's 2000-01-03 origin is a multiple of 12 h from
# the Unix epoch), and the watermark finalization rule matches the
# tumbling oracle.

EVENTS_STREAM_SLIDING = """
with wm as (select max(ts) - interval 1 day as w from events),
b as (select time_bucket(interval 12 hours, ts) as b0, event_type from events),
x as (
    select b0 as window_start, event_type from b
    union all
    select b0 - interval 12 hours as window_start, event_type from b
)
select window_start, window_start + interval 1 day as window_end,
       event_type, count(*) as n_events
from x, wm
group by 1, 2, 3, wm.w
having window_end <= wm.w
"""


# --- scalar quantization (operators/similarity.py:embedding_quantize) ------
# Per-dim stats via a lateral index cross join; the encode arithmetic is
# the identical IEEE expression sequence (sub, div, mul, floor, clamp).

EMBEDDING_QUANTIZE = f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
dims as (select unnest(generate_series(1, (select len(e) from emb limit 1))) as i),
stats as (
    select i, min(e[i]) as mn, max(e[i]) as mx
    from emb cross join dims group by i
),
s as (select list(mn order by i) as mns, list(mx order by i) as mxs from stats),
coded as (
    select vec_id, e, mns, mxs,
           list_transform(generate_series(1, len(e)),
               i -> cast(least(255, greatest(0, coalesce(
                        floor((e[i] - mns[i]) / nullif(mxs[i] - mns[i], 0.0) * 256),
                        0))) as bigint)) as codes
    from emb cross join s
),
r as (
    select vec_id, e, codes,
           list_transform(generate_series(1, len(e)),
               i -> mns[i] + (codes[i] + 0.5) / 256 * (mxs[i] - mns[i])) as recon
    from coded
)
select vec_id,
       len(e) as n_dims,
       cast(list_sum(codes) as bigint) as code_sum,
       cast(list_min(codes) as bigint) as code_min,
       cast(list_max(codes) as bigint) as code_max,
       list_sum(list_transform(generate_series(1, len(e)),
                i -> (e[i] - recon[i]) * (e[i] - recon[i]))) / len(e) as mse
from r
"""


# --- MERGE upsert/delete (operators/analytics.py:events_merge_upsert) ------

def _merge_upsert_sql() -> str:
    from .operators.analytics import MERGE_DELETE_TYPE

    return f"""
with ev as (
    select user_id, event_id, event_type, ts, value, cast(ts as date) as day
    from events
),
cutoff as (select max(day) as batch_day from ev),
flagged as (
    select ev.*, ev.day = cutoff.batch_day as is_batch from ev, cutoff
),
latest as (
    select * from (
        select *, row_number() over (
                     partition by user_id, is_batch
                     order by ts desc, event_id desc) as rn
        from flagged) where rn = 1
),
snap as (select user_id, event_id, event_type, ts, value from latest where not is_batch),
chg as (select user_id as c_user_id, event_id as c_event_id, event_type as c_event_type,
               ts as c_ts, value as c_value
        from latest where is_batch)
select coalesce(s.user_id, c.c_user_id) as user_id,
       case when c.c_user_id is null then s.event_id else c.c_event_id end as event_id,
       case when c.c_user_id is null then s.event_type else c.c_event_type end as event_type,
       case when c.c_user_id is null then s.ts else c.c_ts end as ts,
       case when c.c_user_id is null then s.value else c.c_value end as value,
       case when c.c_user_id is null then 'carry'
            when s.user_id is null then 'insert'
            else 'update' end as action
from snap s full outer join chg c on s.user_id = c.c_user_id
where c.c_user_id is null or c.c_event_type != '{MERGE_DELETE_TYPE}'
"""


EVENTS_MERGE_UPSERT = _merge_upsert_sql()


# --- canonical selection (operators/dedup.py:dedup_keep_list) --------------

DEDUP_KEEP_LIST = f"""
select d.doc_id, c.cluster_id, d.n_chars,
       row_number() over (partition by c.cluster_id
                          order by d.n_chars desc, d.doc_id asc) = 1 as keep
from documents d
join ({DEDUP_CLUSTERS}) c on d.doc_id = c.doc_id
"""


# --- bigram LM scoring (operators/text_analysis.py:text_bigram_lm_score) ---
# Identical smoothing arithmetic over identical integer counts; ln() may
# differ by an ulp between engines but the per-doc MEAN stays well inside
# the 6 dp compare.

def _bigram_lm_sql() -> str:
    from .operators.text_analysis import LM_ALPHA

    return f"""
with t as (select doc_id, lower(text) as norm from documents),
ex as (
    select doc_id,
           unnest(list_transform(generate_series(1, greatest(length(norm) - 1, 1)),
                                 i -> substr(norm, i, 2))) as g
    from t
),
counts as (select g, count(*) as n_g from ex group by g),
tot as (select cast(sum(n_g) as bigint) as n_total, count(*) as n_vocab from counts)
select ex.doc_id,
       count(*) as n_bigrams,
       sum(ln((coalesce(c.n_g, 0) + {LM_ALPHA}) / (t.n_total + {LM_ALPHA} * t.n_vocab)))
           / count(*) as mean_loglik
from ex left join counts c on ex.g = c.g, tot t
group by ex.doc_id
"""


TEXT_BIGRAM_LM_SCORE = _bigram_lm_sql()


# --- key-skew diagnostic (operators/analytics.py:events_key_skew) ----------

def _key_skew_sql() -> str:
    from .operators.analytics import SKEW_TOP_N

    return f"""
with per_key as (select user_id, count(*) as n_events from events group by user_id),
tot as (select cast(sum(n_events) as bigint) as n_total from per_key),
ranked as (
    select user_id, n_events,
           row_number() over (order by n_events desc, user_id asc) as rank
    from per_key
)
select cast(rank as bigint) as rank, user_id, n_events,
       n_events / t.n_total as share
from ranked, tot t where rank <= {SKEW_TOP_N}
"""


EVENTS_KEY_SKEW = _key_skew_sql()


# --- stream-static enrichment join (streaming/joins.py) --------------------
# The drained complete-mode aggregate equals the batch broadcast join; the
# dim rows are inlined as VALUES from the same Python literal.

def _stream_enrich_sql() -> str:
    from .streaming.joins import ENRICH_DIM

    values = ", ".join(f"('{t}', '{c}', {w})" for t, c, w in ENRICH_DIM)
    return f"""
with dim(event_type, category, weight) as (values {values})
select coalesce(d.category, 'unknown') as category,
       count(*) as n_events,
       sum(e.value * coalesce(d.weight, 0.0)) as weighted_value
from events e left join dim d on e.event_type = d.event_type
group by 1
"""


EVENTS_STREAM_ENRICH = _stream_enrich_sql()


# --- per-user OLS trend (operators/analytics.py:events_user_trend) ---------
# x is an exact integer day offset; slope/intercept are the identical
# IEEE expressions over the five sufficient statistics.

EVENTS_USER_TREND = """
with ev as (
    select user_id, cast(ts as date) as day, value from events
),
origin as (select min(day) as day0 from ev),
wx as (
    select user_id,
           cast(datediff('day', o.day0, ev.day) as bigint) as x,
           value as y
    from ev, origin o
),
stats as (
    select user_id, count(*) as n,
           cast(sum(x) as bigint) as sx, cast(sum(x * x) as bigint) as sxx,
           sum(y) as sy, sum(x * y) as sxy
    from wx group by user_id
)
select user_id, n as n_events,
       (n * sxy - sx * sy) / nullif(cast(n * sxx - sx * sx as double), 0.0) as slope,
       (sy - ((n * sxy - sx * sy) / nullif(cast(n * sxx - sx * sx as double), 0.0)) * sx) / n
           as intercept
from stats
"""


# --- k-anonymity release report (operators/analytics.py) -------------------

def _k_anonymity_sql() -> str:
    from .operators.analytics import ANON_SALT, K_ANON

    return f"""
select event_type, cast(ts as date) as day,
       cast(floor(value / 10) * 10 as bigint) as value_decade,
       count(*) as group_size,
       count(distinct md5('{ANON_SALT}' || '|' || cast(user_id as varchar))) as n_pseudonyms,
       count(*) < {K_ANON} as suppress
from events
group by 1, 2, 3
"""


EVENTS_K_ANONYMITY = _k_anonymity_sql()


# --- interval-overlap session join (operators/events.py) -------------------

def _session_overlap_sql() -> str:
    from .operators.events import SESSION_GAP_MINUTES

    gap = SESSION_GAP_MINUTES * 60

    def sess(types: str, prefix: str) -> str:
        return f"""
{prefix}_g as (
    select user_id, ts, event_id,
           case when floor(epoch(ts))::bigint
                     - lag(floor(epoch(ts))::bigint)
                       over (partition by user_id order by ts, event_id)
                     > {gap}
                then 1 else 0 end as new_sess
    from events where event_type in ({types})
),
{prefix}_s as (
    select *, sum(new_sess) over (partition by user_id order by ts, event_id
                                  rows between unbounded preceding and current row) as sno
    from {prefix}_g
),
{prefix}_sessions as (
    select user_id, min(ts) as {prefix}_start, max(ts) as {prefix}_end
    from {prefix}_s group by user_id, sno
)"""

    return f"""
with {sess("'view', 'click'", "b")},
{sess("'purchase'", "c")}
select b.user_id, b.b_start, b.b_end, c.c_start, c.c_end,
       epoch_us(least(b.b_end, c.c_end)) - epoch_us(greatest(b.b_start, c.c_start))
           as overlap_us
from b_sessions b join c_sessions c on b.user_id = c.user_id
where b.b_start <= c.c_end and c.c_start <= b.b_end
"""


EVENTS_SESSION_OVERLAP = _session_overlap_sql()


# --- product quantization (operators/similarity.py:embedding_pq) -----------
# Same deterministic codebook (subvectors of the 16 lowest vec_ids); the
# per-vector distortion sums subspace residuals in subspace order
# (list(d order by s) -> list_sum) to match Spark's sequential fold.

def _embedding_pq_sql() -> str:
    from .operators.similarity import PQ_CODEBOOK, PQ_SUBSPACES

    return f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
cents as (
    select row_number() over (order by vec_id) - 1 as cid, e
    from (select * from emb order by vec_id limit {PQ_CODEBOOK})
),
sublen as (select (select len(e) from emb limit 1) // {PQ_SUBSPACES} as m),
dists as (
    select v.vec_id, s.s, c.cid,
           list_sum(list_transform(generate_series(1, l.m),
               i -> (v.e[s.s * l.m + i] - c.e[s.s * l.m + i])
                    * (v.e[s.s * l.m + i] - c.e[s.s * l.m + i]))) as d
    from emb v
    cross join (select unnest(generate_series(0, {PQ_SUBSPACES - 1})) as s) s
    cross join cents c
    cross join sublen l
),
best as (
    select vec_id, s, cid as code, d from (
        select *, row_number() over (partition by vec_id, s order by d, cid) as rn
        from dists) where rn = 1
),
agg as (
    select vec_id,
           cast(sum(code) as bigint) as code_sum,
           cast(min(code) as bigint) as code_min,
           cast(max(code) as bigint) as code_max,
           list_sum(list(d order by s)) as distortion
    from best group by vec_id
)
select * from agg
"""


EMBEDDING_PQ = _embedding_pq_sql()


# --- PQ asymmetric-distance search (operators/similarity.py:ann_topk_pq) ---

def _ann_topk_pq_sql(k: int = 5, probe_mod: int = 100) -> str:
    from .operators.similarity import PQ_CODEBOOK, PQ_SUBSPACES

    return f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
cents as (
    select row_number() over (order by vec_id) - 1 as cid, e
    from (select * from emb order by vec_id limit {PQ_CODEBOOK})
),
sublen as (select (select len(e) from emb limit 1) // {PQ_SUBSPACES} as m),
dists as (
    select v.vec_id, s.s, c.cid,
           list_sum(list_transform(generate_series(1, l.m),
               i -> (v.e[s.s * l.m + i] - c.e[s.s * l.m + i])
                    * (v.e[s.s * l.m + i] - c.e[s.s * l.m + i]))) as d
    from emb v
    cross join (select unnest(generate_series(0, {PQ_SUBSPACES - 1})) as s) s
    cross join cents c
    cross join sublen l
),
best as (
    select vec_id, s, cid as code from (
        select *, row_number() over (partition by vec_id, s order by d, cid) as rn
        from dists) where rn = 1
),
probes as (select vec_id as query_id, e as qe from emb where vec_id % {probe_mod} = 0),
terms as (
    select p.query_id, b.vec_id as neighbor_id, b.s,
           list_sum(list_transform(generate_series(1, l.m),
               i -> (p.qe[b.s * l.m + i] - c.e[b.s * l.m + i])
                    * (p.qe[b.s * l.m + i] - c.e[b.s * l.m + i]))) as d
    from best b
    join cents c on b.code = c.cid
    cross join probes p
    cross join sublen l
    where b.vec_id != p.query_id
),
adcs as (
    select query_id, neighbor_id, list_sum(list(d order by s)) as adc
    from terms group by query_id, neighbor_id
),
ranked as (
    select query_id, neighbor_id, adc,
           row_number() over (partition by query_id order by adc asc, neighbor_id asc) as rank
    from adcs
)
select query_id, neighbor_id, cast(rank as bigint) as rank, round(adc, 6) as adc
from ranked where rank <= {k}
"""


ANN_TOPK_PQ = _ann_topk_pq_sql()


def _ann_topk_ivfpq_sql(
    k: int = 5, probe_mod: int = 100, nprobe: int = 2
) -> str:
    """IVF×PQ composed oracle: the IVF oracle's cosine cell assignment
    (corpus → nearest cell, probe → nprobe nearest) restricts the
    candidate set; the PQ oracle's per-subspace codes + ADC rank it."""
    from .operators.similarity import PQ_CODEBOOK, PQ_SUBSPACES

    return f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
centroids as materialized (
    select vec_id as cent_id, e as c_emb from emb order by vec_id limit 16
),
corpus_cells as (
    select neighbor_id, cent_id as cell from (
        select emb.vec_id as neighbor_id, c.cent_id,
               row_number() over (
                   partition by emb.vec_id
                   order by {_cos('emb.e', 'c.c_emb')} desc, c.cent_id
               ) as rn
        from emb cross join centroids c
    ) where rn = 1
),
probes as (select vec_id as query_id, e as qe from emb where vec_id % {probe_mod} = 0),
probe_cells as (
    select query_id, cent_id as cell from (
        select p.query_id, c.cent_id,
               row_number() over (
                   partition by p.query_id
                   order by {_cos('p.qe', 'c.c_emb')} desc, c.cent_id
               ) as rn
        from probes p cross join centroids c
    ) where rn <= {nprobe}
),
cents as (
    select row_number() over (order by vec_id) - 1 as cid, e
    from (select * from emb order by vec_id limit {PQ_CODEBOOK})
),
sublen as (select (select len(e) from emb limit 1) // {PQ_SUBSPACES} as m),
dists as (
    select v.vec_id, s.s, c.cid,
           list_sum(list_transform(generate_series(1, l.m),
               i -> (v.e[s.s * l.m + i] - c.e[s.s * l.m + i])
                    * (v.e[s.s * l.m + i] - c.e[s.s * l.m + i]))) as d
    from emb v
    cross join (select unnest(generate_series(0, {PQ_SUBSPACES - 1})) as s) s
    cross join cents c
    cross join sublen l
),
best as (
    select vec_id, s, cid as code from (
        select *, row_number() over (partition by vec_id, s order by d, cid) as rn
        from dists) where rn = 1
),
cands as (
    select distinct p.query_id, cc.neighbor_id
    from corpus_cells cc
    join probe_cells p on cc.cell = p.cell
    where cc.neighbor_id != p.query_id
),
terms as (
    select ca.query_id, ca.neighbor_id, b.s,
           list_sum(list_transform(generate_series(1, l.m),
               i -> (p.qe[b.s * l.m + i] - c.e[b.s * l.m + i])
                    * (p.qe[b.s * l.m + i] - c.e[b.s * l.m + i]))) as d
    from cands ca
    join probes p on p.query_id = ca.query_id
    join best b on b.vec_id = ca.neighbor_id
    join cents c on b.code = c.cid
    cross join sublen l
),
adcs as (
    select query_id, neighbor_id, list_sum(list(d order by s)) as adc
    from terms group by query_id, neighbor_id
),
ranked as (
    select query_id, neighbor_id, adc,
           row_number() over (partition by query_id order by adc asc, neighbor_id asc) as rank
    from adcs
)
select query_id, neighbor_id, cast(rank as bigint) as rank, round(adc, 6) as adc
from ranked where rank <= {k}
"""


ANN_TOPK_IVFPQ = _ann_topk_ivfpq_sql()


# --- all-family ANN recall (operators/similarity.py:ann_recall_eval_all) ---
# Reuses each index family's full top-k statement as a nested-CTE derived
# table (DuckDB supports WITH inside a subquery) so the per-family
# semantics stay definitionally identical to the individually-checked
# ANN_TOPK_* oracles; hits = membership of the family's top-k in the
# shared exact cosine top-k.

ANN_RECALL_EVAL_ALL = f"""
with exact as (
    select query_id, neighbor_id from ({ANN_TOPK_BRUTEFORCE})
),
base as (select query_id, count(*) as n_exact from exact group by query_id),
fam as (
    select 'lsh' as index_family, query_id, neighbor_id from ({ANN_TOPK_LSH})
    union all
    select 'ivf' as index_family, query_id, neighbor_id from ({ANN_TOPK_IVF})
    union all
    select 'ivf2' as index_family, query_id, neighbor_id from ({ANN_TOPK_IVF_NPROBE})
    union all
    select 'pq' as index_family, query_id, neighbor_id from ({ANN_TOPK_PQ})
    union all
    select 'ivfpq' as index_family, query_id, neighbor_id from ({ANN_TOPK_IVFPQ})
),
hits as (
    select f.index_family, e.query_id, count(*) as n_hits
    from exact e
    join fam f on e.query_id = f.query_id and e.neighbor_id = f.neighbor_id
    group by f.index_family, e.query_id
),
fams as (select unnest(['lsh', 'ivf', 'ivf2', 'pq', 'ivfpq']) as index_family)
select fams.index_family, b.query_id, b.n_exact,
       cast(coalesce(h.n_hits, 0) as bigint) as n_hits,
       coalesce(h.n_hits, 0) / 5.0 as recall
from fams
cross join base b
left join hits h
  on h.index_family = fams.index_family and h.query_id = b.query_id
"""


# --- langid evaluation (operators/text_analysis.py:text_langid_eval) -------
# Wraps the TEXT_LANGID oracle as the prediction source.

TEXT_LANGID_EVAL = f"""
with pred as (select doc_id, lang, lang_pred from ({TEXT_LANGID}) q),
cells as (select lang, lang_pred, count(*) as n from pred group by 1, 2),
totals as (select lang, cast(sum(n) as bigint) as n_label from cells group by lang),
diag as (select lang, n as n_correct from cells where lang = lang_pred)
select c.lang, c.lang_pred, c.n,
       coalesce(d.n_correct, 0) / t.n_label as recall
from cells c
join totals t on c.lang = t.lang
left join diag d on c.lang = d.lang
"""


# --- train/val/test split + integrity audit (operators/llm_prep.py) --------

def _corpus_split_sql() -> str:
    from .operators.llm_prep import SPLIT_BOUNDS

    whens = " ".join(
        f"when bucket >= {lo} and bucket < {hi} then '{name}'"
        for name, lo, hi in SPLIT_BOUNDS
    )
    h = _h60("cast(doc_id as varchar)")
    return f"""
with b as (
    select doc_id, ((({h}) % 100) + 100) % 100 as bucket from documents
)
select doc_id, cast(bucket as bigint) as bucket,
       case {whens} end as split
from b
"""


CORPUS_SPLIT = _corpus_split_sql()

CORPUS_INTEGRITY = """
select 'docs_without_embedding' as "check", count(*) as n
from documents d where not exists (select 1 from embeddings e where e.vec_id = d.doc_id)
union all
select 'embeddings_without_doc', count(*)
from embeddings e where not exists (select 1 from documents d where d.doc_id = e.vec_id)
union all
select 'matched', count(*)
from documents d where exists (select 1 from embeddings e where e.vec_id = d.doc_id)
"""


# --- training-manifest assembly (operators/llm_prep.py) --------------------
# Composes the dedup-exact, split, and token-count oracles on doc_id.

def _train_manifest_sql() -> str:
    return f"""
with kept as (
    select doc_id from ({DEDUP_EXACT}) q where not is_duplicate
),
split as (select doc_id, split from ({CORPUS_SPLIT}) s),
tok as (select doc_id, n_bpe_tokens from ({TEXT_TOKENS}) t)
select s.split, d.lang, count(*) as n_docs,
       cast(sum(tok.n_bpe_tokens) as bigint) as n_tokens
from documents d
join kept k on d.doc_id = k.doc_id
join split s on d.doc_id = s.doc_id
join tok on d.doc_id = tok.doc_id
group by s.split, d.lang
"""


CORPUS_TRAIN_MANIFEST = _train_manifest_sql()


# --- ROWS-frame moving average (operators/timeseries.py) -------------------

def _moving_avg_sql() -> str:
    from .operators.timeseries import MOVING_N

    return f"""
select event_id, user_id, ts, value,
       cast(count(*) over w as bigint) as n_window,
       sum(value) over w / count(*) over w as moving_avg
from events
window w as (partition by user_id order by ts, event_id
             rows between {MOVING_N - 1} preceding and current row)
"""


EVENTS_MOVING_AVG = _moving_avg_sql()


# --- exact lower median (operators/events.py:events_median) ----------------

EVENTS_MEDIAN = """
with ranked as (
    select event_type, value,
           row_number() over (partition by event_type order by value, event_id) as rn,
           count(*) over (partition by event_type) as n
    from events
)
select event_type, cast(n as bigint) as n, value as median_value
from ranked where rn = cast(floor((n + 1) / 2.0) as bigint)
"""


# --- update-mode streaming counts (streaming/windowed.py) ------------------
# Single-batch availableNow drain: the update set equals the batch agg.

EVENTS_STREAM_UPDATE_COUNTS = """
select event_type, count(*) as n_events from events group by event_type
"""


# --- documents profile (operators/profile.py:documents_profile) ------------

def _documents_profile_sql() -> str:
    from .operators.profile import DOCS_PROFILE_COLS

    aggs, rows = ["count(*) as n_rows"], []
    for c, kind in DOCS_PROFILE_COLS:
        aggs.append(f"count({c}) as nn_{c}")
        aggs.append(f"count(distinct {c}) as nd_{c}")
        src = f"cast({c} as double)" if kind == "num" else "cast(null as double)"
        aggs.append(f"min({src}) as min_{c}")
        aggs.append(f"max({src}) as max_{c}")
        rows.append(
            f"select '{c}' as column_name, n_rows, n_rows - nn_{c} as n_nulls,"
            f" nd_{c} as n_distinct, min_{c} as min_num, max_{c} as max_num from a"
        )
    return "with a as (select " + ", ".join(aggs) + " from documents)\n" + "\nunion all ".join(rows)


DOCUMENTS_PROFILE = _documents_profile_sql()


# --- round-3 continuation: sequence / segmentation / loader-layout ops ---

EVENTS_MARKOV = """
with seq as (
    select event_type as from_type,
           lead(event_type) over (partition by user_id order by ts, event_id) as to_type
    from events
),
pairs as (
    select from_type, to_type, count(*) as n_transitions
    from seq
    where to_type is not null
    group by 1, 2
)
select from_type, to_type, n_transitions,
       n_transitions / cast(sum(n_transitions) over (partition by from_type) as bigint) as p
from pairs
"""


def _rfm_sql() -> str:
    from .operators.analytics import RFM_SEGMENTS

    case = "case " + " ".join(
        f"when {cond} then '{name}'" for name, cond in RFM_SEGMENTS
    ) + " end"
    return f"""
with per_user as (
    select user_id, max(ts::date) as last_day, count(*) as frequency,
           sum(value) as monetary
    from events group by 1
),
anchor as (select max(ts::date) as max_day from events),
base as (
    select user_id,
           datediff('day', last_day, max_day) as recency_days,
           frequency, monetary
    from per_user, anchor
),
scored as (
    select *,
        ntile(4) over (order by recency_days, user_id) as r_q,
        ntile(4) over (order by frequency desc, user_id) as f_q,
        ntile(4) over (order by monetary desc, user_id) as m_q
    from base
)
select user_id, recency_days, frequency, monetary, r_q, f_q, m_q,
       {case} as segment
from scored
"""


EVENTS_RFM = _rfm_sql()


def _vocab_encode_sql() -> str:
    from .operators.llm_prep import VOCAB_K

    return f"""
with toks as (
    select doc_id,
           unnest(string_split(lower(text), ' ')) as term,
           unnest(range(1, len(string_split(lower(text), ' ')) + 1)) as pos
    from documents
),
vocab as (
    select term, row_number() over (order by dfreq desc, term) as token_id
    from (select term, count(distinct doc_id) as dfreq from toks group by 1)
    qualify token_id <= {VOCAB_K}
),
enc as (
    select t.doc_id, t.pos, coalesce(v.token_id, 0) as token_id
    from toks t left join vocab v using (term)
)
select doc_id, count(*) as n_tokens,
       string_agg(token_id::varchar, ' ' order by pos) as ids_str
from enc
group by doc_id
"""


CORPUS_VOCAB_ENCODE = _vocab_encode_sql()


def _length_batches_sql() -> str:
    from .operators.llm_prep import BATCH_SIZE, BUCKET_MAX, BUCKET_WIDTH

    return f"""
with d as (
    select doc_id, len(string_split(text, ' ')) as n_tokens,
           least(len(string_split(text, ' ')) // {BUCKET_WIDTH}, {BUCKET_MAX}) as bucket
    from documents
),
b as (
    select bucket, n_tokens,
           cast(floor((row_number() over (partition by bucket order by n_tokens, doc_id) - 1)
                      / {BATCH_SIZE}) as bigint) as batch_id
    from d
)
select bucket, batch_id, count(*) as n_docs,
       min(n_tokens) as min_tokens, max(n_tokens) as max_tokens,
       max(n_tokens) * count(*) - cast(sum(n_tokens) as bigint) as padded_tokens,
       (max(n_tokens) * count(*) - cast(sum(n_tokens) as bigint))
         / (max(n_tokens) * count(*)) as pad_frac
from b
group by 1, 2
"""


CORPUS_LENGTH_BATCHES = _length_batches_sql()

EVENTS_STREAM_PEAK_RATE = """
with wm as (select max(ts) - interval 1 day as w from events),
c10 as (
    select time_bucket(interval 10 minute, ts) as w10, event_type,
           count(*) as n_events
    from events group by 1, 2
)
select time_bucket(interval 1 day, w10) as day_start,
       time_bucket(interval 1 day, w10) + interval 1 day as day_end,
       event_type,
       max(n_events) as peak_10min_events
from c10, wm
group by 1, 2, 3, wm.w
having day_end <= wm.w
"""


def _zorder_sql() -> str:
    from .operators.layout import ZORDER_BITS, interleave_bits_sql

    mask = (1 << ZORDER_BITS) - 1
    expr = interleave_bits_sql(
        f"(user_id & {mask})",
        f"(datediff('day', DATE '1970-01-01', ts::date) & {mask})",
    )
    return f"""
select event_id, user_id, ts::date as day,
       ({expr}) as zkey
from events
"""


EVENTS_ZORDER_KEY = _zorder_sql()


EVENTS_PIT_JOIN = f"""
with scd2 as ({EVENTS_SCD2_USER_STATE}),
p as (
    select event_id, user_id, ts from events where event_type = 'purchase'
)
select p.event_id, p.user_id, p.ts,
       s.state as prior_state,
       s.valid_from as prior_state_from
from p
left join scd2 s
  on s.user_id = p.user_id
 and s.valid_from < p.ts
 and (s.valid_to is null or s.valid_to >= p.ts)
"""

EVENTS_TYPE_CORRELATION = """
with daily as (
    select event_type, ts::date as day, count(*) as n
    from events group by 1, 2
),
dense as (
    select t.event_type, d.day, coalesce(c.n, 0) as n
    from (select distinct day from daily) d
    cross join (select distinct event_type from daily) t
    left join daily c on c.event_type = t.event_type and c.day = d.day
),
sums as (
    select a.event_type as type_a, b.event_type as type_b,
           count(*) as n_days,
           cast(sum(a.n) as bigint) as sx,
           cast(sum(b.n) as bigint) as sy,
           cast(sum(a.n * b.n) as bigint) as sxy,
           cast(sum(a.n * a.n) as bigint) as sxx,
           cast(sum(b.n * b.n) as bigint) as syy
    from dense a join dense b on a.day = b.day and a.event_type < b.event_type
    group by 1, 2
)
select type_a, type_b, n_days,
       (n_days * sxy - sx * sy)
         / nullif(sqrt(n_days * sxx - sx * sx) * sqrt(n_days * syy - sy * sy), 0.0)
         as corr
from sums
"""


EVENTS_STREAM_JOIN_OUTER = """
with p as (
    select event_id as purchase_id, user_id, ts as purchase_ts
    from events where event_type = 'purchase'
),
c as (
    select event_id as click_id, user_id as c_user, ts as click_ts
    from events where event_type = 'click'
),
wm as (
    select least((select max(purchase_ts) from p),
                 (select max(click_ts) from c)) - interval 1 day as w
),
j as (
    select p.purchase_id, c.click_id, p.user_id, p.purchase_ts, c.click_ts
    from p left join c
      on p.user_id = c.c_user
     and c.click_ts >= p.purchase_ts - interval 1 hour
     and c.click_ts <= p.purchase_ts
)
select purchase_id, click_id, user_id, purchase_ts, click_ts
from j, wm
where click_id is not null or purchase_ts < wm.w
"""


EVENTS_SESSION_COOCCURRENCE = f"""
with e as (select event_id, ts, user_id, event_type from events),
g as (
    select *,
           case when floor(epoch(ts))::bigint
                     - lag(floor(epoch(ts))::bigint)
                       over (partition by user_id order by ts, event_id)
                     > {SESSION_GAP_MINUTES * 60}
                then 1 else 0 end as new_sess
    from e
),
s as (
    select *,
           sum(new_sess) over (partition by user_id order by ts, event_id
                               rows unbounded preceding) as session_no
    from g
),
items as (select distinct user_id, session_no, event_type from s),
tot as (
    select count(*) as n_sessions
    from (select distinct user_id, session_no from items)
),
per_type as (select event_type, count(*) as n_type from items group by 1),
pairs as (
    select a.event_type as type_a, b.event_type as type_b, count(*) as n_both
    from items a
    join items b
      on a.user_id = b.user_id and a.session_no = b.session_no
     and a.event_type < b.event_type
    group by 1, 2
)
select type_a, type_b, n_both,
       cast(n_both as double) / cast(tot.n_sessions as double) as support,
       (cast(n_both as double) * cast(tot.n_sessions as double))
         / (cast(pa.n_type as double) * cast(pb.n_type as double)) as lift
from pairs, tot
join per_type pa on pa.event_type = type_a
join per_type pb on pb.event_type = type_b
"""


def _histogram_sql() -> str:
    from .operators.profile import HIST_BINS

    nb = HIST_BINS
    return f"""
with bounds as (
    select event_type, min(value) as lo, max(value) as hi
    from events group by 1
),
j as (
    select e.event_type, e.value, b.lo, (b.hi - b.lo) / {float(nb)} as w
    from events e join bounds b using (event_type)
),
grouped as (
    select event_type, lo, w,
           cast(case when w = 0 then 0
                     else least(floor((value - lo) / w), {nb - 1})
                end as bigint) as bucket,
           count(*) as n_events
    from j group by 1, 2, 3, 4
)
select event_type, bucket,
       lo + bucket * w as bucket_lo,
       lo + (bucket + 1) * w as bucket_hi,
       n_events
from grouped
"""


EVENTS_VALUE_HISTOGRAM = _histogram_sql()


def _quantile_hist_sql() -> str:
    """Mirror of events_quantile_hist: identical two-pass histogram,
    identical cumulative walk, identical interpolation operand order
    (p·n_total − cum_before, then lo + w·(bucket + frac))."""
    from .operators.profile import HIST_BINS, QUANTILE_HIST_PS

    nb = HIST_BINS
    ps = ", ".join(f"{p}e0" for p in QUANTILE_HIST_PS)
    return f"""
with bounds as (
    select event_type, min(value) as lo, max(value) as hi
    from events group by 1
),
j as (
    select e.event_type, e.value, b.lo, (b.hi - b.lo) / {float(nb)} as w
    from events e join bounds b using (event_type)
),
hist as (
    select event_type, lo, w,
           cast(case when w = 0 then 0
                     else least(floor((value - lo) / w), {nb - 1})
                end as bigint) as bucket,
           count(*) as n
    from j group by 1, 2, 3, 4
),
cum as (
    select *,
           cast(sum(n) over (partition by event_type order by bucket) as bigint) as cum
    from hist
),
tot as (select event_type, cast(sum(n) as bigint) as n_total from hist group by 1),
plist as (select unnest([{ps}]) as p),
probs as (
    select c.*, t.n_total, pl.p
    from cum c join tot t using (event_type) cross join plist pl
),
hit as (
    select *,
           row_number() over (partition by event_type, p order by bucket) as rn
    from probs where cum >= p * n_total
)
select event_type, p, n_total,
       case when w = 0 then lo
            else lo + w * (bucket + (p * n_total - (cum - n)) / n)
       end as est
from hit where rn = 1
"""


EVENTS_QUANTILE_HIST = _quantile_hist_sql()


def _session_paths_sql() -> str:
    from .operators.events import PATH_LEN, PATH_TOP_K

    return f"""
with e as (select event_id, ts, user_id, event_type from events),
g as (
    select *,
           case when floor(epoch(ts))::bigint
                     - lag(floor(epoch(ts))::bigint)
                       over (partition by user_id order by ts, event_id)
                     > {SESSION_GAP_MINUTES * 60}
                then 1 else 0 end as new_sess
    from e
),
s as (
    select *,
           sum(new_sess) over (partition by user_id order by ts, event_id
                               rows unbounded preceding) as session_no
    from g
),
paths as (
    select user_id, session_no,
           array_to_string(
               list_slice(list(event_type order by ts, event_id), 1, {PATH_LEN}),
               '>') as path
    from s group by user_id, session_no
),
counts as (select path, count(*) as n_sessions from paths group by path)
select rank, path, n_sessions
from (
    select path, n_sessions,
           row_number() over (order by n_sessions desc, path) as rank
    from counts
)
where rank <= {PATH_TOP_K}
"""


EVENTS_SESSION_PATHS = _session_paths_sql()


def _user_entropy_sql() -> str:
    import math

    n_cols = ", ".join(
        f"cast(sum(case when event_type = '{t}' then 1 else 0 end) as bigint) as n_{t}"
        for t in EVENT_TYPES
    )
    total = " + ".join(f"n_{t}" for t in EVENT_TYPES)
    ent = " + ".join(
        f"(case when n_{t} > 0 then -(n_{t} / n_events) * ln(n_{t} / n_events)"
        f" else 0.0 end)"
        for t in EVENT_TYPES
    )
    n_types = " + ".join(
        f"(case when n_{t} > 0 then 1 else 0 end)" for t in EVENT_TYPES
    )
    return f"""
with per_user as (
    select user_id, {n_cols}
    from events group by user_id
),
with_total as (
    select *, {total} as n_events from per_user
)
select user_id, n_events,
       cast({n_types} as bigint) as n_types,
       {ent} as entropy,
       ({ent}) / {math.log(len(EVENT_TYPES))!r} as evenness
from with_total
"""


EVENTS_USER_ENTROPY = _user_entropy_sql()


def _weighted_sample_sql() -> str:
    from .operators.analytics import WSAMPLE_K, WSAMPLE_RES

    h = _h60("cast(event_id as varchar)")
    return f"""
with scored as (
    select event_id, user_id, event_type, value,
           ln((({h}) % {WSAMPLE_RES} + 0.5) / {float(WSAMPLE_RES)}) / value
               as sample_key
    from events
    where value > 0
)
select event_id, user_id, event_type, value, sample_key
from scored
order by sample_key desc, event_id asc
limit {WSAMPLE_K}
"""


EVENTS_WEIGHTED_SAMPLE = _weighted_sample_sql()


def _chi2_sql() -> str:
    from .operators.timeseries import DOW_LABELS

    dow = "(datediff('day', DATE '1970-01-05', ts::date) % 7)"
    row_cols = ", ".join(
        f"cast(sum(case when {dow} = {d} then 1 else 0 end) as bigint) as n_{lbl}"
        for d, lbl in enumerate(DOW_LABELS)
    )
    tot_cols = ", ".join(
        f"cast(sum(case when {dow} = {d} then 1 else 0 end) as bigint) as t_{lbl}"
        for d, lbl in enumerate(DOW_LABELS)
    )
    row_total = " + ".join(f"n_{lbl}" for lbl in DOW_LABELS)
    chi2 = " + ".join(
        f"(case when t_{lbl} > 0 then"
        f" (n_{lbl} - (({row_total}) * t_{lbl} / n_total))"
        f" * (n_{lbl} - (({row_total}) * t_{lbl} / n_total))"
        f" / (({row_total}) * t_{lbl} / n_total)"
        f" else 0.0 end)"
        for lbl in DOW_LABELS
    )
    return f"""
with per_type as (
    select event_type, {row_cols} from events group by event_type
),
totals as (
    select {tot_cols}, count(*) as n_total from events
)
select event_type,
       cast({row_total} as bigint) as n_row,
       {chi2} as chi2_component,
       cast({len(DOW_LABELS) - 1} as bigint) as dof
from per_type, totals
"""


EVENTS_CHI2_INDEPENDENCE = _chi2_sql()


def _mad_sql() -> str:
    from .operators.timeseries import MAD_CONSISTENCY, MAD_Z

    z = f"(value - med) / nullif({MAD_CONSISTENCY} * mad, 0.0)"
    return f"""
with e as (select event_id, event_type, value from events),
r1 as (
    select *, row_number() over (partition by event_type order by value, event_id) as rn,
           count(*) over (partition by event_type) as n
    from e
),
med as (select event_type, value as med from r1 where rn = (n + 1) // 2),
d as (
    select e.event_id, e.event_type, e.value, m.med,
           abs(e.value - m.med) as adev
    from e join med m using (event_type)
),
r2 as (
    select *, row_number() over (partition by event_type order by adev, event_id) as rn,
           count(*) over (partition by event_type) as n
    from d
),
mad as (select event_type, adev as mad from r2 where rn = (n + 1) // 2)
select d.event_id, d.event_type, d.value, d.med, mad.mad,
       {z} as robust_z,
       coalesce(abs({z}) > {MAD_Z}, false) as is_outlier
from d join mad using (event_type)
"""


EVENTS_MAD_OUTLIERS = _mad_sql()


def _score_topk_sql() -> str:
    from .operators.similarity import SCORE_BIAS, SCORE_TOP_K, score_weights

    w = "[" + ", ".join(repr(x) for x in score_weights()) + "]"
    dot = f"list_sum(list_transform(generate_series(1, len(e)), i -> e[i] * w[i]))"
    return f"""
with emb as (
    select vec_id, label, {_EMB} as e,
           ({w})::double[] as w
    from embeddings
),
scored as (
    select vec_id, label,
           {dot} + {SCORE_BIAS} as logit
    from emb
)
select vec_id, label, logit,
       1.0 / (1.0 + exp(-logit)) as score
from scored
order by score desc, vec_id asc
limit {SCORE_TOP_K}
"""


EMBEDDING_SCORE_TOPK = _score_topk_sql()

EVENTS_RANK_FUNCTIONS = """
select event_id, event_type, value,
       cast(dense_rank() over w as bigint) as d_rank,
       percent_rank() over w as pct_rank,
       cume_dist() over w as cume
from events
window w as (partition by event_type order by value desc)
"""


DIM_CALENDAR = """
with bounds as (
    select min(ts::date) as lo, max(ts::date) as hi from events
),
spine as (
    select unnest(generate_series(lo, hi, interval 1 day))::date as day
    from bounds
)
select day,
       cast(year(day) as bigint) as year,
       cast(year(day + cast(3 - (datediff('day', DATE '1970-01-05', day) % 7) as integer)) as bigint)
           as iso_year,
       cast(quarter(day) as bigint) as quarter,
       cast(month(day) as bigint) as month,
       cast(dayofmonth(day) as bigint) as day_of_month,
       cast(weekofyear(day) as bigint) as iso_week,
       cast(datediff('day', DATE '1970-01-05', day) % 7 as bigint) as dow,
       (datediff('day', DATE '1970-01-05', day) % 7) >= 5 as is_weekend
from spine
"""


def _edit_distance_sql() -> str:
    from .operators.dedup import EDIT_BLOCK, EDIT_MAX, EDIT_MAX_BLOCK, EDIT_PREFIX

    norm = _NORM
    return f"""
with keyed as (
    select doc_id,
           substr({norm}, 1, {EDIT_PREFIX}) as prefix,
           substr({norm}, 1, {EDIT_BLOCK}) as head,
           substr(reverse({norm}), 1, {EDIT_BLOCK}) as tail
    from documents
),
heads as (
    select doc_id, head as bkey from keyed
    qualify count(*) over (partition by head) <= {EDIT_MAX_BLOCK}
),
tails as (
    select doc_id, tail as bkey from keyed
    qualify count(*) over (partition by tail) <= {EDIT_MAX_BLOCK}
),
cands as (
    select doc_a, doc_b from ({DEDUP_MINHASH_LSH}) q
    union
    select a.doc_id as doc_a, b.doc_id as doc_b
    from heads a join heads b on a.bkey = b.bkey and a.doc_id < b.doc_id
    union
    select a.doc_id as doc_a, b.doc_id as doc_b
    from tails a join tails b on a.bkey = b.bkey and a.doc_id < b.doc_id
)
select c.doc_a, c.doc_b,
       cast(levenshtein(a.prefix, b.prefix) as bigint) as edit_distance
from cands c
join keyed a on a.doc_id = c.doc_a
join keyed b on b.doc_id = c.doc_b
where levenshtein(a.prefix, b.prefix) <= {EDIT_MAX}
"""


DEDUP_EDIT_DISTANCE = _edit_distance_sql()


def _dau_sql() -> str:
    from .operators.timeseries import MAU_DAYS

    return f"""
with ud as (select distinct user_id, ts::date as day from events),
mx as (select max(day) as max_day from ud),
ex as (
    select user_id, day as src_day,
           unnest(generate_series(day, day + {MAU_DAYS - 1}, interval 1 day))::date as day
    from ud
),
agg as (
    select ex.day,
           count(distinct case when datediff('day', src_day, ex.day) = 0
                               then user_id end) as dau,
           count(distinct case when datediff('day', src_day, ex.day) < 7
                               then user_id end) as wau,
           count(distinct user_id) as mau
    from ex, mx
    where ex.day <= mx.max_day
    group by ex.day
)
select day, dau, wau, mau, dau / mau as stickiness from agg
"""


EVENTS_DAU_WAU_MAU = _dau_sql()


def _pareto_sql() -> str:
    from .operators.timeseries import PARETO_SHARE

    return f"""
with per_user as (
    select user_id, count(*) as n_events from events group by 1
),
total as (select cast(sum(n_events) as bigint) as n_total from per_user),
ranked as (
    select user_id, n_events, n_total,
           cast(row_number() over w as bigint) as user_rank,
           cast(sum(n_events) over (order by n_events desc, user_id
                                    rows unbounded preceding) as bigint) as cum
    from per_user, total
    window w as (order by n_events desc, user_id)
)
select user_id, n_events, user_rank,
       cum / n_total as cum_share,
       (cum - n_events) < n_total * {PARETO_SHARE} as in_head
from ranked
"""


EVENTS_PARETO = _pareto_sql()

EVENTS_BOUNCE_RATE = f"""
with s as ({EVENTS_SESSIONIZE}),
daily as (
    select session_start::date as day,
           case when n_events = 1 then 1 else 0 end as is_bounce
    from s
),
agg as (
    select day, count(*) as n_sessions,
           cast(sum(is_bounce) as bigint) as n_bounces
    from daily group by day
)
select day, n_sessions, n_bounces, n_bounces / n_sessions as bounce_rate
from agg
"""


def _corpus_survival_sql() -> str:
    from .operators.corpus import (
        CORPUS_LANG,
        CORPUS_MIN_QUALITY,
        CORPUS_MIN_TOKENS,
        CORPUS_SAMPLE_PCT,
        SURVIVAL_STAGES,
    )

    langs = list(LANG_STOPWORDS)
    score_exprs = ",\n       ".join(
        f"len(list_filter(toks, t -> t in ({', '.join(repr(w) for w in ws)}))) as score_{lang}"
        for lang, ws in LANG_STOPWORDS.items()
    )
    best = f"greatest({', '.join('score_' + lg for lg in langs)})"
    whens = "\n            ".join(
        f"when score_{lg} = {best} then '{lg}'" for lg in langs
    )
    stage_rows = ", ".join(
        f"({i + 1}, '{s}')" for i, s in enumerate(SURVIVAL_STAGES)
    )
    return f"""
with t as (
    select doc_id, string_split(lower(text), ' ') as toks, md5({_NORM}) as fp
    from documents
),
scored as (
    select doc_id, fp, len(toks) as n_tokens,
       (len(list_filter(toks, t -> t in ({_ALL_STOP}))) / len(toks)) * 2.0
         + (len(list_distinct(toks)) / len(toks)) as quality_score,
       {score_exprs}
    from t
),
labeled as (
    select doc_id, fp, n_tokens, quality_score,
       case when {best} <= 0 then 'und'
            {whens}
       end as lang_pred
    from scored
),
pass3 as (
    select * from labeled
    where lang_pred = '{CORPUS_LANG}'
      and n_tokens >= {CORPUS_MIN_TOKENS}
      and quality_score >= {CORPUS_MIN_QUALITY}
),
canon as (select fp, min(doc_id) as canonical_doc_id from pass3 group by fp),
attributed as (
    select case
        when l.lang_pred != '{CORPUS_LANG}' then 'lang'
        when l.n_tokens < {CORPUS_MIN_TOKENS} then 'min_tokens'
        when l.quality_score < {CORPUS_MIN_QUALITY} then 'quality'
        when l.doc_id != c.canonical_doc_id then 'exact_dup'
        when {_h60('l.doc_id::varchar')} % 100 >= {CORPUS_SAMPLE_PCT} then 'sample'
        else 'kept' end as stage
    from labeled l left join canon c using (fp)
),
counts as (select stage, count(*) as n from attributed group by stage),
stages(stage_no, stage) as (values {stage_rows}),
total as (select cast(sum(n) as bigint) as n_total from counts),
funnel as (
    select s.stage_no, s.stage,
           cast(coalesce(c.n, 0) as bigint) as n_dropped,
           t.n_total
    from stages s left join counts c using (stage), total t
)
select stage_no, stage,
       cast(n_total - coalesce(sum(n_dropped) over (order by stage_no
            rows between unbounded preceding and 1 preceding), 0) as bigint) as n_in,
       n_dropped,
       cast(n_total - coalesce(sum(n_dropped) over (order by stage_no
            rows between unbounded preceding and 1 preceding), 0) - n_dropped
            as bigint) as n_out
from funnel
"""


CORPUS_SURVIVAL = _corpus_survival_sql()


EVENTS_TIME_TO_CONVERT = f"""
with m as ({EVENTS_ASOF_PURCHASE_CLICK}),
base as (
    select (datediff('day', DATE '1970-01-05', ts::date) % 7) as dow,
           gap_us / 1000000.0 as gap_s,
           gap_us
    from m where asof_click_id is not null
)
select dow,
       count(*) as n_conversions,
       quantile_cont(gap_s, 0.5) as p50_s,
       quantile_cont(gap_s, 0.9) as p90_s,
       cast(sum(gap_us) as bigint) / count(*) / 1000000.0 as mean_s
from base
group by dow
"""


def _sql_udf_buckets_sql() -> str:
    from .sql_api import N_HASH_BUCKETS

    h = _h60("cast(user_id as varchar)")
    return f"""
select ({h}) % {N_HASH_BUCKETS} as bucket,
       count(*) as n_events,
       count(distinct user_id) as n_users
from events
group by 1
"""


SQL_UDF_USER_BUCKETS = _sql_udf_buckets_sql()


EVENTS_RETENTION_RATE = f"""
with m as ({EVENTS_RETENTION}),
base as (
    select cohort_week, n_users as cohort_size from m where week_offset = 0
)
select m.cohort_week, m.week_offset, m.n_users, b.cohort_size,
       m.n_users / b.cohort_size as rate
from m join base b using (cohort_week)
"""


DOCUMENTS_SOURCE_MIX = """
with cell as (
    select source, lang, count(*) as n_docs,
           cast(sum(len(string_split(text, ' '))) as bigint) as n_tokens
    from documents group by 1, 2
),
per_source as (
    select source, cast(sum(n_docs) as bigint) as src_docs from cell group by 1
)
select c.source, c.lang, c.n_docs, c.n_tokens,
       c.n_docs / p.src_docs as doc_share
from cell c join per_source p using (source)
"""


# --- star-schema rollup (operators/analytics.py:sales_by_region_quarter) ---

SALES_BY_REGION_QUARTER = """
select r.r_name as region_name,
       cast(year(o.o_orderdate) as bigint) as year,
       cast(quarter(o.o_orderdate) as bigint) as quarter,
       count(*) as n_orders,
       cast(count(distinct o.o_custkey) as bigint) as n_customers,
       cast(sum(cast(round(o.o_totalprice * 100) as bigint)) as bigint)
           as revenue_cents
from orders o
join customer c on o.o_custkey = c.c_custkey
join nation n on c.c_nationkey = n.n_nationkey
join region r on n.n_regionkey = r.r_regionkey
group by r.r_name, year(o.o_orderdate), quarter(o.o_orderdate)
"""


def _stream_cms_sql() -> str:
    from .operators.events import CMS_DEPTH, CMS_WIDTH

    cell = _h60("d::varchar || '|' || uid") + f" % {CMS_WIDTH}"
    return f"""
with ev as (select user_id::varchar as uid from events),
ds as (select unnest(generate_series(0, {CMS_DEPTH - 1})) as d)
select cast(d as bigint) as d, {cell} as cell, count(*) as c
from ev cross join ds
group by d, cell
"""


# the drained streaming sketch equals the batch-built cell table
EVENTS_STREAM_CMS = _stream_cms_sql()


def _dedup_recall_eval_sql() -> str:
    from .operators.dedup import POOL_TRUTH_JACCARD

    return f"""
with fam as (
    select 'ngram' as family, doc_a, doc_b from ({DEDUP_NGRAM_JACCARD_CAPPED})
    union all
    select 'minhash' as family, doc_a, doc_b from ({DEDUP_MINHASH_LSH})
    union all
    select 'simhash' as family, doc_a, doc_b from ({DEDUP_SIMHASH})
    union all
    select 'edit' as family, doc_a, doc_b from ({DEDUP_EDIT_DISTANCE})
),
pool as (select distinct doc_a, doc_b from fam),
docs2 as (select doc_id, {_NORM} as norm from documents),
sh2 as (
    select doc_id,
           list_distinct(list_transform({_SHINGLES}, s -> {_h60('s')})) as hs
    from docs2
),
truth as (
    select p.doc_a, p.doc_b
    from pool p
    join sh2 a on a.doc_id = p.doc_a
    join sh2 b on b.doc_id = p.doc_b
    where len(list_intersect(a.hs, b.hs))
            / len(list_distinct(a.hs || b.hs)) >= {POOL_TRUTH_JACCARD}
),
t as (select count(*) as n_truth from truth),
stats as (select family, count(*) as n_found from fam group by family),
hits as (
    select f.family, count(*) as n_hit
    from fam f join truth tr on f.doc_a = tr.doc_a and f.doc_b = tr.doc_b
    group by f.family
),
fams as (select unnest(['ngram', 'minhash', 'simhash', 'edit']) as family)
select fams.family,
       cast(t.n_truth as bigint) as n_truth,
       cast(coalesce(s.n_found, 0) as bigint) as n_found,
       cast(coalesce(h.n_hit, 0) as bigint) as n_hit,
       case when t.n_truth > 0
            then coalesce(h.n_hit, 0) / cast(t.n_truth as double) end as recall,
       case when coalesce(s.n_found, 0) > 0
            then coalesce(h.n_hit, 0) / cast(s.n_found as double) end
           as pool_precision
from fams
cross join t
left join stats s on s.family = fams.family
left join hits h on h.family = fams.family
"""


DEDUP_RECALL_EVAL = _dedup_recall_eval_sql()


# --- share-of-segment report (operators/analytics.py:supplier_nation_share)

SUPPLIER_NATION_SHARE = """
with per_supp as (
    select l_suppkey,
           cast(sum(cast(round(l_extendedprice * (1.0 - l_discount) * 100)
                         as bigint)) as bigint) as revenue_cents
    from lineitem
    group by l_suppkey
)
select n.n_name as nation_name,
       s.s_name as supplier_name,
       p.revenue_cents,
       p.revenue_cents
         / cast(sum(p.revenue_cents)
                    over (partition by n.n_name) as double) as nation_share,
       cast(row_number() over (
           partition by n.n_name
           order by p.revenue_cents desc, s.s_suppkey asc) as bigint)
           as nation_rank
from per_supp p
join supplier s on p.l_suppkey = s.s_suppkey
join nation n on s.s_nationkey = n.n_nationkey
"""


def _dedup_windowed_sql() -> str:
    from .operators.analytics import DEBOUNCE_SECONDS

    sec = "floor(epoch(ts))::bigint"
    lag = (
        f"lag({sec}) over (partition by user_id, event_type"
        " order by ts, event_id)"
    )
    return f"""
with e as (select event_id, user_id, event_type, ts, value from events),
g as (
    select *,
           case when {sec} - {lag} is null
                  or {sec} - {lag} > {DEBOUNCE_SECONDS}
                then 1 else 0 end as brk
    from e
),
b as (
    select *,
           cast(sum(brk) over (partition by user_id, event_type
                               order by ts, event_id
                               rows unbounded preceding) as bigint) as burst
    from g
),
r as (
    select *, row_number() over (partition by user_id, event_type, burst
                                 order by ts, event_id) as rn
    from b
)
select event_id, user_id, event_type, ts, value from r where rn = 1
"""


EVENTS_DEDUP_WINDOWED = _dedup_windowed_sql()

CORPUS_DUP_INFLATION = f"""
with d as (
    select doc_id, md5({_NORM}) as fp,
           cast(len(string_split(lower(text), ' ')) as bigint) as nt
    from documents
),
canon as (select fp, min(doc_id) as canonical_doc_id from d group by fp),
j as (
    select d.*, d.doc_id != c.canonical_doc_id as is_dup
    from d join canon c on d.fp = c.fp
)
select count(*) as n_docs,
       cast(sum(case when is_dup then 1 else 0 end) as bigint) as n_dup_docs,
       cast(sum(nt) as bigint) as total_tokens,
       cast(sum(case when is_dup then nt else 0 end) as bigint) as dup_tokens,
       sum(case when is_dup then nt else 0 end)
         / cast(sum(nt) as double) as dup_token_frac
from j
"""


# --- classic warehouse-benchmark shapes (operators/tpch_shapes.py) ---------
# Money arithmetic mirrors the engine's fixed-point discipline: integer
# cents / percent products summed exactly, one IEEE division per ratio.
# DuckDB sum(bigint) widens to HUGEINT (renders as pandas object/float),
# so every sum is cast back to bigint before leaving the query.


def _tpch_shape_sqls() -> dict:
    from .operators.tpch_shapes import (
        BASKET_MAX_ORDER_ITEMS,
        BASKET_MIN_SUPPORT,
        PRICING_CUTOFF,
        UNSHIPPED_DATE,
    )

    pricing = f"""
with li as (
    select l_returnflag, l_linestatus,
           cast(l_quantity as bigint) as qty,
           cast(round(l_extendedprice * 100) as bigint) as cents,
           cast(round(l_discount * 100) as bigint) as d,
           cast(round(l_tax * 100) as bigint) as t
    from lineitem
    where cast(l_shipdate as date) <= date '{PRICING_CUTOFF}'
)
select l_returnflag, l_linestatus,
       cast(sum(qty) as bigint) as sum_qty,
       cast(sum(cents) as bigint) as sum_base_cents,
       cast(sum(cents * (100 - d)) as bigint) as sum_disc_price_e4,
       cast(sum(cents * (100 - d) * (100 + t)) as bigint) as sum_charge_e6,
       cast(sum(qty) as bigint) / count(*) as avg_qty,
       cast(sum(cents) as bigint) / count(*) as avg_price_cents,
       count(*) as count_order
from li group by l_returnflag, l_linestatus
"""

    top_unshipped = f"""
with cust as (select c_custkey from customer where c_mktsegment = 'BUILDING'),
o as (
    select o_orderkey, o_orderdate, o_orderpriority
    from orders join cust on o_custkey = c_custkey
    where cast(o_orderdate as date) < date '{UNSHIPPED_DATE}'
),
li as (
    select l_orderkey,
           cast(round(l_extendedprice * 100) as bigint)
             * (100 - cast(round(l_discount * 100) as bigint)) as rev_e4
    from lineitem where cast(l_shipdate as date) > date '{UNSHIPPED_DATE}'
)
select o.o_orderkey, o.o_orderdate, o.o_orderpriority,
       cast(sum(li.rev_e4) as bigint) as revenue_e4
from li join o on li.l_orderkey = o.o_orderkey
group by o.o_orderkey, o.o_orderdate, o.o_orderpriority
order by revenue_e4 desc, o_orderdate asc, o_orderkey asc
limit 10
"""

    min_cost = """
with offers as (
    select l_partkey, l_suppkey,
           cast(min(cast(round(l_extendedprice * 100) as bigint)) as bigint)
               as best_cents
    from lineitem group by l_partkey, l_suppkey
),
best as (
    select * from (
        select *, row_number() over (
            partition by l_partkey order by best_cents asc, l_suppkey asc) as rn
        from offers) where rn = 1
)
select b.l_partkey as p_partkey, p.p_name, s.s_name,
       n.n_name as nation_name, b.best_cents
from best b
join part p on b.l_partkey = p.p_partkey
join supplier s on b.l_suppkey = s.s_suppkey
join nation n on s.s_nationkey = n.n_nationkey
"""

    basket = f"""
with li as (select distinct l_orderkey as o, l_partkey as p from lineitem),
ok as (select o from li group by o having count(*) <= {BASKET_MAX_ORDER_ITEMS}),
k as (select li.* from li join ok using (o)),
nb as (select count(distinct o) as n from k),
item as (select p, count(*) as n_item from k group by p),
pairs as (
    select a.p as part_a, b.p as part_b, count(*) as n_ab
    from k a join k b on a.o = b.o and a.p < b.p
    group by a.p, b.p having count(*) >= {BASKET_MIN_SUPPORT}
)
select part_a, part_b,
       cast(n_ab as bigint) as n_ab,
       cast(ia.n_item as bigint) as n_a,
       cast(ib.n_item as bigint) as n_b,
       n_ab / ia.n_item as conf_a_to_b,
       n_ab / ib.n_item as conf_b_to_a,
       n_ab * nb.n / (ia.n_item * ib.n_item) as lift
from pairs
join item ia on ia.p = part_a
join item ib on ib.p = part_b
cross join nb
"""
    return {
        "pricing": pricing,
        "top_unshipped": top_unshipped,
        "min_cost": min_cost,
        "basket": basket,
    }


_TPCH_SHAPES = _tpch_shape_sqls()
LINEITEM_PRICING_SUMMARY = _TPCH_SHAPES["pricing"]
ORDERS_TOP_REVENUE_UNSHIPPED = _TPCH_SHAPES["top_unshipped"]
PART_MIN_COST_SUPPLIER = _TPCH_SHAPES["min_cost"]
ORDERS_BASKET_RULES = _TPCH_SHAPES["basket"]


def _language_balance_sql() -> str:
    from .operators.llm_prep import BALANCE_RESOLUTION

    r = BALANCE_RESOLUTION
    return f"""
with c as (select lang, count(*) as n from documents group by lang),
t as (select min(n) as target from c),
thr as (select lang, ({r} * t.target) // c.n as thr from c cross join t)
select d.doc_id, d.lang, d.source, d.n_chars
from documents d join thr using (lang)
where {_h60("d.doc_id::varchar")} % {r} < thr.thr
"""


CORPUS_LANGUAGE_BALANCE = _language_balance_sql()


def _truncation_recall_sql(k: int = 5, probe_mod: int = 100) -> str:
    from .operators.similarity import TRUNC_DIMS

    def topk_at(d: int) -> str:
        a, b = f"(p.qe[1:{d}])", f"(emb.e[1:{d}])"
        return f"""
    select query_id, neighbor_id from (
        select p.query_id, emb.vec_id as neighbor_id,
               row_number() over (
                   partition by p.query_id
                   order by {_cos(a, b)} desc, emb.vec_id) as rank
        from emb cross join probes p
        where emb.vec_id != p.query_id
    ) where rank <= {k}
"""

    fam_union = "\n    union all\n".join(
        f"    select {d} as n_dims, * from ({topk_at(d)})" for d in TRUNC_DIMS
    )
    dims_list = ", ".join(str(d) for d in TRUNC_DIMS)
    return f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
probes as (select vec_id as query_id, e as qe from emb where vec_id % {probe_mod} = 0),
exact as (
    select query_id, neighbor_id from (
        select p.query_id, emb.vec_id as neighbor_id,
               row_number() over (
                   partition by p.query_id
                   order by {_cos('p.qe', 'emb.e')} desc, emb.vec_id) as rank
        from emb cross join probes p
        where emb.vec_id != p.query_id
    ) where rank <= {k}
),
base as (select query_id, count(*) as n_exact from exact group by query_id),
fam as (
{fam_union}
),
hits as (
    select f.n_dims, e.query_id, count(*) as n_hits
    from exact e
    join fam f on e.query_id = f.query_id and e.neighbor_id = f.neighbor_id
    group by f.n_dims, e.query_id
),
dims as (select unnest([{dims_list}]) as n_dims)
select cast(dims.n_dims as bigint) as n_dims, b.query_id, b.n_exact,
       cast(coalesce(h.n_hits, 0) as bigint) as n_hits,
       coalesce(h.n_hits, 0) / b.n_exact as recall
from dims
cross join base b
left join hits h on h.n_dims = dims.n_dims and h.query_id = b.query_id
"""


EMBEDDING_TRUNCATION_RECALL = _truncation_recall_sql()


def _jaccard_exact_join_sql(threshold: float = 0.8) -> str:
    """Prefix-filter mirror: same (df, tok) rarest-first total order,
    same prefix length |s| - ceil(t*|s|) + 1, same exact-Jaccard verify."""
    return (
        _SHINGLE_CTES
        + f""",
post as (select doc_id, unnest(hs) as tok from sh),
dfreq as (select tok, count(*) as df from post group by tok),
ranked as (
    select doc_id, list(p.tok order by d.df, p.tok) as toks, count(*) as n
    from post p join dfreq d using (tok)
    group by doc_id
),
prefixes as (
    select doc_id, n, unnest(toks[1 : cast(n - ceil(n * {threshold}) + 1 as int)]) as tok
    from ranked
),
cands as (
    select distinct a.doc_id as doc_a, b.doc_id as doc_b
    from prefixes a join prefixes b
      on a.tok = b.tok and a.doc_id < b.doc_id
     and least(a.n, b.n) >= greatest(a.n, b.n) * {threshold}
)
select c.doc_a, c.doc_b,
       len(list_intersect(sa.hs, sb.hs))
         / len(list_distinct(sa.hs || sb.hs)) as jaccard
from cands c
join sh sa on sa.doc_id = c.doc_a
join sh sb on sb.doc_id = c.doc_b
where len(list_intersect(sa.hs, sb.hs))
        / len(list_distinct(sa.hs || sb.hs)) >= {threshold}
"""
    )


DEDUP_JACCARD_EXACT_JOIN = _jaccard_exact_join_sql()


def _tpch_subquery_shape_sqls() -> dict:
    from .operators.tpch_shapes import (
        LAPSED_CUTOFF,
        LARGE_VOLUME_MIN_QTY,
        LATE_SHIP_DAYS,
    )

    small_qty = """
with li as (
    select l_partkey,
           cast(l_quantity as bigint) as qty,
           cast(round(l_extendedprice * 100) as bigint) as cents
    from lineitem
),
per_part as (
    select l_partkey, sum(qty) as sum_qty, count(*) as n_li
    from li group by l_partkey
)
select p.p_brand,
       count(*) as n_small_lines,
       cast(sum(li.cents) as bigint) as small_rev_cents
from li
join per_part pp using (l_partkey)
join part p on p.p_partkey = li.l_partkey
where li.qty * 5 * pp.n_li < pp.sum_qty
group by p.p_brand
"""

    large_volume = f"""
with per_order as (
    select l_orderkey, cast(sum(cast(l_quantity as bigint)) as bigint) as total_qty
    from lineitem group by l_orderkey
    having sum(cast(l_quantity as bigint)) >= {LARGE_VOLUME_MIN_QTY}
)
select c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, po.total_qty
from per_order po
join orders o on o.o_orderkey = po.l_orderkey
join customer c on c.c_custkey = o.o_custkey
"""

    idle_rich = f"""
with cust as (
    select c_custkey, c_nationkey,
           cast(round(c_acctbal * 100) as bigint) as bal_cents
    from customer
),
pos as (
    select sum(bal_cents) as sum_pos, count(*) as n_pos
    from cust where bal_cents > 0
),
recent as (
    select distinct o_custkey from orders
    where cast(o_orderdate as date) >= date '{LAPSED_CUTOFF}'
)
select n.n_name as nation_name,
       count(*) as n_cust,
       cast(sum(c.bal_cents) as bigint) as sum_bal_cents
from cust c cross join pos
join nation n on n.n_nationkey = c.c_nationkey
where c.bal_cents * pos.n_pos > pos.sum_pos
  and not exists (select 1 from recent r where r.o_custkey = c.c_custkey)
group by n.n_name
"""
    late_ship = f"""
select o.o_orderpriority, count(*) as n_orders
from orders o
where exists (
    select 1 from lineitem l
    where l.l_orderkey = o.o_orderkey
      and cast(l.l_shipdate as date)
            > cast(o.o_orderdate as date) + cast({LATE_SHIP_DAYS} as integer)
)
group by o.o_orderpriority
"""
    return {
        "small_qty": small_qty,
        "large_volume": large_volume,
        "idle_rich": idle_rich,
        "late_ship": late_ship,
    }


_TPCH_SUBQ = _tpch_subquery_shape_sqls()
PART_SMALL_QTY_REVENUE = _TPCH_SUBQ["small_qty"]
ORDERS_LARGE_VOLUME = _TPCH_SUBQ["large_volume"]
CUSTOMERS_IDLE_HIGH_BALANCE = _TPCH_SUBQ["idle_rich"]
ORDERS_PRIORITY_LATE_SHIP = _TPCH_SUBQ["late_ship"]


def _pagerank_sql() -> str:
    """Unrolled power iteration mirroring parts_copurchase_pagerank:
    same edge construction as the triangles oracle, symmetrized; every
    float literal is e0-suffixed so DuckDB evaluates in IEEE doubles
    (bare decimals parse as DECIMAL and would divide differently —
    though the delta sits far below the 6-dp hash rounding anyway)."""
    from .operators.graph import (
        PAGERANK_DAMPING,
        PAGERANK_ITERS,
        TRI_MAX_ORDER_ITEMS,
    )

    d = f"{PAGERANK_DAMPING}e0"
    steps = []
    for k in range(1, PAGERANK_ITERS + 1):
        steps.append(
            f"""it{k} as (
    select s.dst as node,
           (1.0e0 - {d}) / (select n from nn)
             + {d} * sum(r."rank" / g.deg) as "rank"
    from sym s
    join it{k - 1} r on r.node = s.src
    join deg g on g.src = s.src
    group by s.dst
)"""
        )
    joined_steps = ",\n".join(steps)
    return f"""
with li as (select distinct l_orderkey as o, l_partkey as p from lineitem),
ok as (select o from li group by o having count(*) <= {TRI_MAX_ORDER_ITEMS}),
li2 as (select li.* from li join ok using (o)),
edges as (
    select distinct a.p as x, b.p as y
    from li2 a join li2 b on a.o = b.o and a.p < b.p
),
sym as (select x as src, y as dst from edges
        union all
        select y as src, x as dst from edges),
deg as (select src, count(*) as deg from sym group by src),
nn as (select count(*) as n from deg),
it0 as (select src as node, 1.0e0 / (select n from nn) as "rank" from deg),
{joined_steps}
select r.node as part_id, g.deg as degree, r."rank" as rank
from it{PAGERANK_ITERS} r join deg g on g.src = r.node
"""


PARTS_COPURCHASE_PAGERANK = _pagerank_sql()


def _bpe_chain_ctes() -> str:
    """The shared unrolled-BPE CTE prefix (words → rep0 → pairsK/bestK/
    repK): same double-space-gap string representation, same replace()
    rewrite, same (freq desc, lhs, rhs) total tiebreak as the Spark
    loop.  DuckDB notes: parallel unnest zips positionally (the
    posexplode mirror); sum(bigint) → HUGEINT so the pair count is cast
    back."""
    from .operators.llm_prep import BPE_MERGES

    blocks = []
    for k in range(1, BPE_MERGES + 1):
        blocks.append(
            f"""pairs{k} as (
    select freq,
           unnest(syms[1:len(syms) - 1]) as lhs,
           unnest(syms[2:len(syms)]) as rhs
    from (select freq, string_split(trim(s), '  ') as syms from rep{k - 1})
),
best{k} as (
    select {k} as step, lhs, rhs,
           cast(sum(freq) as bigint) as pair_freq
    from pairs{k}
    group by lhs, rhs
    order by pair_freq desc, lhs, rhs
    limit 1
),
rep{k} as (
    select r.w, r.freq,
           replace(r.s, ' ' || b.lhs || '  ' || b.rhs || ' ',
                        ' ' || b.lhs || b.rhs || ' ') as s
    from rep{k - 1} r cross join best{k} b
)"""
        )
    joined_blocks = ",\n".join(blocks)
    return f"""
with words as (
    select w, count(*) as freq
    from (select unnest(string_split(lower(text), ' ')) as w from documents)
    where w <> ''
    group by w
),
rep0 as (
    select w, freq,
           '  ' || array_to_string(regexp_extract_all(w, '.'), '  ') || '  ' as s
    from words
),
{joined_blocks}"""


def _bpe_merges_sql() -> str:
    from .operators.llm_prep import BPE_MERGES

    union = "\nunion all\n".join(
        f"select * from best{k}" for k in range(1, BPE_MERGES + 1)
    )
    return f"""{_bpe_chain_ctes()}
select step, lhs, rhs, lhs || rhs as merged, pair_freq
from ({union})
"""


CORPUS_BPE_MERGES = _bpe_merges_sql()


def _bpe_encode_sql() -> str:
    from .operators.llm_prep import BPE_MERGES

    return f"""{_bpe_chain_ctes()},
word_tok as (
    select w, len(string_split(trim(s), '  ')) as n_tok from rep{BPE_MERGES}
),
doc_words as (
    select doc_id, length(text) as n_chars,
           unnest(string_split(lower(text), ' ')) as w
    from documents
)
select d.doc_id,
       cast(count(*) as bigint) as n_words,
       cast(sum(t.n_tok) as bigint) as n_bpe_tokens,
       max(d.n_chars) / cast(sum(t.n_tok) as bigint) as compression
from doc_words d join word_tok t using (w)
where d.w <> ''
group by d.doc_id
"""


CORPUS_BPE_ENCODE = _bpe_encode_sql()


def _kmv_distinct_sql() -> str:
    """Register-exact KMV mirror: same hash, same two-level window
    retake, same single-division estimate (numerator as the repr of the
    exactly-representable double — 63·2⁶⁰ overflows bigint)."""
    from .operators.events import KMV_K, KMV_SPACE

    numer = repr(float((KMV_K - 1) * KMV_SPACE))
    return f"""
with ev as (
    select distinct event_type, cast(ts as date) as day,
           {_h60('user_id::varchar')} as h
    from events
),
partials as (
    select event_type, h from (
        select event_type, day, h,
               row_number() over (partition by event_type, day order by h) as rn
        from ev
    ) where rn <= {KMV_K}
),
merged as (
    select event_type, h from (
        select event_type, h,
               row_number() over (partition by event_type order by h) as rn
        from (select distinct event_type, h from partials)
    ) where rn <= {KMV_K}
),
sk as (
    select event_type, count(*) as n_kept, max(h) as kth_hash
    from merged group by event_type
),
exact as (
    select event_type, count(distinct user_id) as exact_distinct_users
    from events group by event_type
)
select s.event_type,
       cast(s.n_kept as bigint) as n_kept,
       s.kth_hash,
       case when s.n_kept < {KMV_K} then cast(s.n_kept as double)
            else {numer} / s.kth_hash end as est_distinct_users,
       e.exact_distinct_users
from sk s join exact e using (event_type)
"""


EVENTS_KMV_DISTINCT = _kmv_distinct_sql()


def _ewma_daily_sql() -> str:
    from .operators.timeseries import EWMA_LOOKBACK_DAYS

    return f"""
with daily as (
    select event_type, cast(ts as date) as day, count(*) as n
    from events group by event_type, cast(ts as date)
)
select a.event_type, a.day,
       cast(max(case when a.day = b.day then b.n end) as bigint) as n_events,
       sum(b.n * pow(0.5e0, date_diff('day', b.day, a.day)))
         / sum(pow(0.5e0, date_diff('day', b.day, a.day))) as ewma
from daily a
join daily b
  on b.event_type = a.event_type
 and date_diff('day', b.day, a.day) >= 0
 and date_diff('day', b.day, a.day) < {EWMA_LOOKBACK_DAYS}
group by a.event_type, a.day
"""


EVENTS_EWMA_DAILY = _ewma_daily_sql()


def _stream_kmv_sql() -> str:
    """The drained streaming KMV equals one global k-minimum pass (the
    merge theorem) — so the oracle is the batch SQL minus the daily
    level and the exact column."""
    from .operators.events import KMV_K, KMV_SPACE

    numer = repr(float((KMV_K - 1) * KMV_SPACE))
    return f"""
with ev as (
    select distinct event_type, {_h60('user_id::varchar')} as h from events
),
merged as (
    select event_type, h from (
        select event_type, h,
               row_number() over (partition by event_type order by h) as rn
        from ev
    ) where rn <= {KMV_K}
),
sk as (
    select event_type, count(*) as n_kept, max(h) as kth_hash
    from merged group by event_type
)
select event_type,
       cast(n_kept as bigint) as n_kept,
       kth_hash,
       case when n_kept < {KMV_K} then cast(n_kept as double)
            else {numer} / kth_hash end as est_distinct_users
from sk
"""


EVENTS_STREAM_KMV = _stream_kmv_sql()


def _attribution_linear_sql() -> str:
    from .operators.events import (
        ATTRIBUTION_TOUCH_TYPES,
        ATTRIBUTION_WINDOW_DAYS,
    )

    types = ", ".join(f"'{t}'" for t in ATTRIBUTION_TOUCH_TYPES)
    win_us = ATTRIBUTION_WINDOW_DAYS * 86_400_000_000
    return f"""
with p as (
    select event_id as pid, user_id as pu, epoch_us(ts) as pus
    from events where event_type = 'purchase'
),
t as (
    select user_id, event_type, epoch_us(ts) as tus
    from events where event_type in ({types})
),
j as (
    select p.pid, t.event_type
    from p join t
      on t.user_id = p.pu
     and t.tus <= p.pus
     and t.tus > p.pus - {win_us}
),
n as (select pid, count(*) as np from j group by pid)
select j.event_type,
       cast(count(*) as bigint) as n_touches,
       sum(1.0e0 / n.np) as attributed_purchases
from j join n using (pid)
group by j.event_type
"""


EVENTS_ATTRIBUTION_LINEAR = _attribution_linear_sql()


def _attribution_time_decay_sql() -> str:
    """Mirror of events_attribution_time_decay: identical join band,
    integer floor-division age, dyadic weight via 1::bigint << age
    (both engines exact), per-purchase weight sum, one division per
    touch (exact-over-exact, correctly rounded both engines)."""
    from .operators.events import (
        ATTRIBUTION_TOUCH_TYPES,
        ATTRIBUTION_WINDOW_DAYS,
    )

    types = ", ".join(f"'{t}'" for t in ATTRIBUTION_TOUCH_TYPES)
    win_us = ATTRIBUTION_WINDOW_DAYS * 86_400_000_000
    return f"""
with p as (
    select event_id as pid, user_id as pu, epoch_us(ts) as pus
    from events where event_type = 'purchase'
),
t as (
    select user_id, event_type, epoch_us(ts) as tus
    from events where event_type in ({types})
),
j as (
    select p.pid, t.event_type,
           1.0e0 / (1::bigint << cast((p.pus - t.tus) // 86400000000 as int))
             as wt
    from p join t
      on t.user_id = p.pu
     and t.tus <= p.pus
     and t.tus > p.pus - {win_us}
),
n as (select pid, sum(wt) as wsum from j group by pid)
select j.event_type,
       cast(count(*) as bigint) as n_touches,
       sum(j.wt / n.wsum) as attributed_purchases
from j join n using (pid)
group by j.event_type
"""


EVENTS_ATTRIBUTION_TIME_DECAY = _attribution_time_decay_sql()


def _source_cap_sql() -> str:
    """Mirror of corpus_source_cap: the proven TEXT_QUALITY CTE and a
    QUALIFY row_number over the identical (quality desc, doc_id) key."""
    from .operators.llm_prep import SOURCE_CAP

    return f"""
with q as ({TEXT_QUALITY})
select d.source, d.doc_id, q.quality_score,
       row_number() over (
           partition by d.source
           order by q.quality_score desc, d.doc_id
       ) as source_rank
from documents d join q using (doc_id)
qualify source_rank <= {SOURCE_CAP}
"""


CORPUS_SOURCE_CAP = _source_cap_sql()


def _quality_sweep_sql() -> str:
    """Mirror of corpus_quality_sweep: the proven TEXT_QUALITY CTE,
    floor(score*10) bucketing clamped at the grid top, a generate_series
    threshold spine with the b >= k reverse-cumulative range join, and
    shares off the k=0 totals."""
    from .operators.llm_prep import QUALITY_SWEEP_STEPS as S

    return f"""
with q as ({TEXT_QUALITY}),
b as (
    select least(cast(floor(quality_score * 10) as int), {S}) as b,
           cast(count(*) as bigint) as docs,
           cast(sum(n_tokens) as bigint) as toks
    from q group by 1
),
grid as (select unnest(generate_series(0, {S})) as k),
retained as (
    select g.k,
           cast(coalesce(sum(b.docs), 0) as bigint) as docs_retained,
           cast(coalesce(sum(b.toks), 0) as bigint) as tokens_retained
    from grid g left join b on b.b >= g.k
    group by g.k
),
tot as (
    select cast(sum(docs) as bigint) as td, cast(sum(toks) as bigint) as tt
    from b
)
select cast(r.k as double) / 10.0e0 as threshold,
       r.docs_retained,
       r.tokens_retained,
       round(r.docs_retained / t.td, 6) as docs_share,
       round(r.tokens_retained / t.tt, 6) as token_share
from retained r cross join tot t
order by threshold
"""


CORPUS_QUALITY_SWEEP = _quality_sweep_sql()


EVENTS_WEEKDAY_PROFILE = """
with daily as (
    select event_type, cast(ts as date) as day, count(*) as n
    from events group by event_type, cast(ts as date)
),
by_dow as (
    select event_type, cast(isodow(day) as int) as iso_weekday,
           cast(count(*) as bigint) as n_days,
           cast(sum(n) as bigint) as total_events,
           cast(sum(n) as bigint) / count(*) as avg_daily
    from daily group by event_type, isodow(day)
)
select event_type, iso_weekday, n_days, total_events, avg_daily,
       total_events / cast(sum(total_events) over (partition by event_type)
                           as bigint) as share
from by_dow
"""


def _negative_samples_sql() -> str:
    from .operators.similarity import NEG_K, NEG_SAMPLE_MOD

    pair_h = _h60("pr.query_id::varchar || '|' || pr.vec_id::varchar")
    cos = (
        "list_sum(list_transform(generate_series(1, len({e})), i -> {q}[i] * {e}[i]))"
        " / (sqrt(list_sum(list_transform({q}, x -> x*x)))"
        "    * sqrt(list_sum(list_transform({e}, x -> x*x))))"
    )
    return f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
probes as (select vec_id as query_id, e as qe from emb where vec_id % 100 = 0),
scored as (
    select p.query_id, emb.vec_id as neighbor_id,
           {cos.format(e='emb.e', q='p.qe')} as cos
    from emb cross join probes p
    where emb.vec_id != p.query_id
),
pos as (
    select query_id, neighbor_id, cos,
           row_number() over (partition by query_id order by cos desc, neighbor_id) as rank
    from scored
    qualify rank <= 5
),
cand as (
    select vec_id, e from emb
    where {_h60('vec_id::varchar')} % {NEG_SAMPLE_MOD} = 0
),
pairs as (
    select p.query_id, c.vec_id, p.qe, c.e
    from cand c cross join probes p
    where c.vec_id != p.query_id
),
nonpos as (
    select pr.* from pairs pr
    where not exists (select 1 from pos
                      where pos.query_id = pr.query_id
                        and pos.neighbor_id = pr.vec_id)
),
negs as (
    select pr.query_id, pr.vec_id,
           row_number() over (partition by pr.query_id
                              order by {pair_h}, pr.vec_id) as rn,
           {cos.format(e='pr.e', q='pr.qe')} as cos
    from nonpos pr
    qualify rn <= {NEG_K}
)
select query_id, neighbor_id as vec_id, 'positive' as role,
       cast(rank as bigint) as rank, round(cos, 6) as cos
from pos
union all
select query_id, vec_id, 'negative' as role,
       cast(rn as bigint) as rank, round(cos, 6) as cos
from negs
"""


EMBEDDING_NEGATIVE_SAMPLES = _negative_samples_sql()


NATION_LOCAL_SUPPLIER_REVENUE = """
select n.n_name as nation_name,
       cast(count(*) as bigint) as n_lineitems,
       cast(sum(cast(round(l.l_extendedprice * 100) as bigint)
                * (100 - cast(round(l.l_discount * 100) as bigint)))
            as bigint) as revenue_e4
from lineitem l
join orders o on o.o_orderkey = l.l_orderkey
join customer c on c.c_custkey = o.o_custkey
join supplier s on s.s_suppkey = l.l_suppkey
               and s.s_nationkey = c.c_nationkey
join nation n on n.n_nationkey = s.s_nationkey
group by n.n_name
"""


def _returned_revenue_sql() -> str:
    from .operators.tpch_shapes import RETURNED_TOP_K

    return f"""
with per_cust as (
    select o.o_custkey as c_custkey,
           cast(count(*) as bigint) as n_returned_items,
           cast(sum(cast(round(l.l_extendedprice * 100) as bigint)
                    * (100 - cast(round(l.l_discount * 100) as bigint)))
                as bigint) as returned_rev_e4
    from lineitem l
    join orders o on o.o_orderkey = l.l_orderkey
    where l.l_returnflag = 'R'
    group by o.o_custkey
)
select p.c_custkey, c.c_name, n.n_name as nation_name,
       p.n_returned_items, p.returned_rev_e4
from per_cust p
join customer c on c.c_custkey = p.c_custkey
join nation n on n.n_nationkey = c.c_nationkey
order by p.returned_rev_e4 desc, p.c_custkey
limit {RETURNED_TOP_K}
"""


CUSTOMERS_RETURNED_REVENUE = _returned_revenue_sql()


def _tpch_remaining_shape_sqls() -> dict:
    """Oracles for the 12 shapes that complete the canonical warehouse
    family (tpch_shapes.py Q6/7/8/9/11/12/13/14/15/16/19/20/21
    adaptations).  Dialect-parity notes: every final integer sum is
    cast to bigint (DuckDB sums ints into HUGEINT), year()/size ints
    cast to int to match Spark's 32-bit extracts, and month/quarter
    bounds are precomputed as Python date literals so no engine's
    interval arithmetic enters the query."""
    from datetime import date, timedelta

    from .operators.tpch_shapes import (
        DIST_EXCLUDED_PRIORITY,
        DIVERSITY_EXCL_BRAND,
        DIVERSITY_EXCL_TYPE,
        DIVERSITY_SIZES,
        EXCESS_NAME_WORD,
        EXCESS_SHARE_MULT,
        FORECAST_DISC_HI,
        FORECAST_DISC_LO,
        FORECAST_MAX_QTY,
        FORECAST_YEAR,
        LATE_MODE_DAYS,
        MKT_SHARE_NATION,
        MKT_SHARE_REGION,
        MKT_SHARE_TYPE,
        PROFIT_NAME_WORD,
        TOP_SUPPLIER_QUARTER,
        VALUE_FRACTION_DEN,
        VALUE_NATION,
        VOLUME_NATION_A,
        VOLUME_NATION_B,
        WAITING_LATE_DAYS,
    )

    def _add_months(iso: str, m: int) -> str:
        y, mo, d = map(int, iso.split("-"))
        mo0 = mo - 1 + m
        return date(y + mo0 // 12, mo0 % 12 + 1, d).isoformat()

    cents = "cast(round(l_extendedprice * 100) as bigint)"
    pct = "cast(round(l_discount * 100) as bigint)"
    rev_e4 = f"{cents} * (100 - {pct})"

    forecast = f"""
select count(*) as n_lines,
       cast(sum({cents} * {pct}) as bigint) as forecast_rev_e4
from lineitem
where cast(l_shipdate as date) >= date '{FORECAST_YEAR}'
  and cast(l_shipdate as date) < date '{_add_months(FORECAST_YEAR, 12)}'
  and {pct} between {FORECAST_DISC_LO} and {FORECAST_DISC_HI}
  and cast(l_quantity as bigint) < {FORECAST_MAX_QTY}
"""

    volume = f"""
with pair as (select n_nationkey, n_name from nation
              where n_name in ('{VOLUME_NATION_A}', '{VOLUME_NATION_B}'))
select ps.n_name as supp_nation,
       pc.n_name as cust_nation,
       cast(year(cast(l.l_shipdate as date)) as int) as ship_year,
       count(*) as n_lines,
       cast(sum({rev_e4}) as bigint) as revenue_e4
from lineitem l
join orders o on o.o_orderkey = l.l_orderkey
join supplier s on s.s_suppkey = l.l_suppkey
join pair ps on ps.n_nationkey = s.s_nationkey
join customer c on c.c_custkey = o.o_custkey
join pair pc on pc.n_nationkey = c.c_nationkey
where ps.n_name != pc.n_name
group by ps.n_name, pc.n_name, year(cast(l.l_shipdate as date))
"""

    mkt_share = f"""
with mkt_cust as (
    select c_custkey from customer c
    join nation n on n.n_nationkey = c.c_nationkey
    join region r on r.r_regionkey = n.n_regionkey
    where r.r_name = '{MKT_SHARE_REGION}'
)
select cast(year(cast(o.o_orderdate as date)) as int) as o_year,
       cast(sum({rev_e4}) as bigint) as total_rev_e4,
       cast(sum(case when n.n_name = '{MKT_SHARE_NATION}'
                     then {rev_e4} else 0 end) as bigint) as nation_rev_e4,
       cast(sum(case when n.n_name = '{MKT_SHARE_NATION}'
                     then {rev_e4} else 0 end) as bigint)
         / cast(sum({rev_e4}) as bigint) as mkt_share
from lineitem l
join part p on p.p_partkey = l.l_partkey and p.p_type = '{MKT_SHARE_TYPE}'
join orders o on o.o_orderkey = l.l_orderkey
join mkt_cust mc on mc.c_custkey = o.o_custkey
join supplier s on s.s_suppkey = l.l_suppkey
join nation n on n.n_nationkey = s.s_nationkey
group by year(cast(o.o_orderdate as date))
"""

    profit = f"""
select n.n_name as nation_name,
       cast(year(cast(o.o_orderdate as date)) as int) as o_year,
       count(*) as n_lines,
       cast(sum({rev_e4}
                - cast(l_quantity as bigint)
                  * cast(round(p.p_retailprice * 100) as bigint)
                  * 100) as bigint) as profit_e4
from lineitem l
join part p on p.p_partkey = l.l_partkey
           and p.p_name like '%{PROFIT_NAME_WORD}%'
join orders o on o.o_orderkey = l.l_orderkey
join supplier s on s.s_suppkey = l.l_suppkey
join nation n on n.n_nationkey = s.s_nationkey
group by n.n_name, year(cast(o.o_orderdate as date))
"""

    value_conc = f"""
with scoped as (
    select l.l_partkey, {cents} as cents
    from lineitem l
    join supplier s on s.s_suppkey = l.l_suppkey
    join nation n on n.n_nationkey = s.s_nationkey
                 and n.n_name = '{VALUE_NATION}'
),
per_part as (
    select l_partkey, cast(sum(cents) as bigint) as value_cents
    from scoped group by l_partkey
)
select l_partkey as p_partkey, value_cents
from per_part
where value_cents * {VALUE_FRACTION_DEN} > (select sum(value_cents) from per_part)
"""

    late_modes = f"""
select l.l_linestatus,
       cast(sum(case when o.o_orderpriority in ('1-URGENT', '2-HIGH')
                     then 1 else 0 end) as bigint) as high_line_count,
       cast(sum(case when o.o_orderpriority in ('1-URGENT', '2-HIGH')
                     then 0 else 1 end) as bigint) as low_line_count
from lineitem l
join orders o on o.o_orderkey = l.l_orderkey
where cast(l.l_shipdate as date)
        > cast(o.o_orderdate as date) + cast({LATE_MODE_DAYS} as integer)
group by l.l_linestatus
"""

    order_dist = f"""
with per_cust as (
    select c.c_custkey, count(o.o_custkey) as c_count
    from customer c
    left join (select o_custkey from orders
               where o_orderpriority != '{DIST_EXCLUDED_PRIORITY}') o
      on o.o_custkey = c.c_custkey
    group by c.c_custkey
)
select cast(c_count as bigint) as c_count, count(*) as custdist
from per_cust group by c_count
"""

    promo = f"""
select cast(date_trunc('month', cast(l.l_shipdate as date)) as date) as ship_month,
       cast(sum(case when p.p_type = 'PROMO' then {rev_e4} else 0 end)
            as bigint) as promo_rev_e4,
       cast(sum({rev_e4}) as bigint) as total_rev_e4,
       cast(sum(case when p.p_type = 'PROMO' then {rev_e4} else 0 end)
            as bigint)
         / cast(sum({rev_e4}) as bigint) as promo_share
from lineitem l
join part p on p.p_partkey = l.l_partkey
group by date_trunc('month', cast(l.l_shipdate as date))
"""

    top_supplier = f"""
with per_supp as (
    select l_suppkey, cast(sum({rev_e4}) as bigint) as total_rev_e4
    from lineitem
    where cast(l_shipdate as date) >= date '{TOP_SUPPLIER_QUARTER}'
      and cast(l_shipdate as date)
            < date '{_add_months(TOP_SUPPLIER_QUARTER, 3)}'
    group by l_suppkey
)
select s.s_suppkey, s.s_name, ps.total_rev_e4
from per_supp ps
join supplier s on s.s_suppkey = ps.l_suppkey
where ps.total_rev_e4 = (select max(total_rev_e4) from per_supp)
"""

    sizes_csv = ", ".join(str(s) for s in DIVERSITY_SIZES)
    diversity = f"""
select p.p_brand, p.p_type, p.p_size,
       count(distinct ps.l_suppkey) as supplier_cnt
from (select distinct l_partkey, l_suppkey from lineitem) ps
join part p on p.p_partkey = ps.l_partkey
where p.p_brand != '{DIVERSITY_EXCL_BRAND}'
  and p.p_type != '{DIVERSITY_EXCL_TYPE}'
  and p.p_size in ({sizes_csv})
  and ps.l_suppkey not in (select s_suppkey from supplier where s_acctbal < 0)
group by p.p_brand, p.p_type, p.p_size
"""

    disjunctive = f"""
select count(*) as n_lines,
       cast(sum({rev_e4}) as bigint) as revenue_e4
from lineitem l
join part p on p.p_partkey = l.l_partkey
where (p.p_brand = 'Brand#12' and p.p_size between 1 and 15
       and cast(l.l_quantity as bigint) between 1 and 11)
   or (p.p_brand = 'Brand#23' and p.p_size between 1 and 25
       and cast(l.l_quantity as bigint) between 10 and 20)
   or (p.p_brand = 'Brand#34' and p.p_size between 1 and 45
       and cast(l.l_quantity as bigint) between 20 and 30)
"""

    excess = f"""
with ps as (
    select l.l_partkey, l.l_suppkey,
           cast(sum(cast(l.l_quantity as bigint)) as bigint) as qty_ps
    from lineitem l
    join part p on p.p_partkey = l.l_partkey
               and p.p_name like '%{EXCESS_NAME_WORD}%'
    group by l.l_partkey, l.l_suppkey
),
per_part as (
    select l_partkey, cast(sum(qty_ps) as bigint) as qty_p,
           count(*) as n_supp
    from ps group by l_partkey
)
select s.s_suppkey, s.s_name, count(*) as n_dominated_parts
from ps
join per_part pp using (l_partkey)
join supplier s on s.s_suppkey = ps.l_suppkey
where ps.qty_ps * pp.n_supp > {EXCESS_SHARE_MULT} * pp.qty_p
group by s.s_suppkey, s.s_name
"""

    waiting = f"""
with li as (
    select l.l_orderkey, l.l_suppkey,
           cast(l.l_shipdate as date)
             > cast(o.o_orderdate as date)
               + cast({WAITING_LATE_DAYS} as integer) as is_late
    from lineitem l
    join orders o on o.o_orderkey = l.l_orderkey
                 and o.o_orderstatus = 'F'
),
per_order as (
    select l_orderkey,
           count(distinct l_suppkey) as n_supp,
           count(distinct case when is_late then l_suppkey end) as n_late_supp
    from li group by l_orderkey
),
late_pairs as (
    select distinct l_orderkey, l_suppkey from li where is_late
)
select s.s_suppkey, s.s_name, count(*) as numwait
from late_pairs lp
join per_order po on po.l_orderkey = lp.l_orderkey
                 and po.n_supp >= 2 and po.n_late_supp = 1
join supplier s on s.s_suppkey = lp.l_suppkey
group by s.s_suppkey, s.s_name
"""

    return {
        "forecast": forecast,
        "volume": volume,
        "mkt_share": mkt_share,
        "profit": profit,
        "value_conc": value_conc,
        "late_modes": late_modes,
        "order_dist": order_dist,
        "promo": promo,
        "top_supplier": top_supplier,
        "diversity": diversity,
        "disjunctive": disjunctive,
        "excess": excess,
        "waiting": waiting,
    }


_TPCH_REST = _tpch_remaining_shape_sqls()
LINEITEM_REVENUE_FORECAST = _TPCH_REST["forecast"]
NATION_VOLUME_SHIPPING = _TPCH_REST["volume"]
NATION_MARKET_SHARE = _TPCH_REST["mkt_share"]
NATION_PRODUCT_PROFIT = _TPCH_REST["profit"]
NATION_PART_VALUE_CONCENTRATION = _TPCH_REST["value_conc"]
LINEITEM_LATE_SHIPMENT_MODES = _TPCH_REST["late_modes"]
CUSTOMER_ORDER_DISTRIBUTION = _TPCH_REST["order_dist"]
PROMO_REVENUE_SHARE = _TPCH_REST["promo"]
TOP_SUPPLIER_REVENUE = _TPCH_REST["top_supplier"]
PART_SUPPLIER_DIVERSITY = _TPCH_REST["diversity"]
DISJUNCTIVE_BRANCH_REVENUE = _TPCH_REST["disjunctive"]
EXCESS_SUPPLY_CANDIDATES = _TPCH_REST["excess"]
SUPPLIERS_KEPT_ORDERS_WAITING = _TPCH_REST["waiting"]


def _hll_distinct_sql() -> str:
    """Register-exact HLL mirror: same bucket split, same trailing-zero
    rank (round(log2(w & −w)) — exact-power-of-two safety, see
    operators/events.py:_hll_rho), same DECIMAL(38,0) register sum.
    The daily partial level is elided: register-wise max over (type,
    day, bucket) then (type, bucket) equals one global max (the HLL
    merge theorem), so the single-pass SQL reproduces the two-level
    sketch bit-for-bit.  The estimate's ln() sits far inside the 6-dp
    hash rounding; everything else is exact."""
    from .operators.events import HLL_EST_NUMER, HLL_M, HLL_W_BITS

    two61 = 1 << 61
    mask = (1 << HLL_W_BITS) - 1
    numer = repr(float(HLL_EST_NUMER))
    return f"""
with ev as (
    select distinct event_type, {_h60('user_id::varchar')} as h from events
),
b as (
    select event_type,
           h >> {HLL_W_BITS} as bucket,
           h & {mask} as w
    from ev
),
reg as (
    select event_type, bucket,
           max(case when w = 0 then {HLL_W_BITS + 1}
               else cast(round(log2(cast(w & -w as double))) as bigint) + 1
               end) as m
    from b group by event_type, bucket
),
agg as (
    select event_type,
           count(*) as n_present,
           sum(cast(1::bigint << cast(61 - m as integer) as decimal(38,0)))
             as s_present
    from reg group by event_type
),
sk as (
    select event_type,
           cast({HLL_M} - n_present as bigint) as n_zero_regs,
           cast(s_present
                + cast({HLL_M} - n_present as decimal(38,0))
                  * cast({two61} as decimal(38,0))
                as decimal(38,0)) as reg_sum_e61
    from agg
)
select s.event_type, s.n_zero_regs,
       cast(s.reg_sum_e61 as double) as reg_sum_e61,
       case when {numer} / cast(s.reg_sum_e61 as double) <= {2.5 * HLL_M!r}
             and s.n_zero_regs > 0
            then {float(HLL_M)!r} * ln({float(HLL_M)!r} / s.n_zero_regs)
            else {numer} / cast(s.reg_sum_e61 as double) end
         as est_distinct_users,
       x.exact_distinct_users
from sk s
join (select event_type,
             count(distinct user_id) as exact_distinct_users
      from events group by event_type) x using (event_type)
"""


EVENTS_HLL_DISTINCT = _hll_distinct_sql()


def _stream_hll_sql() -> str:
    """The drained streaming HLL equals the batch sketch (register-wise
    max is associative/commutative/idempotent) — the batch SQL minus
    the exact column."""
    base = _hll_distinct_sql()
    return base.replace(
        """,
       x.exact_distinct_users
from sk s
join (select event_type,
             count(distinct user_id) as exact_distinct_users
      from events group by event_type) x using (event_type)
""",
        """
from sk s
""",
    )


EVENTS_STREAM_HLL = _stream_hll_sql()


def _bloom_membership_sql() -> str:
    """Mirror of events_bloom_membership: same seeded 60-bit hashes,
    same 32-bit words (1<<31 is in-range bigint in both engines where
    1<<63 is not), same bit_or build and all-bits probe."""
    from .operators.events import BLOOM_K, BLOOM_M_BITS, BLOOM_WORD_BITS

    pos_exprs = [
        _h60(f"'{i}|' || user_id::varchar") + f" % {BLOOM_M_BITS}"
        for i in range(1, BLOOM_K + 1)
    ]
    pos_union = "\n    union all\n".join(
        f"select ({p}) as pos from members" for p in pos_exprs
    )
    hit_checks = " and ".join(
        f"""coalesce((select (w.bits & (1::bigint << cast(({p}) % {BLOOM_WORD_BITS} as integer))) != 0
            from words w where w.word = ({p}) // {BLOOM_WORD_BITS}), false)"""
        for p in pos_exprs
    )
    return f"""
with per_user as (
    select user_id,
           sum(case when event_type = 'purchase' then 1 else 0 end) as cnt
    from events group by user_id
),
totals as (select sum(cnt) as total, count(*) as n_users from per_user),
flagged as (
    select p.user_id, p.cnt * t.n_users >= t.total as is_member
    from per_user p cross join totals t
),
members as (select user_id from flagged where is_member),
pos as (
    {pos_union}
),
words as (
    select pos // {BLOOM_WORD_BITS} as word,
           bit_or(1::bigint << cast(pos % {BLOOM_WORD_BITS} as integer)) as bits
    from pos group by pos // {BLOOM_WORD_BITS}
),
probe as (
    select f.user_id, f.is_member,
           ({hit_checks}) as predicted
    from flagged f
),
stats as (
    select count(*) as n_users,
           cast(sum(case when is_member then 1 else 0 end) as bigint) as n_members,
           cast(sum(case when predicted then 1 else 0 end) as bigint) as n_predicted_members,
           cast(sum(case when predicted and not is_member then 1 else 0 end) as bigint) as n_false_positives
    from probe
)
select s.n_users, s.n_members,
       (select cast(sum(bit_count(bits)) as bigint) from words) as n_bits_set,
       s.n_predicted_members, s.n_false_positives,
       case when s.n_users - s.n_members > 0
            then s.n_false_positives / (s.n_users - s.n_members)
            else 0.0e0 end as fp_rate
from stats s
"""


EVENTS_BLOOM_MEMBERSHIP = _bloom_membership_sql()


def _minhash_incremental_sql() -> str:
    """Mirror of dedup_minhash_incremental: the LSH CTE chain with the
    deterministic batch flag, new×old + new×new candidate sets, exact
    Jaccard verify, first-wins keep policy."""
    from .operators.dedup import INCR_SPLIT_MOD, N_BANDS, ROWS_PER_BAND

    return (
        _SHINGLE_CTES
        + f""",
base as (select doc_id, hs, list_transform(hs, h -> h & 4294967295) as vs
         from sh),
sigs as materialized (
    select doc_id, hs, {_SIG} as sig,
           {_h60('doc_id::varchar')} % {INCR_SPLIT_MOD} = 0 as is_new
    from base),
bands as (
    select doc_id, is_new, b.band,
           md5(list_aggregate(
                 list_transform(sig[b.band*{ROWS_PER_BAND}+1 : b.band*{ROWS_PER_BAND}+{ROWS_PER_BAND}],
                                x -> x::varchar),
                 'string_agg', ',')) as bh
    from sigs, (select unnest(generate_series(0, {N_BANDS - 1})) as band) b
),
cross_cand as (
    select distinct n.doc_id as new_id, o.doc_id as old_id
    from bands n join bands o on n.band = o.band and n.bh = o.bh
    where n.is_new and not o.is_new
),
intra_cand as (
    select distinct b.doc_id as new_id, a.doc_id as old_id
    from bands a
    join bands b on a.band = b.band and a.bh = b.bh and a.doc_id < b.doc_id
    where a.is_new and b.is_new
),
vc as (
    select c.new_id, count(*) as n from cross_cand c
    join sigs sn on sn.doc_id = c.new_id
    join sigs so on so.doc_id = c.old_id
    where len(list_intersect(sn.hs, so.hs))
            / len(list_distinct(sn.hs || so.hs)) >= 0.5
    group by c.new_id
),
vb as (
    select c.new_id, count(*) as n from intra_cand c
    join sigs sn on sn.doc_id = c.new_id
    join sigs so on so.doc_id = c.old_id
    where len(list_intersect(sn.hs, so.hs))
            / len(list_distinct(sn.hs || so.hs)) >= 0.5
    group by c.new_id
)
select s.doc_id,
       coalesce(vc.n, 0) as n_corpus_dups,
       coalesce(vb.n, 0) as n_batch_dups_earlier,
       (coalesce(vc.n, 0) = 0 and coalesce(vb.n, 0) = 0) as is_kept
from sigs s
left join vc on vc.new_id = s.doc_id
left join vb on vb.new_id = s.doc_id
where s.is_new
"""
    )


DEDUP_MINHASH_INCREMENTAL = _minhash_incremental_sql()


def _temperature_sample_sql() -> str:
    """Mirror of corpus_temperature_sample: same sqrt-closed-form
    acceptance thresholds (sqrt is IEEE-correctly-rounded in every
    engine, so the floor lands on the identical integer), same hash-mod
    acceptance, same report columns."""
    from .operators.llm_prep import BALANCE_RESOLUTION

    res = BALANCE_RESOLUTION
    return f"""
with counts as (select lang, count(*) as n from documents group by lang),
nmin as (select min(n) as m from counts),
thr as (
    select c.lang, c.n,
           cast(floor({res} * sqrt(cast((select m from nmin) as double)
                                   / cast(c.n as double))) as bigint) as t
    from counts c
),
kept as (
    select d.lang, count(*) as n_kept
    from documents d
    join thr on thr.lang = d.lang
    where {_h60('d.doc_id::varchar')} % {res} < thr.t
    group by d.lang
),
tot as (select sum(n_kept) as total_kept from kept),
ss as (select sum(sqrt(cast(n as double))) as sum_sqrt from counts)
select t.lang,
       cast(t.n as bigint) as n_docs,
       cast(coalesce(k.n_kept, 0) as bigint) as n_kept,
       t.t / cast({res} as double) as accept_rate,
       sqrt(cast(t.n as double)) / (select sum_sqrt from ss) as flat_share,
       coalesce(k.n_kept, 0) / cast((select total_kept from tot) as double)
         as realized_share
from thr t
left join kept k on k.lang = t.lang
"""


CORPUS_TEMPERATURE_SAMPLE = _temperature_sample_sql()


def _stream_bloom_sql() -> str:
    """The drained streaming Bloom equals one batch build over distinct
    users (bitmap OR merge): same seeded hashes, same 32-bit words."""
    from .operators.events import BLOOM_K, BLOOM_M_BITS, BLOOM_WORD_BITS

    pos_union = "\n    union all\n".join(
        f"select ({_h60(chr(39) + str(i) + '|' + chr(39) + ' || user_id::varchar')}"
        f" % {BLOOM_M_BITS}) as pos from users"
        for i in range(1, BLOOM_K + 1)
    )
    return f"""
with users as (select distinct user_id from events),
pos as (
    {pos_union}
)
select pos // {BLOOM_WORD_BITS} as word,
       bit_or(1::bigint << cast(pos % {BLOOM_WORD_BITS} as integer)) as bits
from pos group by pos // {BLOOM_WORD_BITS}
"""


EVENTS_STREAM_BLOOM = _stream_bloom_sql()


def _repeated_ngrams_sql() -> str:
    """Mirror of corpus_repeated_ngrams: same normalized text, same
    strided positional windows (greatest(len-31, 1) floor), same
    cross-doc df >= 2 flag."""
    from .operators.llm_prep import REPEAT_GRAM_LEN, REPEAT_GRAM_STRIDE

    g, st = REPEAT_GRAM_LEN, REPEAT_GRAM_STRIDE
    h = _h60(f"substr(norm, p, {g})")
    return f"""
with docs as (
    select doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) as norm
    from documents
),
wins as (
    select doc_id,
           unnest(list_transform(
               generate_series(1, greatest(length(norm) - {g - 1}, 1), {st}),
               p -> {h})) as h
    from docs
),
cross_rep as (
    select h from (select distinct doc_id, h from wins)
    group by h having count(*) >= 2
),
per_doc as (select doc_id, count(*) as n_windows from wins group by doc_id),
rep as (
    select w.doc_id, count(*) as n_rep
    from wins w join cross_rep c on c.h = w.h
    group by w.doc_id
)
select p.doc_id,
       p.n_windows,
       coalesce(r.n_rep, 0) as n_repeated_windows,
       coalesce(r.n_rep, 0) / cast(p.n_windows as double) as repeated_frac
from per_doc p
left join rep r on r.doc_id = p.doc_id
"""


CORPUS_REPEATED_NGRAMS = _repeated_ngrams_sql()


def _split_drift_sql() -> str:
    """Mirror of corpus_split_drift: same hash-mod split, same exact
    bit_length-1 length bands (binary-string length, no floor(log2)
    boundary risk), same Laplace-smoothed PSI vs the train split."""
    from .operators.llm_prep import PSI_SMOOTH, SPLIT_BOUNDS

    cases = " ".join(
        f"when bucket >= {lo} and bucket < {hi} then '{name}'"
        for name, lo, hi in SPLIT_BOUNDS
    )
    return f"""
with banded as (
    select case {cases} end as split,
           cast(length(bin(greatest(n_chars, 1))) - 1 as bigint) as band
    from (
        select n_chars,
               {_h60('doc_id::varchar')} % 100 as bucket
        from documents
    )
),
bands as (select distinct band from banded),
splits as (select distinct split from banded),
grid as (select s.split, b.band from splits s cross join bands b),
counts as (
    select g.split, g.band,
           coalesce(c.n, 0) + {PSI_SMOOTH} as n_sm
    from grid g
    left join (select split, band, count(*) as n
               from banded group by split, band) c
      on c.split = g.split and c.band = g.band
),
tot as (select split, sum(n_sm) as tot_sm, count(*) as n_bands
        from counts group by split),
shares as (
    select c.split, c.band, t.n_bands,
           c.n_sm / cast(t.tot_sm as double) as share
    from counts c join tot t on t.split = c.split
),
train as (select band, share as p from shares where split = 'train')
select s.split,
       (select count(*) from banded b where b.split = s.split) as n_docs,
       cast(max(s.n_bands) as bigint) as n_bands,
       sum((s.share - tr.p) * ln(s.share / tr.p)) as psi
from shares s
join train tr on tr.band = s.band
group by s.split
"""


CORPUS_SPLIT_DRIFT = _split_drift_sql()


def _kcore_sql() -> str:
    """Unrolled k-core peel mirroring parts_copurchase_kcore: the same
    edge construction as the triangles/pagerank oracles, k from the
    same integer mean-degree formula, and KCORE_MAX_ROUNDS peel rounds
    — over-unrolling past the fixpoint is a no-op because peeling is
    idempotent there.  Every round is materialized: each r_i is
    referenced three times (two keep joins + next round), and DuckDB
    inlines multiply-referenced CTEs, which would go exponential over
    16 levels."""
    from .operators.graph import (
        KCORE_DEG_DEN,
        KCORE_DEG_NUM,
        KCORE_MAX_ROUNDS,
        TRI_MAX_ORDER_ITEMS,
    )

    rounds = []
    for i in range(1, KCORE_MAX_ROUNDS + 1):
        rounds.append(
            f"""k{i} as materialized (
    select s from r{i - 1} group by s having count(*) >= (select k from kv)
),
r{i} as materialized (
    select c.s, c.d from r{i - 1} c
    join k{i} a on a.s = c.s
    join k{i} b on b.s = c.d
)"""
        )
    joined = ",\n".join(rounds)
    last = f"r{KCORE_MAX_ROUNDS}"
    return f"""
with li as (select distinct l_orderkey as o, l_partkey as p from lineitem),
ok as (select o from li group by o having count(*) <= {TRI_MAX_ORDER_ITEMS}),
li2 as (select li.* from li join ok using (o)),
edges as (
    select distinct a.p as x, b.p as y
    from li2 a join li2 b on a.o = b.o and a.p < b.p
),
r0 as materialized (
    select x as s, y as d from edges
    union all
    select y as s, x as d from edges
),
kv as (
    select ({KCORE_DEG_NUM} * (select count(*) from r0))
           // ({KCORE_DEG_DEN} * (select count(distinct s) from r0)) as k
),
{joined}
select s as part_id, count(*) as core_degree
from {last}
group by s
"""


PARTS_COPURCHASE_KCORE = _kcore_sql()


def _weekly_drift_sql() -> str:
    """Mirror of events_weekly_drift: same Monday week truncation,
    same Laplace-smoothed categorical PSI vs the first week."""
    from .operators.timeseries import DRIFT_SMOOTH

    return f"""
with ev as (
    select cast(date_trunc('week', ts) as date) as week, event_type
    from events
),
cell as (select week, event_type, count(*) as n from ev group by week, event_type),
weeks as (select distinct week from cell),
types as (select distinct event_type from cell),
grid as (select w.week, t.event_type from weeks w cross join types t),
sm as (
    select g.week, g.event_type,
           coalesce(c.n, 0) + {DRIFT_SMOOTH} as n_sm,
           coalesce(c.n, 0) as n_raw
    from grid g
    left join cell c on c.week = g.week and c.event_type = g.event_type
),
tot as (select week, sum(n_sm) as tot_sm, sum(n_raw) as n_events
        from sm group by week),
shares as (
    select s.week, s.event_type, t.n_events,
           s.n_sm / cast(t.tot_sm as double) as share
    from sm s join tot t on t.week = s.week
),
first as (
    select event_type, share as p from shares
    where week = (select min(week) from weeks)
)
select s.week,
       cast(max(s.n_events) as bigint) as n_events,
       sum((s.share - f.p) * ln(s.share / f.p)) as psi_vs_first
from shares s
join first f on f.event_type = s.event_type
group by s.week
"""


EVENTS_WEEKLY_DRIFT = _weekly_drift_sql()


def _wilson_sql() -> str:
    """Mirror of source_quality_wilson: the proven TEXT_QUALITY CTE,
    the corpus gate's threshold, and the Wilson bound with the
    IDENTICAL operation order and e0-suffixed literals (sqrt is
    IEEE-correctly-rounded, so the bound is tolerance-free)."""
    from .operators.corpus import CORPUS_MIN_QUALITY

    return f"""
with q as ({TEXT_QUALITY}),
flagged as (
    select d.source, (q.quality_score >= {CORPUS_MIN_QUALITY}) as ok
    from documents d join q using (doc_id)
),
agg as (
    select source, count(*) as n_docs,
           cast(sum(case when ok then 1 else 0 end) as bigint) as n_pass
    from flagged group by source
),
w as (
    select source, n_docs, n_pass,
           cast(n_docs as double) as n,
           n_pass / cast(n_docs as double) as p
    from agg
)
select source, n_docs, n_pass,
       p as pass_rate,
       (p + (1.96e0*1.96e0)/(2e0*n)
          - 1.96e0*sqrt(p*(1e0-p)/n + (1.96e0*1.96e0)/(4e0*n*n)))
         / (1e0 + (1.96e0*1.96e0)/n) as wilson_lower
from w
"""


SOURCE_QUALITY_WILSON = _wilson_sql()


def _bm25_sql() -> str:
    """Mirror of text_bm25_scores: same whitespace tokens, same
    integer-exact query selection (df desc, term asc), same Robertson
    form with identical operation order; the ln() sits inside the
    6-dp rounding."""
    from .operators.text_analysis import (
        BM25_B,
        BM25_K1,
        BM25_N_QUERY_TERMS,
    )

    k1 = f"{BM25_K1}e0"
    b = f"{BM25_B}e0"
    return f"""
with toks as (
    select doc_id, unnest(string_split(lower(text), ' ')) as t
    from documents
),
df_tbl as (
    select t, count(*) as df
    from (select distinct doc_id, t from toks) group by t
),
query as (
    select t, df from df_tbl
    where t not in ({_ALL_STOP})
    order by df desc, t asc limit {BM25_N_QUERY_TERMS}
),
dl as (select doc_id, count(*) as dl from toks group by doc_id),
avgdl as (
    select cast(sum(dl) as bigint) / count(*) as avgdl from dl
),
nd as (select cast(count(*) as double) as n_docs from documents),
tf as (
    select k.doc_id, k.t, q.df, count(*) as tf
    from toks k join query q on q.t = k.t
    group by k.doc_id, k.t, q.df
)
select tf.doc_id,
       count(*) as n_query_terms_hit,
       cast(max(dl.dl) as bigint) as dl,
       sum(
         ln((nd.n_docs - tf.df + 0.5e0) / (tf.df + 0.5e0) + 1.0e0)
         * (tf.tf * ({k1} + 1.0e0))
         / (tf.tf + {k1} * (1.0e0 - {b} + {b} * dl.dl / avgdl.avgdl))
       ) as score
from tf
join dl on dl.doc_id = tf.doc_id
cross join avgdl
cross join nd
group by tf.doc_id
"""


TEXT_BM25_SCORES = _bm25_sql()


def _ab_test_sql() -> str:
    """Mirror of events_ab_test: same hash-mod arm assignment, same
    pooled two-proportion z with identical operation order (divisions
    + one IEEE-exact sqrt — tolerance-free)."""
    from .operators.analytics import AB_SPLIT_MOD

    return f"""
with counts as (
    select user_id,
           sum(case when event_type = 'purchase' then 1 else 0 end) as cnt
    from events group by user_id
),
totals as (select sum(cnt) as total, count(*) as n_users from counts),
per_user as (
    select {_h60('c.user_id::varchar')} % {AB_SPLIT_MOD} = 0 as arm_a,
           case when c.cnt * t.n_users >= t.total then 1 else 0 end
             as converted
    from counts c cross join totals t
),
agg as (
    select cast(sum(case when arm_a then 1 else 0 end) as bigint) as n_a,
           cast(sum(case when not arm_a then 1 else 0 end) as bigint) as n_b,
           cast(sum(case when arm_a then converted else 0 end) as bigint)
             as conv_a,
           cast(sum(case when not arm_a then converted else 0 end) as bigint)
             as conv_b
    from per_user
)
select n_a, n_b, conv_a, conv_b,
       conv_a / cast(n_a as double) as rate_a,
       conv_b / cast(n_b as double) as rate_b,
       conv_a / cast(n_a as double) - conv_b / cast(n_b as double) as lift,
       case when sqrt((conv_a + conv_b) / cast(n_a + n_b as double)
                      * (1.0e0 - (conv_a + conv_b) / cast(n_a + n_b as double))
                      * (1.0e0 / n_a + 1.0e0 / n_b)) > 0
            then (conv_a / cast(n_a as double) - conv_b / cast(n_b as double))
                 / sqrt((conv_a + conv_b) / cast(n_a + n_b as double)
                        * (1.0e0 - (conv_a + conv_b)
                                   / cast(n_a + n_b as double))
                        * (1.0e0 / n_a + 1.0e0 / n_b))
            else 0.0e0 end as z_score
from agg
"""


EVENTS_AB_TEST = _ab_test_sql()


def _cuped_sql() -> str:
    """Mirror of events_cuped: exact integer moment sums, identical
    final-step double arithmetic."""
    from .operators.analytics import CUPED_SPLIT_DATE

    return f"""
with per_user as (
    select user_id,
           sum(case when cast(ts as date) < date '{CUPED_SPLIT_DATE}'
                    then 1 else 0 end) as x,
           sum(case when cast(ts as date) >= date '{CUPED_SPLIT_DATE}'
                     and event_type = 'purchase'
                    then 1 else 0 end) as y
    from events group by user_id
),
m as (
    select cast(count(*) as bigint) as n,
           cast(sum(x) as bigint) as sx,
           cast(sum(y) as bigint) as sy,
           cast(sum(x * y) as bigint) as sxy,
           cast(sum(x * x) as bigint) as sxx,
           cast(sum(y * y) as bigint) as syy
    from per_user
)
select n as n_users,
       cast(n * sxy - sx * sy as bigint) as sxy_c,
       cast(n * sxx - sx * sx as bigint) as sxx_c,
       cast(n * syy - sy * sy as bigint) as syy_c,
       case when n * sxx - sx * sx > 0
            then (n * sxy - sx * sy) / cast(n * sxx - sx * sx as double)
            else 0.0e0 end as theta,
       case when n * sxx - sx * sx > 0 and n * syy - sy * sy > 0
            then (cast(n * sxy - sx * sy as double)
                  * cast(n * sxy - sx * sy as double))
                 / (cast(n * sxx - sx * sx as double)
                    * cast(n * syy - sy * sy as double))
            else 0.0e0 end as rho2
from m
"""


EVENTS_CUPED = _cuped_sql()


def _holt_sql() -> str:
    """Mirror of events_holt_daily: same zero-filled grid, same dyadic
    left fold (list_reduce seeds with the first [x0, 0] pair — the
    Spark side initializes identically and folds the tail)."""
    from .operators.timeseries import HOLT_ALPHA, HOLT_BETA

    a = f"{HOLT_ALPHA}e0"
    b1 = f"{1.0 - HOLT_ALPHA}e0"
    bt = f"{HOLT_BETA}e0"
    bt1 = f"{1.0 - HOLT_BETA}e0"
    lvl = f"{a}*b[1] + {b1}*(acc[1]+acc[2])"
    return f"""
with daily0 as (
    select event_type, cast(ts as date) as day, count(*) as n
    from events group by event_type, cast(ts as date)
),
bounds as (select min(day) as lo, max(day) as hi from daily0),
spine as (
    select cast(unnest(generate_series(
        (select lo from bounds), (select hi from bounds),
        interval 1 day)) as date) as day
),
grid as (
    select t.event_type, s.day
    from (select distinct event_type from daily0) t cross join spine s
),
daily as (
    select g.event_type, g.day, coalesce(d.n, 0) as n
    from grid g
    left join daily0 d on d.event_type = g.event_type and d.day = g.day
),
series as (
    select event_type, list(cast(n as double) order by day) as l
    from daily group by event_type
),
folded as (
    select event_type, len(l) as n_days,
           list_reduce(
               list_transform(l, x -> [x, 0.0e0]),
               (acc, b) -> [
                   {lvl},
                   {bt}*(({lvl}) - acc[1]) + {bt1}*acc[2]
               ]) as lt
    from series
)
select event_type, cast(n_days as bigint) as n_days,
       lt[1] as level, lt[2] as trend,
       lt[1] + lt[2] as forecast_next
from folded
"""


EVENTS_HOLT_DAILY = _holt_sql()


EVENTS_THEIL_SEN = """
with daily as (
    select event_type,
           cast(cast(ts as date) - date '1970-01-01' as bigint) as i,
           count(*) as n
    from events group by event_type, cast(ts as date)
),
pairs as (
    select a.event_type,
           b.n - a.n as num,
           b.i - a.i as den,
           a.i as i, b.i as j,
           (b.n - a.n) / cast(b.i - a.i as double) as slope
    from daily a
    join daily b on b.event_type = a.event_type and a.i < b.i
),
ranked as (
    select *,
           row_number() over (partition by event_type
                              order by slope, num, den, i, j) as rn,
           count(*) over (partition by event_type) as n_pairs
    from pairs
)
select event_type,
       cast(n_pairs as bigint) as n_pairs,
       cast(num as bigint) as med_num,
       cast(den as bigint) as med_den,
       slope as theil_slope
from ranked
where rn = floor((n_pairs + 1) / 2)
"""


def _theil_sen_sampled_sql() -> str:
    """Mirror of events_theil_sen_sampled: identical pair table, then
    the SAME deterministic hash-mod pair subsample before ranking."""
    from .operators.timeseries import THEIL_SAMPLE_MOD

    key = "event_type || '|' || i::varchar || '|' || j::varchar"
    return f"""
with daily as (
    select event_type,
           cast(cast(ts as date) - date '1970-01-01' as bigint) as i,
           count(*) as n
    from events group by event_type, cast(ts as date)
),
pairs as (
    select a.event_type,
           b.n - a.n as num,
           b.i - a.i as den,
           a.i as i, b.i as j,
           (b.n - a.n) / cast(b.i - a.i as double) as slope
    from daily a
    join daily b on b.event_type = a.event_type and a.i < b.i
),
sampled as (
    select * from pairs
    where {_h60(key)} % {THEIL_SAMPLE_MOD} = 0
),
ranked as (
    select *,
           row_number() over (partition by event_type
                              order by slope, num, den, i, j) as rn,
           count(*) over (partition by event_type) as n_pairs
    from sampled
)
select event_type,
       cast(n_pairs as bigint) as n_pairs,
       cast(num as bigint) as med_num,
       cast(den as bigint) as med_den,
       slope as theil_slope
from ranked
where rn = floor((n_pairs + 1) / 2)
"""


EVENTS_THEIL_SEN_SAMPLED = _theil_sen_sampled_sql()


def _mann_whitney_sql() -> str:
    """Mirror of events_mann_whitney: same value-group midranks, same
    tie-corrected variance with identical operation order."""
    from .operators.analytics import AB_SPLIT_MOD

    return f"""
with per_user as (
    select sum(case when event_type = 'purchase' then 1 else 0 end) as x,
           {_h60('user_id::varchar')} % {AB_SPLIT_MOD} = 0 as arm_a
    from events group by user_id
),
vals as (
    select x, count(*) as t,
           sum(case when arm_a then 1 else 0 end) as t_a
    from per_user group by x
),
ranked as (
    select x, t, t_a,
           coalesce(sum(t) over (order by x
                                 rows between unbounded preceding
                                 and 1 preceding), 0) as cum_before
    from vals
),
agg as (
    select cast(sum(t_a) as bigint) as n_a,
           cast(sum(t - t_a) as bigint) as n_b,
           sum(t_a * (cum_before + (t + 1) / 2.0e0)) as r_a,
           cast(sum(t * t * t - t) as bigint) as tie_sum
    from ranked
)
select n_a, n_b,
       r_a - n_a * (n_a + 1) / 2.0e0 as u_a,
       n_a * n_b / 2.0e0 as mu_u,
       case when n_a * n_b / 12.0e0
                 * ((n_a + n_b + 1)
                    - tie_sum / ((n_a + n_b) * (n_a + n_b - 1))) > 0
            then (r_a - n_a * (n_a + 1) / 2.0e0 - n_a * n_b / 2.0e0)
                 / sqrt(n_a * n_b / 12.0e0
                        * ((n_a + n_b + 1)
                           - tie_sum / ((n_a + n_b) * (n_a + n_b - 1))))
            else 0.0e0 end as z_score
from agg
"""


EVENTS_MANN_WHITNEY = _mann_whitney_sql()


def _srm_check_sql() -> str:
    """Mirror of events_srm_check: same distinct-user arm counts, same
    exact (n_a − n_b)²/n statistic and critical literal."""
    from .operators.analytics import AB_SPLIT_MOD, SRM_CHI2_CRIT

    return f"""
with arms as (
    select distinct user_id,
           {_h60('user_id::varchar')} % {AB_SPLIT_MOD} = 0 as arm_a
    from events
),
m as (
    select cast(count(*) as bigint) as n_users,
           cast(sum(case when arm_a then 1 else 0 end) as bigint) as n_a,
           cast(sum(case when not arm_a then 1 else 0 end) as bigint) as n_b
    from arms
)
select n_users, n_a, n_b,
       case when n_users > 0
            then (n_a - n_b) * (n_a - n_b) / n_users
            else 0.0e0 end as chi2_stat,
       (case when n_users > 0
             then (n_a - n_b) * (n_a - n_b) / n_users
             else 0.0e0 end) > {SRM_CHI2_CRIT!r}e0 as srm_detected
from m
"""


EVENTS_SRM_CHECK = _srm_check_sql()


def _cuped_ab_test_sql() -> str:
    """Mirror of events_cuped_ab_test: identical exact bigint moments,
    identical operator-precedence expansion of the adjusted mean /
    variance (left-assoc, * before +/-), identical CASE guards."""
    from .operators.analytics import AB_SPLIT_MOD, CUPED_SPLIT_DATE

    def adj(side: str) -> tuple[str, str]:
        n, sx, sy = f"n_{side}", f"sx_{side}", f"sy_{side}"
        sxy, sxx, syy = f"sxy_{side}", f"sxx_{side}", f"syy_{side}"
        mean = (
            f"case when {n} > 0 then {sy} / {n} - theta * ({sx} / {n} - xbar) "
            f"else 0.0e0 end"
        )
        var = (
            f"case when {n} > 1 then "
            f"({n} * ({syy} - 2 * theta * {sxy} + theta * theta * {sxx}) "
            f"- ({sy} - theta * {sx}) * ({sy} - theta * {sx})) "
            f"/ ({n} * ({n} - 1)) else 0.0e0 end"
        )
        return mean, var

    mean_a, var_a = adj("a")
    mean_b, var_b = adj("b")
    return f"""
with ev as (
    select user_id, event_type,
           cast(ts as date) < date '{CUPED_SPLIT_DATE}' as pre
    from events
),
per_user as (
    select sum(case when pre then 1 else 0 end) as x,
           sum(case when not pre and event_type = 'purchase' then 1 else 0 end) as y,
           {_h60('user_id::varchar')} % {AB_SPLIT_MOD} = 0 as arm_a
    from ev group by user_id
),
m as (
    select cast(count(*) as bigint) as n_t,
           cast(sum(x) as bigint) as sx_t,
           cast(sum(y) as bigint) as sy_t,
           cast(sum(x * y) as bigint) as sxy_t,
           cast(sum(x * x) as bigint) as sxx_t,
           cast(sum(case when arm_a then 1 else 0 end) as bigint) as n_a,
           cast(sum(case when not arm_a then 1 else 0 end) as bigint) as n_b,
           cast(sum(case when arm_a then x else 0 end) as bigint) as sx_a,
           cast(sum(case when not arm_a then x else 0 end) as bigint) as sx_b,
           cast(sum(case when arm_a then y else 0 end) as bigint) as sy_a,
           cast(sum(case when not arm_a then y else 0 end) as bigint) as sy_b,
           cast(sum(case when arm_a then x * y else 0 end) as bigint) as sxy_a,
           cast(sum(case when not arm_a then x * y else 0 end) as bigint) as sxy_b,
           cast(sum(case when arm_a then x * x else 0 end) as bigint) as sxx_a,
           cast(sum(case when not arm_a then x * x else 0 end) as bigint) as sxx_b,
           cast(sum(case when arm_a then y * y else 0 end) as bigint) as syy_a,
           cast(sum(case when not arm_a then y * y else 0 end) as bigint) as syy_b
    from per_user
),
d1 as (
    select *,
           case when n_t * sxx_t - sx_t * sx_t > 0
                then (n_t * sxy_t - sx_t * sy_t)
                     / (n_t * sxx_t - sx_t * sx_t)
                else 0.0e0 end as theta,
           case when n_t > 0 then sx_t / n_t else 0.0e0 end as xbar
    from m
),
d2 as (
    select *,
           {mean_a} as mean_adj_a,
           {mean_b} as mean_adj_b,
           {var_a} as var_adj_a,
           {var_b} as var_adj_b
    from d1
),
d3 as (
    select *,
           case when n_a > 0 then var_adj_a / n_a else 0.0e0 end as va,
           case when n_b > 0 then var_adj_b / n_b else 0.0e0 end as vb
    from d2
)
select n_a, n_b, theta, mean_adj_a, mean_adj_b, var_adj_a, var_adj_b,
       case when va + vb > 0
            then (mean_adj_a - mean_adj_b) / sqrt(va + vb)
            else 0.0e0 end as z_adj
from d3
"""


EVENTS_CUPED_AB_TEST = _cuped_ab_test_sql()


def _bootstrap_ci_sql() -> str:
    """Mirror of events_bootstrap_ci: identical hash-derived uniforms
    (same md5 seed-prefix chain, same exact 2^60 scaling), the SAME
    Poisson(1) CDF literals (module constants, e0-suffixed so DuckDB
    parses doubles, not DECIMALs), identical order-statistic ranks."""
    from .operators.analytics import BOOT_REPLICAS, POISSON1_CDF

    b = BOOT_REPLICAS
    lo_rank = max(1, -(-25 * b // 1000))
    hi_rank = -(-975 * b // 1000)
    med_rank = (b + 1) // 2
    case = " ".join(
        f"when u < {repr(t)}e0 then {k}" for k, t in enumerate(POISSON1_CDF)
    )
    h = "('0x' || substr(md5(g.b::varchar || '|' || p.user_id::varchar), 1, 15))::bigint"
    return f"""
with per_user as (
    select user_id,
           sum(case when event_type = 'purchase' then 1 else 0 end) as x
    from events group by user_id
),
reps as (
    select p.x, g.b,
           {h} / 1152921504606846976e0 as u
    from per_user p
    cross join (select unnest(generate_series(0, {b - 1})) as b) g
),
mults as (
    select x, b, cast(case {case} else {len(POISSON1_CDF)} end as bigint) as m
    from reps
),
boot as (
    select b, cast(sum(m * x) as bigint) as s, cast(sum(m) as bigint) as n
    from mults group by b
),
means as (
    select case when n > 0 then s / n else 0.0e0 end as bm from boot
),
arr as (select list_sort(list(bm)) as a from means),
obs as (
    select cast(count(*) as bigint) as n_users,
           case when count(*) > 0 then sum(x) / count(*) else 0.0e0 end as mean_obs
    from per_user
)
select n_users, cast({b} as bigint) as n_replicas, mean_obs,
       a[{med_rank}] as boot_median, a[{lo_rank}] as ci_lo, a[{hi_rank}] as ci_hi
from obs cross join arr
"""


EVENTS_BOOTSTRAP_CI = _bootstrap_ci_sql()


def _bootstrap_ab_sql() -> str:
    """Mirror of events_bootstrap_ab: identical joint resampling (same
    per-(user, replica) multiplicities, users keep their hash arm),
    identical per-arm guarded divisions and order-statistic ranks."""
    from .operators.analytics import (
        AB_SPLIT_MOD,
        BOOT_REPLICAS,
        POISSON1_CDF,
    )

    b = BOOT_REPLICAS
    lo_rank = max(1, -(-25 * b // 1000))
    hi_rank = -(-975 * b // 1000)
    med_rank = (b + 1) // 2
    case = " ".join(
        f"when u < {repr(t)}e0 then {k}" for k, t in enumerate(POISSON1_CDF)
    )
    h = "('0x' || substr(md5(g.b::varchar || '|' || p.user_id::varchar), 1, 15))::bigint"
    return f"""
with per_user as (
    select user_id,
           sum(case when event_type = 'purchase' then 1 else 0 end) as x,
           {_h60('user_id::varchar')} % {AB_SPLIT_MOD} = 0 as arm_a
    from events group by user_id
),
reps as (
    select p.x, p.arm_a, g.b,
           {h} / 1152921504606846976e0 as u
    from per_user p
    cross join (select unnest(generate_series(0, {b - 1})) as b) g
),
mults as (
    select x, arm_a, b,
           cast(case {case} else {len(POISSON1_CDF)} end as bigint) as m
    from reps
),
boot as (
    select b,
           cast(sum(case when arm_a then m * x else 0 end) as bigint) as s_a,
           cast(sum(case when arm_a then m else 0 end) as bigint) as n_a,
           cast(sum(case when not arm_a then m * x else 0 end) as bigint) as s_b,
           cast(sum(case when not arm_a then m else 0 end) as bigint) as n_b
    from mults group by b
),
diffs as (
    select (case when n_a > 0 then s_a / n_a else 0.0e0 end)
           - (case when n_b > 0 then s_b / n_b else 0.0e0 end) as d
    from boot
),
arr as (select list_sort(list(d)) as a from diffs),
obs as (
    select cast(count(*) as bigint) as n_users,
           (case when sum(case when arm_a then 1 else 0 end) > 0
                 then sum(case when arm_a then x else 0 end)
                      / sum(case when arm_a then 1 else 0 end)
                 else 0.0e0 end)
           - (case when sum(case when not arm_a then 1 else 0 end) > 0
                   then sum(case when not arm_a then x else 0 end)
                        / sum(case when not arm_a then 1 else 0 end)
                   else 0.0e0 end) as diff_obs
    from per_user
)
select n_users, cast({b} as bigint) as n_replicas, diff_obs,
       a[{med_rank}] as boot_median, a[{lo_rank}] as ci_lo, a[{hi_rank}] as ci_hi
from obs cross join arr
"""


EVENTS_BOOTSTRAP_AB = _bootstrap_ab_sql()


def _welch_ttest_sql() -> str:
    """Mirror of events_welch_ttest: same exact integer moments (n, Σx,
    Σx² per arm), same CASE WHEN guards, same IEEE operation order for
    mean / variance / t / Welch–Satterthwaite df."""
    from .operators.analytics import AB_SPLIT_MOD

    return f"""
with per_user as (
    select sum(case when event_type = 'purchase' then 1 else 0 end) as x,
           {_h60('user_id::varchar')} % {AB_SPLIT_MOD} = 0 as arm_a
    from events group by user_id
),
m as (
    select cast(sum(case when arm_a then 1 else 0 end) as bigint) as n_a,
           cast(sum(case when not arm_a then 1 else 0 end) as bigint) as n_b,
           cast(sum(case when arm_a then x else 0 end) as bigint) as sx_a,
           cast(sum(case when not arm_a then x else 0 end) as bigint) as sx_b,
           cast(sum(case when arm_a then x * x else 0 end) as bigint) as sxx_a,
           cast(sum(case when not arm_a then x * x else 0 end) as bigint) as sxx_b
    from per_user
),
d1 as (
    select *,
           case when n_a > 0 then sx_a / n_a else 0.0e0 end as mean_a,
           case when n_b > 0 then sx_b / n_b else 0.0e0 end as mean_b,
           case when n_a > 1
                then (n_a * sxx_a - sx_a * sx_a) / (n_a * (n_a - 1))
                else 0.0e0 end as var_a,
           case when n_b > 1
                then (n_b * sxx_b - sx_b * sx_b) / (n_b * (n_b - 1))
                else 0.0e0 end as var_b
    from m
),
d2 as (
    select *,
           case when n_a > 0 then var_a / n_a else 0.0e0 end as va,
           case when n_b > 0 then var_b / n_b else 0.0e0 end as vb
    from d1
)
select n_a, n_b, mean_a, mean_b, var_a, var_b,
       case when va + vb > 0
            then (mean_a - mean_b) / sqrt(va + vb)
            else 0.0e0 end as t_stat,
       case when va + vb > 0 and n_a > 1 and n_b > 1
            then ((va + vb) * (va + vb))
                 / (va * va / (n_a - 1) + vb * vb / (n_b - 1))
            else 0.0e0 end as df
from d2
"""


EVENTS_WELCH_TTEST = _welch_ttest_sql()


CORPUS_CURRICULUM_ORDER = f"""
with t as (
    select doc_id, string_split(lower(text), ' ') as toks
    from documents
),
scored as (
    select doc_id,
           (len(list_filter(toks, x -> x in ({_ALL_STOP}))) / len(toks)) * 2.0
             + (len(list_distinct(toks)) / len(toks)) as quality_score
    from t
)
select doc_id, quality_score,
       cast(row_number() over (order by quality_score desc, doc_id)
            as bigint) as position,
       cast(ntile(10) over (order by quality_score desc, doc_id)
            as int) as stage
from scored
"""


EVENTS_GINI = """
with per_user as (
    select user_id, count(*) as x from events group by user_id
),
ranked as (
    select x, row_number() over (order by x, user_id) as i from per_user
),
agg as (
    select cast(count(*) as bigint) as n_users,
           cast(sum(x) as bigint) as total_events,
           cast(sum(i * x) as bigint) as ix
    from ranked
)
select n_users, total_events,
       (2 * ix - (n_users + 1) * total_events)
         / cast(n_users * total_events as double) as gini
from agg
"""


def _ks_test_sql() -> str:
    """Mirror of events_ks_test: integer argmax of the cumulative
    difference, identical final double arithmetic."""
    from .operators.analytics import AB_SPLIT_MOD

    return f"""
with per_user as (
    select sum(case when event_type = 'purchase' then 1 else 0 end) as x,
           {_h60('user_id::varchar')} % {AB_SPLIT_MOD} = 0 as arm_a
    from events group by user_id
),
vals as (
    select x,
           sum(case when arm_a then 1 else 0 end) as a,
           sum(case when not arm_a then 1 else 0 end) as b
    from per_user group by x
),
cum as (
    select sum(a) over (order by x rows between unbounded preceding
                        and current row) as cum_a,
           sum(b) over (order by x rows between unbounded preceding
                        and current row) as cum_b
    from vals
),
totals as (
    select cast(sum(case when arm_a then 1 else 0 end) as bigint) as n_a,
           cast(sum(case when not arm_a then 1 else 0 end) as bigint) as n_b
    from per_user
),
agg as (
    select max(t.n_a) as n_a, max(t.n_b) as n_b,
           cast(max(abs(c.cum_a * t.n_b - c.cum_b * t.n_a)) as bigint)
             as d_num
    from cum c cross join totals t
)
select n_a, n_b, d_num,
       cast(n_a * n_b as bigint) as d_den,
       d_num / cast(n_a * n_b as double) as ks_d,
       sqrt(n_a * n_b / cast(n_a + n_b as double))
         * (d_num / cast(n_a * n_b as double)) as ks_scaled
from agg
"""


EVENTS_KS_TEST = _ks_test_sql()


def _benford_sql() -> str:
    """Mirror of events_benford_audit: integer-cents digit via string
    form, python-repr Benford literals (identical doubles)."""
    import math

    rows = ", ".join(
        f"({d}, {math.log10(1.0 + 1.0 / d)!r})" for d in range(1, 10)
    )
    return f"""
with cents as (
    select cast(round(value * 100) as bigint) as c from events
),
digits as (
    select cast(substr(cast(c as varchar), 1, 1) as int) as digit
    from cents where c > 0
),
counts as (select digit, count(*) as n_obs from digits group by digit),
total as (select cast(sum(n_obs) as bigint) as n_total from counts),
benford(digit, benford_share) as (values {rows})
select b.digit,
       cast(coalesce(c.n_obs, 0) as bigint) as n_obs,
       coalesce(c.n_obs, 0) / cast(t.n_total as double) as obs_share,
       b.benford_share,
       coalesce(c.n_obs, 0) / cast(t.n_total as double) - b.benford_share
         as excess
from benford b
left join counts c on c.digit = b.digit
cross join total t
"""


EVENTS_BENFORD_AUDIT = _benford_sql()


EVENTS_COHORT_LTV = """
with ev as (
    select user_id, event_type,
           cast(date_trunc('week', ts) as date) as week,
           cast(round(value * 100) as bigint) as cents
    from events
),
cohorts as (select user_id, min(week) as cohort_week from ev group by user_id),
sizes as (select cohort_week, count(*) as n_users from cohorts group by cohort_week),
rev as (
    select c.cohort_week,
           cast(floor((e.week - c.cohort_week) / 7.0e0) as bigint)
             as week_offset,
           cast(sum(e.cents) as bigint) as revenue_cents
    from ev e
    join cohorts c on c.user_id = e.user_id
    where e.event_type = 'purchase'
    group by c.cohort_week, floor((e.week - c.cohort_week) / 7.0e0)
)
select r.cohort_week, r.week_offset,
       cast(s.n_users as bigint) as n_users,
       r.revenue_cents,
       cast(sum(r.revenue_cents) over (partition by r.cohort_week
                                       order by r.week_offset
                                       rows between unbounded preceding
                                       and current row) as bigint)
         as cum_revenue_cents,
       cast(sum(r.revenue_cents) over (partition by r.cohort_week
                                       order by r.week_offset
                                       rows between unbounded preceding
                                       and current row) as bigint)
         / cast(s.n_users as double) as cum_ltv_per_user
from rev r
join sizes s on s.cohort_week = r.cohort_week
"""


EVENTS_KAPLAN_MEIER = """
with ev as (
    select user_id, event_type, cast(ts as date) as day from events
),
window_end as (select max(day) as end_day from ev),
pd as (
    select distinct user_id, day from ev where event_type = 'purchase'
),
firsts as (
    select user_id, min(day) as t1,
           max(case when rn = 2 then day end) as t2
    from (select user_id, day,
                 row_number() over (partition by user_id order by day) as rn
          from pd)
    where rn <= 2
    group by user_id
),
obs as (
    select case when t2 is not null then t2 - t1
                else (select end_day from window_end) - t1 end as t,
           t2 is not null as is_event
    from firsts
),
times as (
    select t,
           cast(sum(case when is_event then 1 else 0 end) as bigint) as d,
           cast(sum(case when not is_event then 1 else 0 end) as bigint) as c
    from obs group by t
),
at_risk as (
    select t, d, c,
           (select count(*) from obs)
             - coalesce(sum(d + c) over (order by t
                                         rows between unbounded preceding
                                         and 1 preceding), 0) as n_risk
    from times
),
km as (
    select t, d, c, n_risk,
           max(case when d = n_risk then 1 else 0 end)
             over (order by t rows between unbounded preceding
                   and current row) as hit_zero,
           sum(case when d > 0 and d < n_risk
                    then ln(1.0e0 - d / cast(n_risk as double))
                    else 0.0e0 end)
             over (order by t rows between unbounded preceding
                   and current row) as log_sum
    from at_risk
)
select cast(t as bigint) as t_days,
       cast(n_risk as bigint) as n_risk,
       d as n_events, c as n_censored,
       case when hit_zero = 1 then 0.0e0 else exp(log_sum) end as km_survival
from km where d > 0
"""


def _log_rank_sql() -> str:
    """Mirror of events_log_rank: same censored observation table, same
    hypergeometric O/E/V fold (few-term float sums sit inside the 6-dp
    rounding)."""
    from .operators.analytics import AB_SPLIT_MOD

    return f"""
with ev as (
    select user_id, event_type, cast(ts as date) as day from events
),
window_end as (select max(day) as end_day from ev),
pd as (
    select distinct user_id, day from ev where event_type = 'purchase'
),
firsts as (
    select user_id, min(day) as t1,
           max(case when rn = 2 then day end) as t2
    from (select user_id, day,
                 row_number() over (partition by user_id order by day) as rn
          from pd)
    where rn <= 2
    group by user_id
),
obs as (
    select {_h60('user_id::varchar')} % {AB_SPLIT_MOD} = 0 as arm_a,
           case when t2 is not null then t2 - t1
                else (select end_day from window_end) - t1 end as t,
           t2 is not null as is_event
    from firsts
),
times as (
    select t,
           cast(sum(case when arm_a and is_event then 1 else 0 end) as bigint) as d1,
           cast(sum(case when not arm_a and is_event then 1 else 0 end) as bigint) as d2,
           cast(sum(case when arm_a then 1 else 0 end) as bigint) as r1,
           cast(sum(case when not arm_a then 1 else 0 end) as bigint) as r2
    from obs group by t
),
tot as (
    select cast(sum(case when arm_a then 1 else 0 end) as bigint) as n_a,
           cast(sum(case when not arm_a then 1 else 0 end) as bigint) as n_b
    from obs
),
risk as (
    select ti.*, tt.n_a, tt.n_b,
           tt.n_a - coalesce(sum(r1) over (order by t
                rows between unbounded preceding and 1 preceding), 0) as n1,
           tt.n_b - coalesce(sum(r2) over (order by t
                rows between unbounded preceding and 1 preceding), 0) as n2
    from times ti cross join tot tt
),
agg as (
    select max(n_a) as n_a, max(n_b) as n_b,
           cast(sum(d1) as bigint) as o_a,
           sum((d1 + d2) * n1 / cast(n1 + n2 as double)) as e_a,
           sum(case when n1 + n2 > 1
                    then (d1 + d2) * (n1 / cast(n1 + n2 as double))
                         * (n2 / cast(n1 + n2 as double))
                         * (n1 + n2 - (d1 + d2))
                         / (n1 + n2 - 1)
                    else 0.0e0 end) as v
    from risk where d1 + d2 > 0
)
select n_a, n_b, o_a, e_a, v,
       case when v > 0 then (o_a - e_a) / sqrt(v) else 0.0e0 end as z_score
from agg
"""


EVENTS_LOG_RANK = _log_rank_sql()


EVENTS_AUTOCORRELATION = """
with daily as (
    select event_type, ts::date as day, count(*) as n
    from events group by 1, 2
),
dense as (
    select t.event_type, d.day, coalesce(c.n, 0) as x
    from (select distinct day from daily) d
    cross join (select distinct event_type from daily) t
    left join daily c on c.event_type = t.event_type and c.day = d.day
),
tot as (
    select event_type, count(*) as d, cast(sum(x) as bigint) as s
    from dense group by 1
),
centered as (
    select dense.event_type, dense.day, tot.d,
           cast(tot.d * dense.x - tot.s as bigint) as c0
    from dense join tot on tot.event_type = dense.event_type
),
leads as (
    select event_type, d, c0,
           lead(c0, 1) over w as c1, lead(c0, 2) over w as c2,
           lead(c0, 3) over w as c3, lead(c0, 4) over w as c4,
           lead(c0, 5) over w as c5, lead(c0, 6) over w as c6,
           lead(c0, 7) over w as c7
    from centered
    window w as (partition by event_type order by day)
),
den_tbl as (
    select event_type, cast(sum(c0 * c0) as bigint) as den
    from leads group by 1
),
prods as (
    -- parallel unnest zips positionally (the posexplode mirror)
    select l.event_type, den_tbl.den,
           unnest([1, 2, 3, 4, 5, 6, 7]) as lag,
           l.c0 * unnest([l.c1, l.c2, l.c3, l.c4, l.c5, l.c6, l.c7]) as prod
    from leads l
    join den_tbl on den_tbl.event_type = l.event_type
)
select event_type, cast(lag as int) as lag,
       count(prod) as n_terms,
       case when den > 0
            then cast(sum(prod) as bigint) / den
       end as acf
from prods
group by event_type, lag, den
"""


EVENTS_CUSUM_CHANGEPOINT = """
with daily as (
    select event_type, ts::date as day, count(*) as n
    from events group by 1, 2
),
dense as (
    select t.event_type, d.day, coalesce(c.n, 0) as x
    from (select distinct day from daily) d
    cross join (select distinct event_type from daily) t
    left join daily c on c.event_type = t.event_type and c.day = d.day
),
tot as (
    select event_type, count(*) as d, cast(sum(x) as bigint) as t
    from dense group by 1
),
s as (
    select dense.event_type, dense.day, tot.d,
           cast(tot.d * cast(sum(dense.x) over (partition by dense.event_type
                                                order by dense.day
                                                rows between unbounded preceding
                                                and current row) as bigint)
                - row_number() over (partition by dense.event_type
                                     order by dense.day) * tot.t
                as bigint) as s_i
    from dense join tot on tot.event_type = dense.event_type
)
select event_type, d as n_days, day as change_day,
       abs(s_i) / (cast(d as double) * cast(d as double)) as cusum_stat
from s
qualify row_number() over (partition by event_type
                           order by abs(s_i) desc, day asc) = 1
"""


EVENTS_SPEARMAN_CORR = """
with daily as (
    select event_type, ts::date as day, count(*) as n
    from events group by 1, 2
),
dense as (
    select t.event_type, d.day, coalesce(c.n, 0) as x
    from (select distinct day from daily) d
    cross join (select distinct event_type from daily) t
    left join daily c on c.event_type = t.event_type and c.day = d.day
),
ranked as (
    select event_type, day,
           cast(2 * rank() over (partition by event_type order by x)
                + count(*) over (partition by event_type, x) - 1
                as bigint) as r2
    from dense
),
sums as (
    select a.event_type as type_a, b.event_type as type_b,
           count(*) as n_days,
           cast(sum(a.r2) as bigint) as sx,
           cast(sum(b.r2) as bigint) as sy,
           cast(sum(a.r2 * b.r2) as bigint) as sxy,
           cast(sum(a.r2 * a.r2) as bigint) as sxx,
           cast(sum(b.r2 * b.r2) as bigint) as syy
    from ranked a join ranked b on a.day = b.day and a.event_type < b.event_type
    group by 1, 2
)
select type_a, type_b, n_days,
       (n_days * sxy - sx * sy)
         / nullif(sqrt(n_days * sxx - sx * sx) * sqrt(n_days * syy - sy * sy), 0.0)
         as rho
from sums
"""


def _lpa_communities_sql(n_rounds: int) -> str:
    """Unrolled synchronous label propagation: one materialized CTE per
    round mirroring the operator's fixed-depth loop (same argmax tie-
    break: highest neighbor-label frequency, then smallest label).
    Round count and the oversized-order cap are interpolated from the
    operator's own constants so the oracle can never silently diverge
    from the plan it checks (the _substitutes_sql discipline)."""
    from .operators.graph import TRI_MAX_ORDER_ITEMS

    head = f"""
with li as (
    select distinct l_orderkey as o, l_partkey as p from lineitem
),
keep as (
    select o from li group by o having count(*) <= {TRI_MAX_ORDER_ITEMS}
),
li2 as (
    select li.o, li.p from li join keep on keep.o = li.o
),
edges as materialized (
    select distinct a.p as x, b.p as y
    from li2 a join li2 b on a.o = b.o and a.p < b.p
),
adj as materialized (
    select x as src, y as dst from edges
    union all
    select y as src, x as dst from edges
),
l0 as materialized (
    select distinct src as node, src as label from adj
)"""
    rounds = []
    for i in range(1, n_rounds + 1):
        rounds.append(f""",
f{i} as (
    select adj.src, l{i - 1}.label, count(*) as cnt
    from adj join l{i - 1} on l{i - 1}.node = adj.dst
    group by 1, 2
),
l{i} as materialized (
    select src as node, label
    from f{i}
    qualify row_number() over (partition by src
                               order by cnt desc, label asc) = 1
)""")
    tail = f"""
select l.node as part_id, l.label as community, s.community_size
from l{n_rounds} l
join (select label, count(*) as community_size
      from l{n_rounds} group by 1) s on s.label = l.label
"""
    return head + "".join(rounds) + tail


from .operators.graph import LPA_ROUNDS as _LPA_ROUNDS

PARTS_COPURCHASE_COMMUNITIES = _lpa_communities_sql(_LPA_ROUNDS)


def _did_sql() -> str:
    """Mirror of events_did: same calendar-midpoint split, same paired
    per-user diff, same exact Welch-style moments and IEEE op order."""
    from .operators.analytics import AB_SPLIT_MOD

    return f"""
with bounds as (
    select (min(ts)::date + cast(date_diff('day', min(ts)::date,
                                           max(ts)::date) // 2 as integer))
           as split_day
    from events
),
per_user as (
    select b.split_day,
           cast(sum(case when e.event_type = 'purchase'
                          and e.ts::date > b.split_day then 1 else 0 end)
                - sum(case when e.event_type = 'purchase'
                            and e.ts::date <= b.split_day then 1 else 0 end)
                as bigint) as d,
           {_h60('e.user_id::varchar')} % {AB_SPLIT_MOD} = 0 as arm_a
    from events e cross join bounds b
    group by e.user_id, b.split_day
),
m as (
    select split_day,
           cast(sum(case when arm_a then 1 else 0 end) as bigint) as n_a,
           cast(sum(case when not arm_a then 1 else 0 end) as bigint) as n_b,
           cast(sum(case when arm_a then d else 0 end) as bigint) as sd_a,
           cast(sum(case when not arm_a then d else 0 end) as bigint) as sd_b,
           cast(sum(case when arm_a then d * d else 0 end) as bigint) as sdd_a,
           cast(sum(case when not arm_a then d * d else 0 end) as bigint) as sdd_b
    from per_user group by split_day
),
d1 as (
    select *,
           case when n_a > 0 then sd_a / n_a else 0.0e0 end as mean_diff_a,
           case when n_b > 0 then sd_b / n_b else 0.0e0 end as mean_diff_b,
           case when n_a > 1
                then (n_a * sdd_a - sd_a * sd_a) / (n_a * (n_a - 1))
                else 0.0e0 end as var_a,
           case when n_b > 1
                then (n_b * sdd_b - sd_b * sd_b) / (n_b * (n_b - 1))
                else 0.0e0 end as var_b
    from m
),
d2 as (
    select *,
           case when n_a > 0 then var_a / n_a else 0.0e0 end as va,
           case when n_b > 0 then var_b / n_b else 0.0e0 end as vb,
           mean_diff_a - mean_diff_b as did_effect
    from d1
),
d3 as (
    select *,
           case when va + vb > 0 then sqrt(va + vb) else 0.0e0 end as se
    from d2
)
select split_day, n_a, n_b, mean_diff_a, mean_diff_b, did_effect, se,
       case when se > 0 then did_effect / se else 0.0e0 end as z_stat
from d3
"""


EVENTS_DID = _did_sql()


def _power_mde_sql() -> str:
    from .operators.analytics import (
        POWER_HORIZONS,
        POWER_Z_ALPHA,
        POWER_Z_BETA,
    )

    hs = ", ".join(str(h) for h in POWER_HORIZONS)
    return f"""
with per_user as (
    select sum(case when event_type = 'purchase' then 1 else 0 end) as x
    from events group by user_id
),
m as (
    select cast(count(*) as bigint) as n,
           cast(sum(x) as bigint) as sx,
           cast(sum(x * x) as bigint) as sxx
    from per_user
),
base as (
    select n,
           case when n > 0 then sx / n else 0.0e0 end as mean_outcome,
           case when n > 1 then (n * sxx - sx * sx) / (n * (n - 1))
                else 0.0e0 end as var_outcome
    from m
),
h as (
    select base.*, unnest([{hs}]) as horizon_x from base
),
rows_ as (
    select cast(horizon_x as int) as horizon_x,
           cast((n * horizon_x) // 2 as bigint) as n_arm,
           mean_outcome, var_outcome
    from h
),
mde_t as (
    select *,
           case when n_arm > 0
                then {POWER_Z_ALPHA + POWER_Z_BETA!r}e0
                     * sqrt(2.0e0 * var_outcome / n_arm)
                else 0.0e0 end as mde_abs
    from rows_
)
select horizon_x, n_arm, mean_outcome, var_outcome, mde_abs,
       case when mean_outcome > 0 then mde_abs / mean_outcome end as mde_rel
from mde_t
"""


EVENTS_POWER_MDE = _power_mde_sql()


TEXT_NAIVE_BAYES_LANGID = """
with ex as (
    select doc_id, lang,
           unnest(list_transform(
               generate_series(1, greatest(length(lower(text)) - 1, 1)),
               i -> substr(lower(text), i, 2))) as g
    from documents
),
doc_grams as (
    select doc_id, lang, g, count(*) as c from ex group by 1, 2, 3
),
model as (
    select lang as ml, g, cast(sum(c) as bigint) as n_gl
    from doc_grams group by 1, 2
),
lang_tot as (
    select ml, cast(sum(n_gl) as bigint) as t_l from model group by 1
),
priors as (
    select lang as ml, cast(count(*) as bigint) as docs_l
    from documents group by 1
),
consts as (
    select (select cast(count(*) as bigint) from documents) as n_docs,
           (select cast(count(distinct g) as bigint) from model) as v
),
langs as (
    select priors.ml, priors.docs_l, lang_tot.t_l, consts.n_docs, consts.v
    from priors join lang_tot on lang_tot.ml = priors.ml
    cross join consts
),
scored as (
    select dg.doc_id, dg.lang, l.ml,
           ln(l.docs_l / l.n_docs) as prior_ll,
           dg.c * ln((coalesce(m.n_gl, 0) + 1.0e0) / (l.t_l + l.v)) as ll
    from doc_grams dg
    cross join langs l
    left join model m on m.ml = l.ml and m.g = dg.g
),
per_lang as (
    select doc_id, lang, ml, any_value(prior_ll) + sum(ll) as score
    from scored group by 1, 2, 3
),
picked as (
    select lang as lang_actual, ml as lang_pred
    from per_lang
    qualify row_number() over (partition by doc_id
                               order by score desc, ml desc) = 1
)
select lang_actual, lang_pred, count(*) as n_docs
from picked group by 1, 2
"""


def _sequential_ab_sql() -> str:
    from .operators.analytics import AB_SPLIT_MOD, SEQ_Z_ALPHA

    return f"""
with users as (
    select min(case when event_type = 'purchase' then ts::date end) as fp_day,
           {_h60('user_id::varchar')} % {AB_SPLIT_MOD} = 0 as arm_a
    from events group by user_id
),
arms as (
    select cast(sum(case when arm_a then 1 else 0 end) as bigint) as n_a,
           cast(sum(case when not arm_a then 1 else 0 end) as bigint) as n_b
    from users
),
per_day as (
    select fp_day as day,
           cast(sum(case when arm_a then 1 else 0 end) as bigint) as fp_a,
           cast(sum(case when not arm_a then 1 else 0 end) as bigint) as fp_b
    from users where fp_day is not null group by 1
),
days as (select distinct ts::date as day from events),
nd as (select cast(count(*) as bigint) as n_days from days),
dense as (
    select d.day,
           cast(sum(coalesce(p.fp_a, 0)) over w as bigint) as conv_a,
           cast(sum(coalesce(p.fp_b, 0)) over w as bigint) as conv_b,
           cast(row_number() over (order by d.day) as bigint) as day_idx
    from days d left join per_day p on p.day = d.day
    window w as (order by d.day rows between unbounded preceding
                 and current row)
),
j as (
    select dense.*, arms.n_a, arms.n_b, nd.n_days
    from dense cross join arms cross join nd
),
d2 as (
    select day, day_idx, n_days, n_a, n_b, conv_a, conv_b,
           case when n_a > 0 and n_b > 0
                then ((conv_a + conv_b) / (n_a + n_b))
                     * (1.0e0 - (conv_a + conv_b) / (n_a + n_b))
                     * (1.0e0 / n_a + 1.0e0 / n_b)
                else 0.0e0 end as v,
           (case when n_a > 0 then conv_a / n_a else 0.0e0 end)
             - (case when n_b > 0 then conv_b / n_b else 0.0e0 end) as diff
    from j
),
d3 as (
    select *,
           case when v > 0 then diff / sqrt(v) else 0.0e0 end as z_stat,
           {SEQ_Z_ALPHA!r}e0 * sqrt(n_days / cast(day_idx as double))
             as obf_bound
    from d2
)
select day, day_idx, n_days, n_a, n_b, conv_a, conv_b,
       z_stat, obf_bound, abs(z_stat) > obf_bound as crosses
from d3
"""


EVENTS_SEQUENTIAL_AB = _sequential_ab_sql()


def _robust_mean_sql() -> str:
    from .operators.events import TRIM_PCT

    return f"""
with ranked as (
    select event_type, value,
           row_number() over (partition by event_type
                              order by value, event_id) as rn,
           cast(count(*) over (partition by event_type) as bigint) as n
    from events
),
kt as (select *, (n * {TRIM_PCT}) // 100 as k from ranked),
agg as (
    select event_type,
           any_value(n) as n, any_value(k) as k,
           sum(case when rn > k and rn <= n - k then value end) as s_kept,
           cast(sum(case when rn > k and rn <= n - k then 1 else 0 end)
                as bigint) as n_kept,
           max(case when rn = k + 1 then value end) as v_lo,
           max(case when rn = n - k then value end) as v_hi
    from kt group by 1
)
select event_type, n, n_kept as n_trimmed,
       case when n_kept > 0 then s_kept / n_kept else 0.0e0 end
         as trimmed_mean,
       case when n > 0 then (s_kept + k * v_lo + k * v_hi) / n
            else 0.0e0 end as winsorized_mean
from agg
"""


EVENTS_ROBUST_MEAN = _robust_mean_sql()


def _knn_classifier_sql(k: int = 5, probe_mod: int = 100) -> str:
    return f"""
with emb as (select vec_id, {_EMB} as e from embeddings),
probes as (select vec_id as query_id, e as qe from emb
           where vec_id % {probe_mod} = 0),
scored as (
    select p.query_id, emb.vec_id as neighbor_id,
           list_sum(list_transform(generate_series(1, len(emb.e)),
                                   i -> p.qe[i] * emb.e[i]))
             / (sqrt(list_sum(list_transform(p.qe, x -> x*x)))
                * sqrt(list_sum(list_transform(emb.e, x -> x*x)))) as cos
    from emb cross join probes p
    where emb.vec_id != p.query_id
),
topk as (
    select query_id, neighbor_id
    from scored
    qualify row_number() over (partition by query_id
                               order by cos desc, neighbor_id) <= {k}
),
votes as (
    select t.query_id, l.label as nbr_label, count(*) as cnt
    from topk t join embeddings l on l.vec_id = t.neighbor_id
    group by 1, 2
),
picked as (
    select query_id, nbr_label as label_pred
    from votes
    qualify row_number() over (partition by query_id
                               order by cnt desc, nbr_label asc) = 1
)
select a.label as label_actual, p.label_pred, count(*) as n_probes
from picked p join embeddings a on a.vec_id = p.query_id
group by 1, 2
"""


EMBEDDING_KNN_CLASSIFIER = _knn_classifier_sql()


def _substitutes_sql() -> str:
    from .operators.graph import (
        SIM_MAX_CENTER_DEG,
        SIM_TOP_K,
        TRI_MAX_ORDER_ITEMS,
    )

    return f"""
with li as (
    select distinct l_orderkey as o, l_partkey as p from lineitem
),
keep as (
    select o from li group by o having count(*) <= {TRI_MAX_ORDER_ITEMS}
),
li2 as (
    select li.o, li.p from li join keep on keep.o = li.o
),
edges as materialized (
    select distinct a.p as x, b.p as y
    from li2 a join li2 b on a.o = b.o and a.p < b.p
),
sym as materialized (
    select x as src, y as dst from edges
    union all
    select y as src, x as dst from edges
),
deg as materialized (
    select src, cast(count(*) as bigint) as deg from sym group by 1
),
centers as (
    select sym.src, sym.dst
    from sym join deg d on d.src = sym.src
    where d.deg <= {SIM_MAX_CENTER_DEG}
),
common as (
    select a.dst as x, b.dst as y, cast(count(*) as bigint) as common
    from centers a join centers b on a.src = b.src and a.dst < b.dst
    group by 1, 2
),
pairs as (
    select x, y, common from common
    union all
    select y as x, x as y, common from common
),
scored as (
    select b.x, b.y, b.common,
           b.common / (sqrt(cast(dx.deg as double))
                       * sqrt(cast(dy.deg as double))) as sim
    from pairs b
    join deg dx on dx.src = b.x
    join deg dy on dy.src = b.y
)
select x as part_id, y as substitute_id, common,
       round(sim, 6) as sim,
       cast(row_number() over (partition by x order by sim desc, y asc)
            as bigint) as rank
from scored
qualify rank <= {SIM_TOP_K}
"""


PARTS_COPURCHASE_SUBSTITUTES = _substitutes_sql()


def _adamic_adar_sql() -> str:
    """Mirrors parts_copurchase_adamic_adar: same shared-edge
    construction as the substitutes oracle, centers capped at
    AA_MAX_CENTER_DEG (and floored at deg 2), weight 1/ln(deg) in IEEE
    doubles, NOT EXISTS anti-join against the edge set, 6-dp rounded
    weight sum."""
    from .operators.graph import (
        AA_MAX_CENTER_DEG,
        AA_MIN_COMMON,
        TRI_MAX_ORDER_ITEMS,
    )

    return f"""
with li as (
    select distinct l_orderkey as o, l_partkey as p from lineitem
),
keep as (
    select o from li group by o having count(*) <= {TRI_MAX_ORDER_ITEMS}
),
li2 as (
    select li.o, li.p from li join keep on keep.o = li.o
),
edges as materialized (
    select distinct a.p as x, b.p as y
    from li2 a join li2 b on a.o = b.o and a.p < b.p
),
sym as materialized (
    select x as src, y as dst from edges
    union all
    select y as src, x as dst from edges
),
deg as materialized (
    select src, cast(count(*) as bigint) as deg from sym group by 1
),
centers as (
    select sym.src, sym.dst, 1.0e0 / ln(cast(d.deg as double)) as w
    from sym join deg d on d.src = sym.src
    where d.deg between 2 and {AA_MAX_CENTER_DEG}
),
pairs as (
    select a.dst as x, b.dst as y,
           cast(count(*) as bigint) as common,
           sum(a.w) as aa
    from centers a join centers b on a.src = b.src and a.dst < b.dst
    group by 1, 2
    having count(*) >= {AA_MIN_COMMON}
)
select p.x as part_a, p.y as part_b, p.common,
       round(p.aa, 6) as aa_score
from pairs p
where not exists (
    select 1 from edges e where e.x = p.x and e.y = p.y
)
"""


PARTS_COPURCHASE_ADAMIC_ADAR = _adamic_adar_sql()


def _clustering_coef_sql() -> str:
    """Mirrors parts_copurchase_clustering_coef: the proven triangles
    oracle as a subquery (independent edge construction), the
    substitutes-oracle degree CTE, a deg>=2 left join, and the exact
    integer-ratio division 2*tri / (deg*(deg-1))."""
    from .operators.graph import TRI_MAX_ORDER_ITEMS

    # outer CTE names carry a cc_ prefix: the nested triangles query
    # defines its own li/edges/deg CTEs and DuckDB resolves collisions
    # against the OUTER scope inside the subquery
    return f"""
with cc_li as (
    select distinct l_orderkey as o, l_partkey as p from lineitem
),
cc_keep as (
    select o from cc_li group by o having count(*) <= {TRI_MAX_ORDER_ITEMS}
),
cc_li2 as (
    select cc_li.o, cc_li.p from cc_li join cc_keep on cc_keep.o = cc_li.o
),
cc_edges as materialized (
    select distinct a.p as x, b.p as y
    from cc_li2 a join cc_li2 b on a.o = b.o and a.p < b.p
),
cc_sym as materialized (
    select x as src, y as dst from cc_edges
    union all
    select y as src, x as dst from cc_edges
),
cc_deg as materialized (
    select src, cast(count(*) as bigint) as deg from cc_sym group by 1
),
cc_tri as (
    select part_id, n_triangles from ({PARTS_COPURCHASE_TRIANGLES}) t
)
select d.src as part_id,
       d.deg as degree,
       cast(coalesce(cc_tri.n_triangles, 0) as bigint) as n_triangles,
       (2 * coalesce(cc_tri.n_triangles, 0)) / (d.deg * (d.deg - 1))
           as clustering_coef
from cc_deg d left join cc_tri on cc_tri.part_id = d.src
where d.deg >= 2
"""


PARTS_COPURCHASE_CLUSTERING_COEF = _clustering_coef_sql()


def _seasonal_decompose_sql() -> str:
    """Mirrors events_seasonal_decompose: shared daily CTE, windowed
    sum cast back from HUGEINT before the trend division (exact-integer
    operands), isodow seasonal cells, left-to-right residual."""
    from .operators.timeseries import SEASONAL_HALF_WINDOW as H

    return f"""
with d as (select event_type, cast(ts as date) as day from events),
daily as (
    select event_type, day, cast(count(*) as bigint) as n
    from d group by event_type, day
),
tr as (
    select event_type, day, n,
           cast(sum(n) over w as bigint) / count(n) over w as trend
    from daily
    window w as (
        partition by event_type
        order by datediff('day', date '1970-01-01', day)
        range between {H} preceding and {H} following
    )
),
se as (
    select *,
           avg(n - trend) over (
               partition by event_type, isodow(day)
           ) as seasonal
    from tr
)
select event_type, day, n as n_events, trend, seasonal,
       n - trend - seasonal as residual
from se
"""


EVENTS_SEASONAL_DECOMPOSE = _seasonal_decompose_sql()


def _span_corruption_sql() -> str:
    """Mirror of corpus_span_corruption.  The span index uses the
    direct segment formulation (sp(i) = i // seg_len when i falls inside
    that segment's span) — equivalent to the operator's fold because
    spans never cross segment boundaries by construction."""
    from .operators.llm_prep import SPAN_LEN, SPAN_RATE_PCT

    h = _h60(f"doc_id::varchar || '|' || j::varchar")
    return f"""
with base as (
    select doc_id, string_split(lower(text), ' ') as ws from documents
),
dims as (
    select doc_id, ws, len(ws) as n_words,
           cast(floor((len(ws) * {SPAN_RATE_PCT} / 100) / {SPAN_LEN})
                as int) as ns0
    from base
),
dims2 as (
    select *, case when ns0 > 0
                   then cast(floor(n_words / ns0) as int)
                   else 0 end as sl0
    from dims
),
dims3 as (
    select doc_id, ws, n_words,
           case when sl0 >= {SPAN_LEN} then ns0 else 0 end as n_spans,
           case when sl0 >= {SPAN_LEN} then sl0 else 0 end as seg_len
    from dims2
),
spanned as (
    select *,
           case when n_spans > 0 then
               list_transform(generate_series(0, n_spans - 1),
                   j -> cast(j * seg_len
                             + {h} % greatest(seg_len - {SPAN_LEN} + 1, 1)
                             as int))
           else [] end as starts
    from dims3
),
sps as (
    select *,
           list_transform(generate_series(0, n_words - 1), i ->
               case when seg_len > 0 and (i // seg_len) < n_spans
                         and i >= starts[(i // seg_len) + 1]
                         and i < starts[(i // seg_len) + 1] + {SPAN_LEN}
                    then i // seg_len else -1 end) as sp
    from spanned
)
select doc_id,
       cast(n_words as bigint) as n_words,
       cast(n_spans as bigint) as n_spans,
       coalesce(list_aggregate(
           list_transform(generate_series(0, n_words - 1), i ->
               case when list_contains(starts, i)
                    then '<extra_id_' || sp[i + 1]::varchar || '>'
                    when sp[i + 1] = -1 then ws[i + 1]
                    else null end),
           'string_agg', ' '), '') as input_text,
       coalesce(list_aggregate(
           list_transform(generate_series(0, n_words - 1), i ->
               case when list_contains(starts, i)
                    then '<extra_id_' || sp[i + 1]::varchar || '> ' || ws[i + 1]
                    when sp[i + 1] != -1 then ws[i + 1]
                    else null end),
           'string_agg', ' '), '') as target_text
from sps
"""


CORPUS_SPAN_CORRUPTION = _span_corruption_sql()


def _retention_curve_fit_sql() -> str:
    from .operators.analytics import LN2

    return f"""
with activity as (
    select distinct user_id,
           cast(floor(date_diff('day', date '1970-01-05', ts::date) / 7)
                as bigint) as week
    from events
),
first_w as (
    select user_id, min(week) as cohort_week from activity group by 1
),
cohorts as (
    select cohort_week, cast(count(*) as bigint) as cohort_size
    from first_w group by 1
),
mw as (select max(week) as max_week from activity),
matrix as (
    select f.cohort_week, a.week - f.cohort_week as k,
           cast(count(distinct a.user_id) as bigint) as n_ret
    from activity a join first_w f on f.user_id = a.user_id
    group by 1, 2
),
ks as (select distinct k from matrix where k >= 1),
base as (
    select ks.k, cast(sum(c.cohort_size) as bigint) as n_base
    from cohorts c cross join mw cross join ks
    where c.cohort_week + ks.k <= mw.max_week
    group by 1
),
pooled as (
    select m.k, ln(m.n_ret / b.n_base) as y
    from (select k, cast(sum(n_ret) as bigint) as n_ret
          from matrix where k >= 1 group by 1) m
    join base b on b.k = m.k
    where m.n_ret > 0 and b.n_base > 0
),
m as (
    select cast(count(*) as bigint) as n,
           cast(sum(k) as bigint) as sk,
           sum(y) as sy,
           sum(k * y) as sky,
           cast(sum(k * k) as bigint) as skk
    from pooled
),
fit as (
    select n,
           case when n * skk - sk * sk > 0
                then (n * sky - sk * sy) / (n * skk - sk * sk) end as slope,
           sk, sy
    from m
)
select n as n_points, slope,
       case when n > 0 then (sy - slope * sk) / n end as intercept,
       case when slope < 0 then -{LN2!r}e0 / slope end as half_life_weeks
from fit
"""


EVENTS_RETENTION_CURVE_FIT = _retention_curve_fit_sql()


def _eigencentrality_sql() -> str:
    """Unrolled L2-normalized power iteration mirroring
    parts_copurchase_eigencentrality: same fixed depth, same start
    vector (all ones), same per-round normalize; float literals
    e0-suffixed (the PageRank-oracle discipline).  Edge construction is
    the independent self-join formulation — the operator's explode
    build is pinned row-identical to it by test."""
    from .operators.graph import EIGEN_ITERS, TRI_MAX_ORDER_ITEMS

    steps = []
    for k in range(1, EIGEN_ITERS + 1):
        steps.append(
            f"""y{k} as (
    select s.dst as node, sum(x.score) as y
    from sym s join x{k - 1} x on x.node = s.src
    group by s.dst
),
n{k} as (select sqrt(sum(y * y)) as nrm from y{k}),
x{k} as (select node, y / (select nrm from n{k}) as score from y{k})"""
        )
    joined = ",\n".join(steps)
    return f"""
with li as (select distinct l_orderkey as o, l_partkey as p from lineitem),
ok as (select o from li group by o having count(*) <= {TRI_MAX_ORDER_ITEMS}),
li2 as (select li.* from li join ok using (o)),
edges as (
    select distinct a.p as x, b.p as y
    from li2 a join li2 b on a.o = b.o and a.p < b.p
),
sym as (select x as src, y as dst from edges
        union all
        select y as src, x as dst from edges),
deg as (select src, count(*) as deg from sym group by src),
x0 as (select src as node, 1.0e0 as score from deg),
{joined}
select x.node as part_id, g.deg as degree, round(x.score, 6) as score
from x{EIGEN_ITERS} x join deg g on g.src = x.node
"""


PARTS_COPURCHASE_EIGENCENTRALITY = _eigencentrality_sql()


def _kmv_set_ops_sql() -> str:
    """Mirror of events_kmv_set_ops: identical sketch registers (same
    h60 hash, same k-min window), identical theta = least(theta_a,
    theta_b), identical fixed-order estimate arithmetic
    (cast-to-double count × (SPACE / theta) — bigint/double promotion
    matches Spark's), identical integer/coalesce handling for pairs
    with empty samples."""
    from .operators.events import KMV_K, KMV_SPACE

    space_lit = f"{float(KMV_SPACE)!r}".replace("e+", "e")  # plain double literal
    return f"""
with ev as (
    select distinct event_type, {_h60('user_id::varchar')} as h from events
),
kept as (
    select event_type, h from (
        select event_type, h,
               row_number() over (partition by event_type order by h) as rn
        from ev
    ) where rn <= {KMV_K}
),
th as (
    select event_type,
           case when count(*) >= {KMV_K} then max(h)
                else {KMV_SPACE} end as theta_t
    from kept group by event_type
),
spine as (
    select a.event_type as type_a, b.event_type as type_b,
           least(a.theta_t, b.theta_t) as theta
    from th a join th b on a.event_type < b.event_type
),
inter as (
    select ka.event_type as type_a, kb.event_type as type_b,
           count(*) as n
    from kept ka
    join kept kb on kb.h = ka.h and ka.event_type < kb.event_type
    join spine s on s.type_a = ka.event_type and s.type_b = kb.event_type
    where ka.h < s.theta
    group by 1, 2
),
uni as (
    select type_a, type_b, count(distinct h) as n from (
        select s.type_a, s.type_b, k.h, s.theta
        from spine s join kept k on k.event_type = s.type_a
        union all
        select s.type_a, s.type_b, k.h, s.theta
        from spine s join kept k on k.event_type = s.type_b
    ) where h < theta
    group by 1, 2
),
tu as (select distinct event_type, user_id from events),
exct as (
    select a.event_type as type_a, b.event_type as type_b, count(*) as n
    from tu a join tu b on b.user_id = a.user_id
                       and a.event_type < b.event_type
    group by 1, 2
)
select s.type_a, s.type_b, s.theta,
       coalesce(i.n, 0) as n_inter_sample,
       coalesce(u.n, 0) as n_union_sample,
       cast(coalesce(i.n, 0) as double) * ({space_lit} / s.theta)
         as est_intersection,
       cast(coalesce(u.n, 0) as double) * ({space_lit} / s.theta)
         as est_union,
       case when coalesce(u.n, 0) > 0
            then coalesce(i.n, 0) / coalesce(u.n, 0) end as est_jaccard,
       coalesce(e.n, 0) as exact_intersection
from spine s
left join inter i on i.type_a = s.type_a and i.type_b = s.type_b
left join uni u on u.type_a = s.type_a and u.type_b = s.type_b
left join exct e on e.type_a = s.type_a and e.type_b = s.type_b
"""


EVENTS_KMV_SET_OPS = _kmv_set_ops_sql()


def _kmv_anotb_sql() -> str:
    """Mirror of events_kmv_anotb: same registers and theta as the
    set-ops oracle; the directional sample is an anti-join of A's
    below-theta hashes against B's sketch (valid because theta <=
    theta_B: any true B member below theta must be retained in B);
    exact riders derived as |A| - |A∩B| from one distinct scan."""
    from .operators.events import KMV_K, KMV_SPACE

    space_lit = f"{float(KMV_SPACE)!r}".replace("e+", "e")
    return f"""
with ev as (
    select distinct event_type, {_h60('user_id::varchar')} as h from events
),
kept as (
    select event_type, h from (
        select event_type, h,
               row_number() over (partition by event_type order by h) as rn
        from ev
    ) where rn <= {KMV_K}
),
th as (
    select event_type,
           case when count(*) >= {KMV_K} then max(h)
                else {KMV_SPACE} end as theta_t
    from kept group by event_type
),
spine as (
    select a.event_type as type_a, b.event_type as type_b,
           least(a.theta_t, b.theta_t) as theta
    from th a join th b on a.event_type < b.event_type
),
anb as (
    select s.type_a, s.type_b, count(*) as n
    from spine s
    join kept ka on ka.event_type = s.type_a and ka.h < s.theta
    where not exists (
        select 1 from kept kb
        where kb.event_type = s.type_b and kb.h = ka.h
    )
    group by 1, 2
),
bna as (
    select s.type_a, s.type_b, count(*) as n
    from spine s
    join kept kb on kb.event_type = s.type_b and kb.h < s.theta
    where not exists (
        select 1 from kept ka
        where ka.event_type = s.type_a and ka.h = kb.h
    )
    group by 1, 2
),
tu as (select distinct event_type, user_id from events),
pt as (select event_type, count(*) as n_exact from tu group by event_type),
exct as (
    select a.event_type as type_a, b.event_type as type_b, count(*) as n
    from tu a join tu b on b.user_id = a.user_id
                       and a.event_type < b.event_type
    group by 1, 2
)
select s.type_a, s.type_b, s.theta,
       coalesce(a.n, 0) as n_a_not_b,
       coalesce(b.n, 0) as n_b_not_a,
       cast(coalesce(a.n, 0) as double) * ({space_lit} / s.theta)
         as est_a_not_b,
       cast(coalesce(b.n, 0) as double) * ({space_lit} / s.theta)
         as est_b_not_a,
       pa.n_exact - coalesce(e.n, 0) as exact_a_not_b,
       pb.n_exact - coalesce(e.n, 0) as exact_b_not_a
from spine s
join pt pa on pa.event_type = s.type_a
join pt pb on pb.event_type = s.type_b
left join anb a on a.type_a = s.type_a and a.type_b = s.type_b
left join bna b on b.type_a = s.type_a and b.type_b = s.type_b
left join exct e on e.type_a = s.type_a and e.type_b = s.type_b
"""


EVENTS_KMV_ANOTB = _kmv_anotb_sql()


def _token_budget_pack_sql() -> str:
    """Mirror of corpus_token_budget_pack: identical quality expression
    (TEXT_QUALITY's, bit-equal), identical (quality desc, doc_id) total
    order, integer-exact inclusive running sum (windowed sum(bigint) →
    HUGEIT in DuckDB, cast back), identical ⌊total·pct/100⌋ budget."""
    from .operators.llm_prep import BUDGET_PCT

    return f"""
with q as ({TEXT_QUALITY}),
ranked as (
    select doc_id, quality_score, n_tokens,
           cast(row_number() over
                (order by quality_score desc, doc_id) as bigint) as position,
           cast(sum(n_tokens) over
                (order by quality_score desc, doc_id
                 rows unbounded preceding) as bigint) as cum_tokens
    from q
),
budget as (
    select cast(sum(n_tokens) * {BUDGET_PCT} // 100 as bigint) as b from q
)
select doc_id, quality_score, n_tokens, position, cum_tokens
from ranked
where cum_tokens <= (select b from budget)
"""


CORPUS_TOKEN_BUDGET_PACK = _token_budget_pack_sql()


def _hll_set_ops_sql() -> str:
    """Mirror of events_hll_set_ops: identical registers (the
    _hll_distinct_sql math), register-wise max union per type pair,
    identical estimate expression per sketch, identical
    greatest(0, (est_a + est_b) − est_union) inclusion-exclusion."""
    from .operators.events import HLL_EST_NUMER, HLL_M, HLL_W_BITS

    two61 = 1 << 61
    mask = (1 << HLL_W_BITS) - 1
    numer = repr(float(HLL_EST_NUMER))
    m_f = repr(float(HLL_M))
    cut = repr(2.5 * HLL_M)

    def est(nz: str, rs: str) -> str:
        return (
            f"case when {numer} / {rs} <= {cut} and {nz} > 0 "
            f"then {m_f} * ln({m_f} / {nz}) "
            f"else {numer} / {rs} end"
        )

    def sk(src: str, keys: str) -> str:
        return f"""
    select {keys},
           cast({HLL_M} - count(*) as bigint) as nz,
           cast(cast(sum(cast(1::bigint << cast(61 - m as integer)
                             as decimal(38,0))) as decimal(38,0))
                + cast({HLL_M} - count(*) as decimal(38,0))
                  * cast({two61} as decimal(38,0)) as double) as rs
    from {src} group by {keys}"""

    return f"""
with ev as (
    select distinct event_type, {_h60('user_id::varchar')} as h from events
),
b as (
    select event_type, h >> {HLL_W_BITS} as bucket, h & {mask} as w from ev
),
reg as (
    select event_type, bucket,
           max(case when w = 0 then {HLL_W_BITS + 1}
               else cast(round(log2(cast(w & -w as double))) as bigint) + 1
               end) as m
    from b group by event_type, bucket
),
per_type_sk as ({sk('reg', 'event_type')}
),
per_type as (
    select event_type, {est('nz', 'rs')} as est_t from per_type_sk
),
spine as (
    select a.event_type as type_a, b.event_type as type_b,
           a.est_t as est_a, b.est_t as est_b
    from per_type a join per_type b on a.event_type < b.event_type
),
union_regs as (
    select s.type_a, s.type_b, r.bucket, max(r.m) as m
    from spine s
    join reg r on r.event_type = s.type_a or r.event_type = s.type_b
    group by 1, 2, 3
),
union_sk as ({sk('union_regs', 'type_a, type_b')}
),
tu as (select distinct event_type, user_id from events),
exct as (
    select a.event_type as type_a, b.event_type as type_b, count(*) as n
    from tu a join tu b on b.user_id = a.user_id
                       and a.event_type < b.event_type
    group by 1, 2
)
select s.type_a, s.type_b,
       u.nz as union_zero_regs,
       u.rs as union_reg_sum_e61,
       s.est_a, s.est_b,
       {est('u.nz', 'u.rs')} as est_union,
       greatest(0.0e0, (s.est_a + s.est_b) - ({est('u.nz', 'u.rs')}))
         as est_intersection,
       coalesce(e.n, 0) as exact_intersection
from spine s
join union_sk u on u.type_a = s.type_a and u.type_b = s.type_b
left join exct e on e.type_a = s.type_a and e.type_b = s.type_b
"""


EVENTS_HLL_SET_OPS = _hll_set_ops_sql()


def _jaccard_links_sql() -> str:
    """Mirrors parts_copurchase_jaccard_links: the Adamic-Adar oracle's
    shared-edge construction and capped wedge enumeration, the weight
    column dropped, union size from the UNCAPPED degree table as
    deg(u)+deg(v)-common, 6-dp rounded exact-integer division."""
    from .operators.graph import (
        AA_MAX_CENTER_DEG,
        AA_MIN_COMMON,
        TRI_MAX_ORDER_ITEMS,
    )

    return f"""
with li as (
    select distinct l_orderkey as o, l_partkey as p from lineitem
),
keep as (
    select o from li group by o having count(*) <= {TRI_MAX_ORDER_ITEMS}
),
li2 as (
    select li.o, li.p from li join keep on keep.o = li.o
),
edges as materialized (
    select distinct a.p as x, b.p as y
    from li2 a join li2 b on a.o = b.o and a.p < b.p
),
sym as materialized (
    select x as src, y as dst from edges
    union all
    select y as src, x as dst from edges
),
deg as materialized (
    select src, cast(count(*) as bigint) as deg from sym group by 1
),
centers as (
    select sym.src, sym.dst
    from sym join deg d on d.src = sym.src
    where d.deg between 2 and {AA_MAX_CENTER_DEG}
),
pairs as (
    select a.dst as x, b.dst as y,
           cast(count(*) as bigint) as common
    from centers a join centers b on a.src = b.src and a.dst < b.dst
    group by 1, 2
    having count(*) >= {AA_MIN_COMMON}
)
select p.x as part_a, p.y as part_b, p.common,
       round(p.common / (dx.deg + dy.deg - p.common), 6) as jaccard
from pairs p
join deg dx on dx.src = p.x
join deg dy on dy.src = p.y
where not exists (
    select 1 from edges e where e.x = p.x and e.y = p.y
)
"""


PARTS_COPURCHASE_JACCARD_LINKS = _jaccard_links_sql()


def _degree_powerlaw_sql() -> str:
    """Mirrors parts_copurchase_degree_powerlaw: same edge/degree CTEs,
    exact-integer extrema/counts, one double division for the mean and
    the Clauset-Shalizi-Newman continuous-MLE alpha over an ln-sum."""
    from .operators.graph import TRI_MAX_ORDER_ITEMS

    return f"""
with li as (
    select distinct l_orderkey as o, l_partkey as p from lineitem
),
keep as (
    select o from li group by o having count(*) <= {TRI_MAX_ORDER_ITEMS}
),
li2 as (
    select li.o, li.p from li join keep on keep.o = li.o
),
edges as materialized (
    select distinct a.p as x, b.p as y
    from li2 a join li2 b on a.o = b.o and a.p < b.p
),
sym as (
    select x as src, y as dst from edges
    union all
    select y as src, x as dst from edges
),
deg as (
    select src, cast(count(*) as bigint) as deg from sym group by 1
),
ds as (
    select cast(count(*) as bigint) as n_nodes,
           min(deg) as min_deg,
           max(deg) as max_deg,
           cast(sum(deg) as bigint) as sum_deg,
           sum(ln(cast(deg as double) / 0.5e0)) as sum_ln
    from deg
),
ne as (select cast(count(*) as bigint) as n_edges from edges)
select ds.n_nodes, ne.n_edges, ds.min_deg, ds.max_deg,
       round(ds.sum_deg / ds.n_nodes, 6) as mean_deg,
       round(1.0e0 + ds.n_nodes / ds.sum_ln, 6) as alpha_mle
from ds, ne
"""


PARTS_COPURCHASE_DEGREE_POWERLAW = _degree_powerlaw_sql()


def _ppr_sql() -> str:
    """Mirrors parts_copurchase_ppr: the PageRank oracle's unrolled power
    iteration with the restart term as a per-round |S|-row UNION ALL into
    the dst-keyed sum (so unreached nodes never appear), seeds = top-S by
    (deg desc, src asc), every float literal e0-suffixed for IEEE
    doubles."""
    from .operators.graph import (
        PPR_DAMPING,
        PPR_ITERS,
        PPR_N_SEEDS,
        TRI_MAX_ORDER_ITEMS,
    )

    d = f"{PPR_DAMPING}e0"
    s = PPR_N_SEEDS
    steps = []
    for k in range(1, PPR_ITERS + 1):
        steps.append(
            f"""it{k} as (
    select node, sum(val) as "rank" from (
        select s.dst as node, {d} * r."rank" / g.deg as val
        from sym s
        join it{k - 1} r on r.node = s.src
        join deg g on g.src = s.src
        union all
        select node, (1.0e0 - {d}) / {s} as val from seeds
    ) u group by node
)"""
        )
    joined_steps = ",\n".join(steps)
    return f"""
with li as (select distinct l_orderkey as o, l_partkey as p from lineitem),
ok as (select o from li group by o having count(*) <= {TRI_MAX_ORDER_ITEMS}),
li2 as (select li.* from li join ok using (o)),
edges as (
    select distinct a.p as x, b.p as y
    from li2 a join li2 b on a.o = b.o and a.p < b.p
),
sym as (select x as src, y as dst from edges
        union all
        select y as src, x as dst from edges),
deg as (select src, cast(count(*) as bigint) as deg from sym group by src),
seeds as (
    select src as node from deg order by deg desc, src asc limit {s}
),
it0 as (select node, 1.0e0 / {s} as "rank" from seeds),
{joined_steps}
select r.node as part_id, g.deg as degree, round(r."rank", 6) as rank
from it{PPR_ITERS} r join deg g on g.src = r.node
"""


PARTS_COPURCHASE_PPR = _ppr_sql()


TEXT_READABILITY = """
with c as (
    select doc_id, lang,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) as n_words,
           greatest(1, len(regexp_extract_all(text, '[.!?]+'))) as n_sentences,
           len(regexp_extract_all(lower(text), '[aeiouy]+')) as n_syllables
    from documents
)
select doc_id, lang, n_words, n_sentences, n_syllables,
       round(206.835e0
             - 1.015e0 * (n_words / n_sentences)
             - 84.6e0 * (n_syllables / n_words), 6) as flesch
from c
where n_words > 0
"""


def _tokenizer_fertility_sql() -> str:
    """Mirrors corpus_tokenizer_fertility: the TEXT_TOKENS regex pair,
    exact-integer sums per language, two 6-dp-rounded IEEE divisions."""
    return f"""
with c as (
    select lang,
           length(text) as n_chars,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) as n_words,
           len(regexp_extract_all(lower(text), '{_BPE_SQL}')) as n_bpe
    from documents
),
s as (
    -- sum(bigint) is HUGEINT in DuckDB; cast back so the divisions
    -- below are the same bigint/bigint -> double ops Spark runs
    select lang,
           cast(count(*) as bigint) as n_docs,
           cast(sum(n_words) as bigint) as n_words,
           cast(sum(n_bpe) as bigint) as n_bpe_tokens,
           cast(sum(n_chars) as bigint) as n_chars
    from c
    group by lang
)
select lang, n_docs, n_words, n_bpe_tokens,
       round(n_bpe_tokens / n_words, 6) as fertility,
       round(n_chars / n_bpe_tokens, 6) as chars_per_bpe_token
from s
"""


CORPUS_TOKENIZER_FERTILITY = _tokenizer_fertility_sql()


def _heavy_terms_sql() -> str:
    """Mirrors text_heavy_terms_mg: the exact > n/k token set (the MG
    pass is a superset-then-exact-recount scheme, so the oracle is the
    direct exact computation), integer threshold compare, 6-dp share."""
    from .operators.text_analysis import MG_K

    return f"""
with w as (
    select unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as token
    from documents
),
n as (select cast(count(*) as bigint) as n_total from w),
c as (
    select token, cast(count(*) as bigint) as freq from w group by token
)
select c.token, c.freq, n.n_total,
       round(c.freq / n.n_total, 6) as share
from c, n
where c.freq * {MG_K} > n.n_total
"""


TEXT_HEAVY_TERMS_MG = _heavy_terms_sql()


def _lagged_crosscorr_sql() -> str:
    """Mirrors events_lagged_crosscorr: (type, day) aggregate, in-row
    lag expansion, date-shift equi-join, exact bigint moments (HUGEINT
    sums cast back), the textbook fixed-order Pearson expression."""
    from .operators.timeseries import (
        XCORR_MAX_LAG,
        XCORR_MIN_DAYS,
        XCORR_X_TYPE,
        XCORR_Y_TYPE,
    )

    return f"""
with daily as (
    select event_type, cast(ts as date) as day,
           cast(count(*) as bigint) as c
    from events
    where event_type in ('{XCORR_X_TYPE}', '{XCORR_Y_TYPE}')
    group by 1, 2
),
xs as (select day, c as x from daily where event_type = '{XCORR_X_TYPE}'),
ys as (select day as y_day, c as y from daily where event_type = '{XCORR_Y_TYPE}'),
xl as (
    select xs.day, xs.x, cast(l.lag_days as integer) as lag_days
    from xs, (select unnest(range(-{XCORR_MAX_LAG}, {XCORR_MAX_LAG} + 1)) as lag_days) l
),
j as (
    select xl.lag_days, xl.x, ys.y
    from xl join ys on ys.y_day = xl.day + xl.lag_days
),
m as (
    select lag_days,
           cast(count(*) as bigint) as n_days,
           cast(sum(x) as bigint) as sum_x,
           cast(sum(y) as bigint) as sum_y,
           cast(sum(x * y) as bigint) as sxy,
           cast(sum(x * x) as bigint) as sxx,
           cast(sum(y * y) as bigint) as syy
    from j group by lag_days
),
v as (
    select *,
           n_days * sxx - sum_x * sum_x as vx,
           n_days * syy - sum_y * sum_y as vy
    from m
)
select lag_days, n_days, sum_x, sum_y,
       round((n_days * sxy - sum_x * sum_y)
             / sqrt(cast(vx as double) * cast(vy as double)), 6) as r
from v
where vx > 0 and vy > 0 and n_days >= {XCORR_MIN_DAYS}
"""


EVENTS_LAGGED_CROSSCORR = _lagged_crosscorr_sql()


def _rrf_fusion_sql() -> str:
    """Mirrors ann_topk_rrf_fusion: the IVF and LSH oracles as scoped
    subqueries (the recall-eval composition precedent), exact 1/(k0+rank)
    terms, (rrf desc, neighbor asc) fused top-k."""
    from .operators.similarity import RRF_K0, RRF_TOP_K

    return f"""
with rrf_a as (
    select query_id, neighbor_id, "rank" from ({ANN_TOPK_IVF})
),
rrf_b as (
    select query_id, neighbor_id, "rank" from ({ANN_TOPK_LSH})
),
u as (
    select * from rrf_a union all select * from rrf_b
),
s as (
    select query_id, neighbor_id,
           cast(count(*) as bigint) as n_lists,
           sum(1.0e0 / ({RRF_K0} + "rank")) as rrf
    from u group by 1, 2
),
r as (
    select *, row_number() over (
        partition by query_id order by rrf desc, neighbor_id asc
    ) as rrf_rank from s
)
select query_id, neighbor_id, n_lists, round(rrf, 6) as rrf,
       cast(rrf_rank as bigint) as rrf_rank
from r where rrf_rank <= {RRF_TOP_K}
"""


ANN_TOPK_RRF_FUSION = _rrf_fusion_sql()


EMBEDDING_DIM_STATS = """
with x as (
    select cast(unnest(embedding) as double) as val,
           unnest(range(0, len(embedding))) as dim
    from embeddings
),
a as (
    select dim,
           cast(count(*) as bigint) as n,
           sum(val) as s1,
           sum(val * val) as s2,
           min(val) as mn,
           max(val) as mx
    from x group by dim
)
select dim, n,
       round(s1 / n, 6) as mean,
       round(sqrt((n * s2 - s1 * s1) / (n * (n - 1))), 6) as std,
       round(mn, 6) as min_v,
       round(mx, 6) as max_v
from a
"""


EVENTS_MARKOV_ENTROPY = f"""
with m as ({EVENTS_MARKOV})
select from_type,
       cast(sum(n_transitions) as bigint) as n_out,
       cast(count(*) as bigint) as n_successors,
       round(-sum(p * log2(p)), 6) as entropy_bits
from m group by from_type
"""


def _modularity_sql() -> str:
    """Mirrors parts_copurchase_modularity: the LPA-communities oracle
    as a scoped subquery (labels), md_-prefixed edge/degree CTEs (the
    cc_ nested-oracle discipline), exact integer m/m_c/D_c and the
    fixed-order Newman Q_c expression."""
    from .operators.graph import TRI_MAX_ORDER_ITEMS

    return f"""
with md_lab as (
    select part_id as node, community from ({PARTS_COPURCHASE_COMMUNITIES})
),
md_li as (
    select distinct l_orderkey as o, l_partkey as p from lineitem
),
md_keep as (
    select o from md_li group by o having count(*) <= {TRI_MAX_ORDER_ITEMS}
),
md_li2 as (
    select md_li.o, md_li.p from md_li join md_keep on md_keep.o = md_li.o
),
md_edges as materialized (
    select distinct a.p as x, b.p as y
    from md_li2 a join md_li2 b on a.o = b.o and a.p < b.p
),
md_sym as (
    select x as src, y as dst from md_edges
    union all
    select y as src, x as dst from md_edges
),
md_deg as (
    select src, cast(count(*) as bigint) as deg from md_sym group by 1
),
md_m as (select cast(count(*) as bigint) as m from md_edges),
md_intra as (
    select la.community, cast(count(*) as bigint) as m_intra
    from md_edges e
    join md_lab la on la.node = e.x
    join md_lab lb on lb.node = e.y
    where la.community = lb.community
    group by 1
),
md_d as (
    select la.community,
           cast(count(*) as bigint) as n_nodes,
           cast(sum(d.deg) as bigint) as d_total
    from md_deg d join md_lab la on la.node = d.src
    group by 1
)
select d.community, d.n_nodes,
       coalesce(i.m_intra, 0) as m_intra,
       d.d_total,
       round(coalesce(i.m_intra, 0) / m.m
             - (d.d_total / (2 * m.m)) * (d.d_total / (2 * m.m)), 6) + 0.0e0
         as q_contrib
from md_d d
left join md_intra i on i.community = d.community, md_m m
"""


PARTS_COPURCHASE_MODULARITY = _modularity_sql()


def _rake_phrases_sql() -> str:
    """Mirrors text_rake_phrases: identical three-stage segmentation
    (whitespace normalize, punctuation -> '|', word-bounded stopword
    alternation -> '|'), corpus-wide deg/freq word stats over ALL phrase
    instances, distinct (doc, phrase) candidates, (score desc, phrase)
    top-k."""
    from .operators.text_analysis import RAKE_TOP_K, rake_stopword_re

    stop_re = rake_stopword_re().replace("'", "''")
    return f"""
with p0 as (
    select doc_id,
           unnest(string_split(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(lower(text), '\\s+', ' ', 'g'),
                       '[^a-z0-9 ]+', '|', 'g'),
                   '{stop_re}', '|', 'g'),
               '|')) as ph0
    from documents
),
ph as (
    select doc_id, trim(ph0) as phrase from p0 where trim(ph0) <> ''
),
iw as (
    select unnest(string_split(phrase, ' ')) as word,
           len(string_split(phrase, ' ')) as plen
    from ph
),
ws as (
    select word, cast(count(*) as bigint) as freq,
           cast(sum(plen) as bigint) as deg
    from iw group by 1
),
cand as (select distinct doc_id, phrase from ph),
cw as (
    select doc_id, phrase,
           unnest(string_split(phrase, ' ')) as word
    from cand
),
sc as (
    select cw.doc_id, cw.phrase,
           cast(count(*) as bigint) as n_words,
           sum(ws.deg / ws.freq) as score
    from cw join ws on ws.word = cw.word
    group by 1, 2
),
r as (
    select *, row_number() over (
        partition by doc_id order by score desc, phrase asc
    ) as phrase_rank from sc
)
select doc_id, phrase, n_words, round(score, 6) as score,
       cast(phrase_rank as bigint) as phrase_rank
from r where phrase_rank <= {RAKE_TOP_K}
"""


TEXT_RAKE_PHRASES = _rake_phrases_sql()


def _zipf_slope_sql() -> str:
    """Mirrors text_zipf_slope: WORD_RE token counts, (freq desc, token)
    top-N, ln/ln OLS closed form in the identical IEEE op order."""
    from .operators.text_analysis import ZIPF_TOP_TERMS

    return f"""
with tk as (
    select unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as tok
    from documents
),
f as (select tok, cast(count(*) as bigint) as freq from tk group by 1),
top as (
    select tok, freq,
           row_number() over (order by freq desc, tok asc) as rk
    from f qualify rk <= {ZIPF_TOP_TERMS}
),
xy as (
    select ln(cast(rk as double)) as x, ln(cast(freq as double)) as y
    from top
),
m as (
    select cast(count(*) as bigint) as n,
           sum(x) as sx, sum(y) as sy,
           sum(x * y) as sxy, sum(x * x) as sxx, sum(y * y) as syy
    from xy
)
select n as n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) as slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         as intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) as r2
from m
"""


TEXT_ZIPF_SLOPE = _zipf_slope_sql()


def _centroid_outliers_sql() -> str:
    """Mirrors embedding_centroid_outliers: positional unnest zip,
    per-dim centroid, centroid-distance z-score thresholded on the
    ROUNDED z in both engines."""
    from .operators.clustering import OUTLIER_Z

    return f"""
with vals as (
    select vec_id,
           cast(unnest(embedding) as double) as v,
           unnest(range(0, len(embedding))) as dim
    from embeddings
),
cent as (select dim, sum(v) / count(*) as m from vals group by dim),
dist as (
    select vals.vec_id, sqrt(sum((vals.v - cent.m) * (vals.v - cent.m))) as dist
    from vals join cent on cent.dim = vals.dim
    group by vals.vec_id
),
mom as (
    select cast(count(*) as bigint) as n, sum(dist) as s1,
           sum(dist * dist) as s2
    from dist
),
z as (
    select vec_id, round(dist, 6) as dist,
           round((dist - s1 / n)
                 / sqrt((n * s2 - s1 * s1) / (n * (n - 1))), 6) as z
    from dist, mom
)
select vec_id, dist, z from z where z > {OUTLIER_Z}e0
"""


EMBEDDING_CENTROID_OUTLIERS = _centroid_outliers_sql()


CUSTOMERS_REORDER_INTERVALS = """
with o as (
    select o_custkey, cast(o_orderdate as date) as od, o_orderkey from orders
),
g as (
    select o_custkey,
           date_diff('day',
                     lag(od) over (partition by o_custkey
                                   order by od, o_orderkey),
                     od) as gap
    from o
),
gg as (select o_custkey, gap from g where gap is not null)
select c.c_mktsegment,
       cast(count(distinct gg.o_custkey) as bigint) as n_customers,
       cast(count(*) as bigint) as n_gaps,
       round(cast(sum(gg.gap) as bigint) / count(*), 6) as avg_gap_days,
       cast(min(gg.gap) as bigint) as min_gap_days,
       cast(max(gg.gap) as bigint) as max_gap_days
from gg join customer c on c.c_custkey = gg.o_custkey
group by c.c_mktsegment
"""


def _gopher_rules_sql() -> str:
    """Mirrors corpus_gopher_rules: identical WORD_RE / symbol / stopword
    regex counts, cross-multiplied integer rule comparisons, 6-dp
    display ratios."""
    from .operators.llm_prep import (
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO_10,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_RATIO_5,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
    )
    from .operators.text_analysis import LANG_STOPWORDS

    stops = ", ".join(
        f"'{w}'" for ws in LANG_STOPWORDS.values() for w in ws
    )
    return f"""
with base as (
    select doc_id,
           regexp_extract_all(lower(text), '[a-z0-9]+') as words,
           len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) as n_symbols
    from documents
),
sig as (
    select doc_id,
           cast(len(words) as bigint) as n_words,
           cast(len(array_to_string(words, '')) as bigint) as sum_len,
           cast(n_symbols as bigint) as n_symbols,
           cast(len(list_distinct(list_filter(words,
                w -> list_contains([{stops}], w)))) as bigint) as n_stopwords,
           cast(len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
                as bigint) as n_alpha
    from base
)
select doc_id, n_words,
       round(sum_len / n_words, 6) as mean_word_len,
       round(n_symbols / n_words, 6) as symbol_ratio,
       n_stopwords,
       round(n_alpha / n_words, 6) as alpha_word_ratio,
       cast(n_words >= {GOPHER_MIN_WORDS}
            and n_words <= {GOPHER_MAX_WORDS} as int) as pass_word_count,
       cast(sum_len >= {GOPHER_MIN_MEAN_WORD_LEN} * n_words
            and sum_len <= {GOPHER_MAX_MEAN_WORD_LEN} * n_words as int)
         as pass_word_len,
       cast(n_symbols * 10 <= {GOPHER_MAX_SYMBOL_RATIO_10} * n_words as int)
         as pass_symbol,
       cast(n_stopwords >= {GOPHER_MIN_STOPWORDS} as int) as pass_stopwords,
       cast(n_alpha * 5 >= {GOPHER_MIN_ALPHA_RATIO_5} * n_words as int)
         as pass_alpha,
       cast((n_words >= {GOPHER_MIN_WORDS} and n_words <= {GOPHER_MAX_WORDS})
            and (sum_len >= {GOPHER_MIN_MEAN_WORD_LEN} * n_words
                 and sum_len <= {GOPHER_MAX_MEAN_WORD_LEN} * n_words)
            and (n_symbols * 10 <= {GOPHER_MAX_SYMBOL_RATIO_10} * n_words)
            and (n_stopwords >= {GOPHER_MIN_STOPWORDS})
            and (n_alpha * 5 >= {GOPHER_MIN_ALPHA_RATIO_5} * n_words)
            as int) as passes_all
from sig
where n_words > 0
"""


CORPUS_GOPHER_RULES = _gopher_rules_sql()


ORDERS_FULFILLMENT_LATENCY = """
with g as (
    select o.o_orderpriority,
           date_diff('day', cast(o.o_orderdate as date),
                     cast(l.l_shipdate as date)) as gap
    from lineitem l join orders o on o.o_orderkey = l.l_orderkey
)
select o_orderpriority,
       cast(count(*) as bigint) as n_items,
       round(cast(sum(gap) as bigint) / count(*), 6) as avg_days,
       quantile_cont(gap, 0.5) as p50,
       quantile_cont(gap, 0.9) as p90,
       quantile_cont(gap, 0.99) as p99
from g group by o_orderpriority
"""


def _top_component_sql() -> str:
    """Mirrors embedding_top_component: positional-unnest centering,
    ``PCA_ITERS`` unrolled s/y/norm rounds from the all-ones start,
    final variance-along projection."""
    from .operators.clustering import PCA_ITERS

    steps = []
    for i in range(1, PCA_ITERS + 1):
        prev = f"x{i - 1}"
        steps.append(
            f"""s{i} as (
    select vec_id, sum(cv * x) as s
    from cvals join {prev} using (dim) group by vec_id
),
y{i} as (
    select dim, sum(cv * s) as y
    from cvals join s{i} using (vec_id) group by dim
),
x{i} as (
    select dim, y / (select sqrt(sum(y * y)) from y{i}) as x from y{i}
)"""
        )
    joined = ",\n".join(steps)
    last = f"x{PCA_ITERS}"
    return f"""
with vals as (
    select vec_id,
           cast(unnest(embedding) as double) as v,
           unnest(range(0, len(embedding))) as dim
    from embeddings
),
cent as (select dim, sum(v) / count(*) as m from vals group by dim),
cvals as materialized (
    select vals.vec_id, vals.dim, vals.v - cent.m as cv
    from vals join cent on cent.dim = vals.dim
),
x0 as (select dim, 1.0e0 as x from cent),
{joined},
sf as (
    select vec_id, sum(cv * x) as s
    from cvals join {last} using (dim) group by vec_id
),
st as (select cast(count(*) as bigint) as n, sum(s * s) as ss from sf)
select {last}.dim, round({last}.x, 6) as loading,
       round(st.ss / (st.n - 1), 6) as variance_explained
from {last}, st
"""


EMBEDDING_TOP_COMPONENT = _top_component_sql()


NATION_SUPPLIER_HHI = """
with li as (
    select l_suppkey,
           cast(round(l_extendedprice * 100) as bigint)
             * (100 - cast(round(l_discount * 100) as bigint)) as rev_e4
    from lineitem
),
per_supp as (
    select s.s_nationkey, s.s_suppkey,
           cast(sum(li.rev_e4) as bigint) as rev
    from li join supplier s on s.s_suppkey = li.l_suppkey
    group by 1, 2
),
shares as (
    select s_nationkey, rev,
           rev / cast(sum(rev) over (partition by s_nationkey) as bigint)
             as share
    from per_supp
),
agg as (
    select s_nationkey,
           cast(count(*) as bigint) as n_suppliers,
           cast(sum(rev) as bigint) as total_rev_e4,
           round(sum(share * share), 6) as hhi,
           round(max(share), 6) as top_share
    from shares group by 1
)
select n.n_name, a.n_suppliers, a.total_rev_e4, a.hhi, a.top_share
from agg a join nation n on n.n_nationkey = a.s_nationkey
"""


EVENTS_BURSTINESS = """
with e as (
    select event_type, cast(floor(epoch(ts)) as bigint) as sec, event_id
    from events
),
g as (
    select event_type,
           cast(sec - lag(sec) over (partition by event_type
                                     order by sec, event_id) as double) as gap
    from e
),
gg as (select event_type, gap from g where gap is not null),
m as (
    select event_type,
           cast(count(*) as bigint) as n,
           sum(gap) as s1,
           sum(gap * gap) as s2
    from gg group by 1
)
select event_type, n as n_gaps,
       round(s1 / n, 6) as mean_gap_s,
       round((sqrt((n * s2 - s1 * s1) / (n * (n - 1))) - s1 / n)
             / (sqrt((n * s2 - s1 * s1) / (n * (n - 1))) + s1 / n), 6)
         as burstiness
from m where n >= 2
"""


TEXT_LEXICAL_DIVERSITY = """
with tk as (
    select lang,
           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as tok
    from documents
),
pt as (
    select lang, tok, cast(count(*) as bigint) as c from tk group by 1, 2
),
a as (
    select lang,
           cast(sum(c) as bigint) as n_tokens,
           cast(count(*) as bigint) as n_types,
           cast(sum(case when c = 1 then 1 else 0 end) as bigint) as n_hapax
    from pt group by lang
)
select lang, n_tokens, n_types, n_hapax,
       round(n_types / n_tokens, 6) as type_token_ratio,
       round(n_hapax / n_types, 6) as hapax_share
from a
"""


CORPUS_SOURCE_DIVERGENCE = """
with tk as (
    select source,
           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as tok
    from documents
),
st as (
    select source, tok, cast(count(*) as bigint) as c_st
    from tk group by 1, 2
),
s_tot as (select source, cast(sum(c_st) as bigint) as n_s from st group by 1),
g as (select tok, cast(count(*) as bigint) as c_t from tk group by 1),
n_tot as (select cast(sum(c_t) as bigint) as n from g),
terms as (
    select st.source, s_tot.n_s,
           (st.c_st / s_tot.n_s)
             * log2(2 * (st.c_st / s_tot.n_s)
                    / ((st.c_st / s_tot.n_s) + (g.c_t / n_tot.n))) as tp,
           (g.c_t / n_tot.n)
             * log2(2 * (g.c_t / n_tot.n)
                    / ((st.c_st / s_tot.n_s) + (g.c_t / n_tot.n))) as tq,
           (g.c_t / n_tot.n) as qcov
    from st
    join s_tot on s_tot.source = st.source
    join g on g.tok = st.tok, n_tot
)
select source,
       max(n_s) as n_tokens,
       round(sum(qcov), 6) as coverage,
       round(0.5e0 * sum(tp) + 0.5e0 * (sum(tq) + (1.0e0 - sum(qcov))), 6)
         as jsd_bits
from terms group by source
"""


EMBEDDING_DISPERSION = """
with vals as (
    select vec_id,
           cast(unnest(embedding) as double) as v,
           unnest(range(0, len(embedding))) as dim
    from embeddings
),
sq as (select vec_id, sum(v * v) as sq from vals group by vec_id),
tot as (select cast(count(*) as bigint) as n, sum(sq) as ssq from sq),
comp as (select dim, sum(v) as s from vals group by dim),
cnorm as (select sum(s * s) as csq from comp)
select tot.n as n_vectors,
       round((tot.n * tot.ssq - cnorm.csq) / (tot.n * (tot.n - 1) / 2.0e0), 6)
         as mean_sq_dist,
       round(sqrt((tot.n * tot.ssq - cnorm.csq)
                  / (tot.n * (tot.n - 1) / 2.0e0)), 6) as rms_dist,
       round(sqrt(cnorm.csq) / tot.n, 6) as center_norm
from tot, cnorm
"""
