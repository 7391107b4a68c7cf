"""Text curation & analysis queries, and corpus planning."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.graph import pagerank_fixed_point
from ..operators.layout import _ring_points, reshard_plan
from ..operators.relational import fd_violation_census
from ..operators.stats import gini_by_group, simpson_index, tv_distance_pairs
from ..training.curate import curation_decisions, final_keep_list, quality_dup_interaction
from ..training.dedup import dup_rate_by_group, near_dup_split_leakage
from ..training.features import (
    feature_hash_profile,
    quota_allocate,
    systematic_sample,
    waterfill_allocate,
)
from ..training.pack import pack_sequences, shard_plan
from ..training.search import collocations
from ..training.select import importance_select, mix_plan, weighted_bernoulli_sample
from ..training.sketch import (
    bloom_decontam_stats,
    cms_heavy_hitters,
    hdr_length_quantiles,
    hll_registers,
    kmv_distinct,
    kmv_overlap,
)
from ..training.text import (
    BPE_PRETOKEN,
    LANG_MARKERS,
    PII_PATTERNS,
    STOPWORDS,
    bigram_diversity,
    boilerplate_cut_plan,
    boilerplate_spans,
    bpe_merge_candidates,
    burstiness,
    chunk_plan,
    digit_heavy_screen,
    hash_split_expr,
    heaps_curve,
    heaps_law_curve,
    lang_id,
    lang_mismatch,
    lang_profile,
    length_quantiles,
    license_screen,
    ngram_novelty,
    ngram_overlap,
    pii_scrub,
    prefix_families,
    quality_score,
    rarity_score,
    readability_profile,
    repetition_metrics,
    sample_stratified,
    shout_screen,
    simpson_diversity,
    tfidf_top_terms,
    token_count,
    token_count_bpe,
    token_length_histogram,
    top_ngrams,
    vocab_coverage,
    winnow_fingerprints,
    yule_k,
)
from ._common import (
    _CMS_TOP,
    _CMS_W,
    _HDR_HI_SQL,
    _HDR_LO_SQL,
    _JAC_TAIL,
    _MINHASH_P,
    _TOK_STREAM_SQL,
    _duck_hdr_bucket,
    _duck_minhash_base,
    _duck_minhash_seeds,
    _lsh_pairs_ctes,
    _pagerank_sql_over,
    _t,
)


# --- deterministic sketches (training/sketch.py) -------------------------
# KMV / HLL / count-min over the per-language token sets; every emitted
# cell is an exact integer, so the DuckDB oracles compare bit-for-bit.

_LANG_HASHES_CTES = rf"""words AS (
  SELECT DISTINCT lang AS grp, w FROM (
    SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
  ) WHERE w <> ''
),
hashes AS (SELECT DISTINCT grp, {_duck_minhash_base('w')} AS h FROM words)"""


_KMV_K = 64


def text_kmv_distinct(spark, sf_dir):
    # K-minimum-values distinct-token estimate per language: the sketch
    # is the k smallest distinct hashes; est = (k-1)*2^32 div kth_hash.
    # Two-stage lossless prune instead of one giant per-group sort (see
    # training/sketch.py:kmv_distinct for the scale argument).
    return kmv_distinct(_t(spark, sf_dir, "documents"), k=_KMV_K)


TEXT_KMV_SQL = rf"""
WITH {_LANG_HASHES_CTES},
ranked AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS r FROM hashes),
kept AS (SELECT grp, h FROM ranked WHERE r <= {_KMV_K})
SELECT grp, {_KMV_K}::BIGINT AS k, count(*)::BIGINT AS n_kept, max(h) AS kth_hash,
  (CASE WHEN count(*) < {_KMV_K} THEN count(*)
        ELSE {(_KMV_K - 1) * (2 ** 32)} // max(h) END)::BIGINT AS est_distinct
FROM kept GROUP BY grp
"""


def text_kmv_overlap(spark, sf_dir):
    # theta-sketch set-overlap estimate between the even- and odd-doc_id
    # halves of the corpus, per language: vocabulary intersection/union
    # estimated from two k=64 KMV sketches (theta = min of the sides'
    # effective thresholds; common-below-theta is a uniform sample of the
    # true intersection), with the exact hash-set join/union riding
    # beside — the expensive side the sketch replaces at 100 TB
    docs = _t(spark, sf_dir, "documents")
    return kmv_overlap(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        k=_KMV_K,
    )


def _duck_half_hashes(name: str, parity: int) -> str:
    """CTE pair: distinct per-language token hashes of one doc_id-parity
    half of documents (the same token/hash pipeline as _LANG_HASHES_CTES)."""
    return rf"""w{name} AS (
  SELECT DISTINCT lang AS grp, w FROM (
    SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS w
    FROM documents WHERE doc_id % 2 = {parity}
  ) WHERE w <> ''
),
h{name} AS (SELECT DISTINCT grp, {_duck_minhash_base('w')} AS h FROM w{name})"""


TEXT_KMV_OVERLAP_SQL = rf"""
WITH {_duck_half_hashes('a', 0)},
{_duck_half_hashes('b', 1)},
sa AS (SELECT grp, h FROM (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS r FROM ha) WHERE r <= {_KMV_K}),
sb AS (SELECT grp, h FROM (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS r FROM hb) WHERE r <= {_KMV_K}),
side_a AS (SELECT grp, count(*) AS n_a, max(h) AS kth_a FROM sa GROUP BY grp),
side_b AS (SELECT grp, count(*) AS n_b, max(h) AS kth_b FROM sb GROUP BY grp),
th AS (
  SELECT a.grp, a.n_a, b.n_b,
    least(CASE WHEN a.n_a < {_KMV_K} THEN {2 ** 32} ELSE a.kth_a END,
          CASE WHEN b.n_b < {_KMV_K} THEN {2 ** 32} ELSE b.kth_b END) AS theta
  FROM side_a a JOIN side_b b ON a.grp = b.grp
),
common AS (
  SELECT sa.grp, count(*) AS n_common
  FROM sa JOIN sb ON sa.grp = sb.grp AND sa.h = sb.h
  JOIN th ON th.grp = sa.grp
  WHERE sa.h <= th.theta GROUP BY sa.grp
),
merged AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS r
    FROM (SELECT DISTINCT grp, h FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb))
  ) WHERE r <= {_KMV_K}
),
eu AS (
  SELECT grp, CASE WHEN count(*) < {_KMV_K} THEN count(*)
                   ELSE {(_KMV_K - 1) * (2 ** 32)} // max(h) END AS est_union
  FROM merged GROUP BY grp
),
ec AS (SELECT ha.grp, count(*) AS exact_common
       FROM ha JOIN hb ON ha.grp = hb.grp AND ha.h = hb.h GROUP BY ha.grp),
eun AS (SELECT grp, count(DISTINCT h) AS exact_union
        FROM (SELECT * FROM ha UNION ALL SELECT * FROM hb) GROUP BY grp)
SELECT th.grp, th.n_a::BIGINT AS n_a, th.n_b::BIGINT AS n_b,
  th.theta::BIGINT AS theta, coalesce(c.n_common, 0)::BIGINT AS n_common,
  (coalesce(c.n_common, 0) * {2 ** 32} // th.theta)::BIGINT AS est_intersect,
  eu.est_union::BIGINT AS est_union,
  coalesce(ec.exact_common, 0)::BIGINT AS exact_common,
  eun.exact_union::BIGINT AS exact_union
FROM th
LEFT JOIN common c ON c.grp = th.grp
JOIN eu ON eu.grp = th.grp
LEFT JOIN ec ON ec.grp = th.grp
JOIN eun ON eun.grp = th.grp
"""


def text_hll_registers(spark, sf_dir):
    # HyperLogLog register summary per language (p=6, m=64): bucket from
    # the low bits, rho from the leading-zero rank of the rest; the
    # harmonic denominator is the EXACT scaled integer sum(2^(27 - r)),
    # zero registers contributing 2^27 each — the float alpha correction
    # is a read-time computation, so the oracle stays integer-exact.
    return hll_registers(_t(spark, sf_dir, "documents"), p=6)


TEXT_HLL_SQL = rf"""
WITH {_LANG_HASHES_CTES},
regs AS (
  SELECT grp, h % 64 AS bucket,
    max(CASE WHEN h // 64 = 0 THEN 27 ELSE 26 - length(bin(h // 64)) + 1 END) AS r
  FROM hashes GROUP BY grp, bucket)
SELECT grp, 64::BIGINT AS m, count(*)::BIGINT AS used_regs,
  (64 - count(*))::BIGINT AS zero_regs, sum(r)::BIGINT AS sum_rho,
  (sum(1::BIGINT << (27 - r)) + (64 - count(*)) * (1::BIGINT << 27))::BIGINT AS harmonic_scaled
FROM regs GROUP BY grp
"""


def text_cms_heavy_hitters(spark, sf_dir):
    # count-min sketch (4 x 256 counters, the shared deterministic hash
    # family) vs exact counts for the corpus's top-20 tokens — the min of
    # a token's counters can only OVER-estimate, so the collision error
    # is directly visible in the output.
    return cms_heavy_hitters(
        _t(spark, sf_dir, "documents"), depth=4, width=_CMS_W, top=_CMS_TOP
    )


TEXT_CMS_SQL = rf"""
WITH {_duck_minhash_seeds(4)},
toks AS (SELECT w AS word FROM (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents) WHERE w <> ''),
hashed AS (SELECT word, {_duck_minhash_base('word')} AS h FROM toks),
positions AS (SELECT s.seed AS row, ((s.a * t.h + s.b) % {_MINHASH_P}) % {_CMS_W} AS pos
              FROM hashed t CROSS JOIN seeds s),
regs AS (SELECT row, pos, count(*) AS cnt FROM positions GROUP BY row, pos),
exact AS (SELECT word, h, count(*) AS exact_cnt FROM hashed GROUP BY word, h),
topk AS (SELECT word, h, exact_cnt FROM exact ORDER BY exact_cnt DESC, word ASC LIMIT {_CMS_TOP}),
probe AS (SELECT t.word, t.exact_cnt, s.seed AS row,
                 ((s.a * t.h + s.b) % {_MINHASH_P}) % {_CMS_W} AS pos
          FROM topk t CROSS JOIN seeds s)
SELECT p.word, p.exact_cnt::BIGINT AS exact_cnt, min(r.cnt)::BIGINT AS cms_est
FROM probe p JOIN regs r ON p.row = r.row AND p.pos = r.pos
GROUP BY p.word, p.exact_cnt
"""


def text_hdr_quantiles(spark, sf_dir):
    # HDR-histogram quantile sketch (log-linear integer buckets, K=16 per
    # octave): mergeable bucket counts replace the per-group sort an exact
    # quantile needs at 100 TB; the exact rank statistic rides beside the
    # sketched [est_lo, est_hi] so the <= 1/16 error bound is visible
    return hdr_length_quantiles(_t(spark, sf_dir, "documents"))


TEXT_HDR_SQL = rf"""
WITH vals AS (
  SELECT lang AS grp, CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS v
  FROM documents
),
sk AS (
  SELECT grp, {_duck_hdr_bucket('v')} AS bucket, count(*) AS cnt
  FROM vals GROUP BY 1, 2
),
cum AS (
  SELECT grp, bucket, cnt,
    sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
    sum(cnt) OVER (PARTITION BY grp) AS n
  FROM sk
),
qs AS (SELECT unnest([50, 90, 99]) AS q),
picked AS (
  SELECT grp, q, n AS n_docs, min(bucket) AS bucket
  FROM cum CROSS JOIN qs
  WHERE cum >= (q * n + 99) // 100
  GROUP BY grp, q, n
),
bounds AS (
  SELECT grp, q, n_docs,
    {_HDR_LO_SQL} AS est_lo,
    {_HDR_HI_SQL} AS est_hi
  FROM picked
),
ranked AS (
  SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY grp) AS n
  FROM vals
),
exact AS (
  SELECT grp, q, v AS exact_len FROM ranked CROSS JOIN qs
  WHERE rn = (q * n + 99) // 100
)
SELECT b.grp, CAST(b.q AS INT) AS q, CAST(b.n_docs AS BIGINT) AS n_docs,
       CAST(b.est_lo AS BIGINT) AS est_lo, CAST(b.est_hi AS BIGINT) AS est_hi,
       CAST(e.exact_len AS BIGINT) AS exact_len
FROM bounds b JOIN exact e ON b.grp = e.grp AND b.q = e.q
"""


def text_bloom_decontam(spark, sf_dir):
    # Bloom pre-filter for benchmark decontamination: the benchmark's
    # distinct 3-grams build a <= 16384-row bit table (broadcast); every
    # corpus gram probes it with 3 modular hash positions. n_member <=
    # n_bloom_pass is the no-false-negative law; n_false_pos is the
    # exact-join work the filter could not save
    docs = _t(spark, sf_dir, "documents")
    return bloom_decontam_stats(docs, docs.filter(F.col("doc_id") % 17 == 0))


TEXT_BLOOM_SQL = rf"""
WITH {_duck_minhash_seeds(3)},
c AS (SELECT doc_id, lang, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks FROM documents),
g AS (
  SELECT doc_id, lang,
         unnest(CASE WHEN len(toks) >= 3 THEN
           list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
           ELSE [] END) AS gram
  FROM c
),
bench_grams AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
bench_keys AS (SELECT gram, {_duck_minhash_base('gram')} AS h FROM bench_grams),
bits AS (SELECT DISTINCT ((s.a * k.h + s.b) % {_MINHASH_P}) % 16384 AS pos
         FROM bench_keys k CROSS JOIN seeds s),
probe AS (SELECT lang, gram, {_duck_minhash_base('gram')} AS h
          FROM (SELECT DISTINCT lang, gram FROM g)),
hits AS (
  SELECT p.lang, p.gram, (count(bits.pos) = 3) AS bloom_pass
  FROM probe p CROSS JOIN seeds s
  LEFT JOIN bits ON ((s.a * p.h + s.b) % {_MINHASH_P}) % 16384 = bits.pos
  GROUP BY p.lang, p.gram
),
flagged AS (
  SELECT h.lang, h.bloom_pass, (b.gram IS NOT NULL) AS member
  FROM hits h LEFT JOIN bench_grams b ON h.gram = b.gram
)
SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_member,
       CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END)
            - sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM flagged GROUP BY lang
"""


def text_dsir_select(spark, sf_dir):
    # DSIR-style data selection (Xie et al. 2023): even-id ENGLISH docs
    # act as the curated TARGET set; every other doc is scored by the
    # mean hashed-token importance weight (size-normalized smoothed
    # target/raw frequency ratio in 2^16 fixed point) and selected iff
    # it tilts target-ward. The synthetic corpus shares one vocabulary
    # across langs, so what separates here is each doc's sampling tilt
    # toward the target's token distribution — a small 'selected' set
    # over a centered estimator (true vocabulary separation is pinned by
    # the planted-vocab pytest). The 256-row weight table broadcasts;
    # the corpus gram stream never shuffles for the scoring join
    docs = _t(spark, sf_dir, "documents")
    is_target = (F.col("lang") == "en") & (F.col("doc_id") % 2 == 0)
    return importance_select(
        docs.filter(is_target),
        docs.filter(~F.coalesce(is_target, F.lit(False))),
    )


_DSIR_BUCKETS, _DSIR_FP = 256, 65536


TEXT_DSIR_SQL = rf"""
WITH tg AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents WHERE lang = 'en' AND doc_id % 2 = 0
),
rg AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents WHERE NOT coalesce(lang = 'en' AND doc_id % 2 = 0, FALSE)
),
tb AS (
  SELECT CAST({_duck_minhash_base('w')} % {_DSIR_BUCKETS} AS INT) AS bucket,
         count(*) AS n_target
  FROM tg WHERE w <> '' GROUP BY 1
),
rb AS (
  SELECT CAST({_duck_minhash_base('w')} % {_DSIR_BUCKETS} AS INT) AS bucket,
         count(*) AS n_raw
  FROM (SELECT w FROM rg) WHERE w <> '' GROUP BY 1
),
wt AS (
  -- size-normalized smoothed frequency ratio (DSIR's probability ratio),
  -- staged integer division exactly as the engine computes it
  SELECT s.i AS bucket,
         (({_DSIR_FP} * (coalesce(tb.n_target, 0) + 1))
            // (tt.t + {_DSIR_BUCKETS}))
           * (rt.r + {_DSIR_BUCKETS}) // (coalesce(rb.n_raw, 0) + 1) AS weight
  FROM generate_series(0, {_DSIR_BUCKETS - 1}) s(i)
  LEFT JOIN tb ON tb.bucket = s.i
  LEFT JOIN rb ON rb.bucket = s.i
  CROSS JOIN (SELECT count(*) AS t FROM tg WHERE w <> '') tt
  CROSS JOIN (SELECT count(*) AS r FROM rg WHERE w <> '') rt
),
scored AS (
  SELECT rg.doc_id, count(*) AS n_grams, sum(wt.weight) AS score
  FROM rg
  JOIN wt ON wt.bucket = CAST({_duck_minhash_base('rg.w')} % {_DSIR_BUCKETS} AS INT)
  WHERE rg.w <> ''
  GROUP BY rg.doc_id
)
SELECT d.doc_id, coalesce(s.n_grams, 0)::BIGINT AS n_grams,
  s.score::BIGINT AS score, (s.score // s.n_grams)::BIGINT AS avg_weight,
  CASE WHEN s.score // s.n_grams >= {_DSIR_FP} THEN 'selected'
       ELSE 'rejected' END AS verdict
FROM (SELECT doc_id FROM documents
      WHERE NOT coalesce(lang = 'en' AND doc_id % 2 = 0, FALSE)) d
LEFT JOIN scored s ON s.doc_id = d.doc_id
"""


def corpus_mix_plan(spark, sf_dir):
    # per-language sampling plan for an equal-share 100k-token mixture:
    # oversized domains downsample (rate_ppm), undersized ones repeat
    # (epochs) — the budgeting arithmetic behind domain-mixture training
    return mix_plan(_t(spark, sf_dir, "documents"), token_budget=100_000)


_MIX_BUDGET = 100_000


CORPUS_MIX_SQL = rf"""
WITH per AS (
  SELECT lang AS grp, count(*) AS n_docs,
    sum(length(list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\s+'),
        x -> x <> ''))) AS n_tokens
  FROM documents GROUP BY lang
),
g AS (SELECT count(*) AS ng FROM per)
SELECT grp, n_docs::BIGINT AS n_docs, n_tokens::BIGINT AS n_tokens,
  ({_MIX_BUDGET} // ng)::BIGINT AS quota,
  CAST(CASE WHEN n_tokens <= 0 THEN 0
       ELSE least(1000000, 1000000 * ({_MIX_BUDGET} // ng) // n_tokens)
  END AS BIGINT) AS rate_ppm,
  CAST(CASE WHEN n_tokens <= 0 THEN 0
       ELSE greatest(1, (({_MIX_BUDGET} // ng) + n_tokens - 1) // n_tokens)
  END AS BIGINT) AS epochs
FROM per CROSS JOIN g
"""


def corpus_keep_list(spark, sf_dir):
    # the end-of-pipeline verdict: near-dup canonical AND quality screen,
    # one row per doc (training/curate.py::final_keep_list)
    return final_keep_list(_t(spark, sf_dir, "documents"))


# ONE SQL rendering of the combined keep-verdict CASE (near_duplicate >
# too_short > low_stopword_ratio > kept) — consumed by every oracle tail
# that layers on the clusters CTE (keep list, shard plan, curation
# summary), so the three cannot drift from each other; the Python
# precedence it mirrors is training/curate.py (final_keep_list).
_VERDICT_CASE_SQL = r"""CASE WHEN c.cluster_id <> d.doc_id THEN 'near_duplicate'
              WHEN length(list_filter(string_split_regex(trim(coalesce(d.text, '')), '\s+'),
                          x -> x <> '')) < 5 THEN 'too_short'
              WHEN round(length(list_filter(string_split_regex(trim(coalesce(d.text, '')), '\s+'),
                          x -> lower(x) IN ('the','a','an','and','or','of','to','in','is','it')))
                   / greatest(length(list_filter(string_split_regex(trim(coalesce(d.text, '')), '\s+'),
                          x -> x <> '')), 1), 4) < 0.05 THEN 'low_stopword_ratio'
              ELSE 'kept' END"""


KEEP_LIST_TAIL = rf"""
, verdict AS (
  SELECT d.doc_id,
         {_VERDICT_CASE_SQL} AS reason
  FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
)
SELECT doc_id, reason, reason = 'kept' AS keep FROM verdict
"""


def text_curation(spark, sf_dir):
    # composed keep/drop verdicts over documents plus PLANTED rows so every
    # reason branch fires at any SF: exact duplicates of every 7th doc,
    # one 2-token doc, one stopword-free doc (training/curate.py)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    planted = spark.createDataFrame(
        [
            (2_000_001, "tiny doc"),
            (2_000_002, "xyzzy qwerty plugh foobar grault corge waldo"),
            (2_000_003, None),  # NULL text: null-hardening is oracle-gated
        ],
        "doc_id long, text string",
    )
    return curation_decisions(docs.union(dups).union(planted))


TEXT_CURATION_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT * FROM (VALUES
    (2000001, 'tiny doc'),
    (2000002, 'xyzzy qwerty plugh foobar grault corge waldo'),
    (2000003, CAST(NULL AS VARCHAR))) v(doc_id, text)
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                     x -> x <> '') AS t,
         sha256(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS fp
  FROM corpus
),
canon AS (SELECT fp, min(doc_id) AS canon_id FROM toks GROUP BY fp),
verdict AS (
  SELECT k.doc_id,
         CASE WHEN k.doc_id <> c.canon_id THEN 'exact_duplicate'
              WHEN length(t) < 5 THEN 'too_short'
              WHEN round(length(list_filter(t, x -> lower(x) IN ('the','a','an','and','or','of','to','in','is','it')))
                   / greatest(length(t), 1), 4) < 0.05 THEN 'low_stopword_ratio'
              ELSE 'kept' END AS reason
  FROM toks k JOIN canon c ON c.fp = k.fp
)
SELECT doc_id, reason, CAST(reason = 'kept' AS INT) AS keep FROM verdict
"""


def corpus_curation_summary(spark, sf_dir):
    # the ops dashboard number: corpus-level keep/drop breakdown with
    # token mass per reason (what fraction of the corpus survives, and
    # what the cuts cost in tokens)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n_tok = F.coalesce(F.regexp_count(F.col("text"), F.lit(r"\w+")).cast("long"), F.lit(0))
    toks = docs.select("doc_id", n_tok.alias("n_tokens"))
    return (
        final_keep_list(docs)
        .join(toks, "doc_id")
        .groupBy("reason")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


CURATION_SUMMARY_TAIL = rf"""
, verdict AS (
  SELECT d.doc_id,
         {_VERDICT_CASE_SQL} AS reason,
         CAST(length(regexp_extract_all(coalesce(d.text, ''), '\w+')) AS BIGINT) AS n_tokens
  FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
)
SELECT reason, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM verdict GROUP BY reason
"""


def corpus_shard_plan(spark, sf_dir):
    # output sharding of the CURATED corpus: kept docs packed into
    # ~4096-token shards in doc_id order (training/pack.py::shard_plan
    # over curate.final_keep_list + the distributed prefix sum)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return shard_plan(docs, final_keep_list(docs))


SHARD_PLAN_TAIL = rf"""
, verdict AS (
  SELECT d.doc_id, d.text,
         {_VERDICT_CASE_SQL} AS reason
  FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
),
keptdocs AS (
  SELECT doc_id,
         CAST(length(regexp_extract_all(coalesce(text, ''), '\w+')) AS BIGINT) AS n_tokens
  FROM verdict WHERE reason = 'kept'
),
nz AS (SELECT * FROM keptdocs WHERE n_tokens > 0),
ps AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
  FROM nz
)
SELECT doc_id, CAST(strt // 4096 AS BIGINT) AS shard_id,
       CAST(strt % 4096 AS BIGINT) AS shard_tok_offset, n_tokens
FROM ps
"""


def text_tokens_bpe(spark, sf_dir):
    # BPE-ish pre-tokenizer counts (GPT-2 shape minus the RE2-unsupported
    # lookahead) — count-identical across Java regex and RE2, probed on the
    # driver corpus before adoption
    return token_count_bpe(_t(spark, sf_dir, "documents"))


def bpe_sql() -> str:
    pat = BPE_PRETOKEN.replace("'", "''")
    return f"""
SELECT doc_id,
       CAST(length(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_bpe_pretokens,
       CAST(length(regexp_extract_all(text, '\\w+')) AS BIGINT) AS n_word_tokens
FROM documents
"""


def text_repetition(spark, sf_dir):
    # Gopher-style repetition signals; fully row-local (no shuffle)
    return repetition_metrics(_t(spark, sf_dir, "documents"))


TEXT_REPETITION_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks, string_split(text, chr(10)) AS lines
  FROM documents
), b AS (
  SELECT doc_id, toks, lines,
         CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS bgs
  FROM t
), bgx AS (SELECT doc_id, unnest(bgs) AS g FROM b),
bgc AS (SELECT doc_id, g, count(*) AS c FROM bgx GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS mx FROM bgc GROUP BY 1)
SELECT b.doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
       round((len(lines) - len(list_distinct(lines))) / greatest(len(lines), 1), 4) AS dup_line_frac,
       round((len(toks) - len(list_distinct(toks))) / greatest(len(toks), 1), 4) AS dup_word_frac,
       round(coalesce(top.mx, 0) / greatest(len(bgs), 1), 4) AS top_bigram_frac
FROM b LEFT JOIN top ON b.doc_id = top.doc_id
"""


def text_decontam(spark, sf_dir):
    # benchmark decontamination: n-gram overlap vs the deterministic
    # doc_id % 97 "eval set"; n=3 at driver scale so the result is
    # non-empty (the operator default is the published n=13 recipe)
    docs = _t(spark, sf_dir, "documents")
    return ngram_overlap(docs, docs.filter(F.col("doc_id") % 97 == 0), n=3)


TEXT_DECONTAM_SQL = r"""
WITH c AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
g AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1), i -> md5(array_to_string(toks[i:i+2], ' '))) ELSE [] END) AS gram
  FROM c
), gd AS (SELECT DISTINCT doc_id, gram FROM g),
bench AS (SELECT doc_id AS bench_id, gram FROM gd WHERE doc_id % 97 = 0)
SELECT gd.doc_id, bench.bench_id, CAST(count(*) AS BIGINT) AS n_shared_ngrams
FROM gd JOIN bench USING (gram) WHERE gd.doc_id != bench.bench_id
GROUP BY 1, 2
"""


def text_pack_sequences(spark, sf_dir):
    # GPT-style sequence packing plan: documents concatenated in doc_id
    # order, split into 128-token training sequences, one row per
    # (doc x sequence) overlap. The global token offset is a DISTRIBUTED
    # prefix sum (operators/prefix.py — bucketed two-level, no
    # single-partition window over the data); the oracle's plain
    # sum() OVER (ORDER BY doc_id) is the semantic spec it must match.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # planted rows: a NULL text (0 tokens — must emit nothing) and an
    # exactly-seq_tokens-long doc (boundary: fills one sequence, no spill)
    planted = spark.createDataFrame(
        [(8_000_001, None), (8_000_002, " ".join(f"w{i}" for i in range(128)))],
        "doc_id long, text string",
    )
    return pack_sequences(docs.union(planted), seq_tokens=128)


TEXT_PACK_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT 8000001, CAST(NULL AS VARCHAR)
  UNION ALL SELECT 8000002, (SELECT string_agg('w' || i, ' ') FROM generate_series(0, 127) t(i))
),
t AS (
  SELECT doc_id,
         CAST(length(regexp_extract_all(coalesce(text, ''), '\w+')) AS BIGINT) AS n_tokens
  FROM corpus
),
nz AS (SELECT * FROM t WHERE n_tokens > 0),
c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
  FROM nz
),
e AS (
  SELECT doc_id, n_tokens, strt,
         unnest(generate_series(CAST(strt // 128 AS BIGINT),
                                CAST((strt + n_tokens - 1) // 128 AS BIGINT))) AS seq_id
  FROM c
)
SELECT doc_id,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(greatest(strt, seq_id * 128) - strt AS BIGINT) AS doc_tok_start,
       CAST(greatest(strt, seq_id * 128) - seq_id * 128 AS BIGINT) AS seq_tok_start,
       CAST(least(strt + n_tokens, seq_id * 128 + 128)
            - greatest(strt, seq_id * 128) AS BIGINT) AS n_toks
FROM e
"""


def text_tfidf_terms(spark, sf_dir):
    # per-language characteristic terms by tf-idf with an INTEGER idf
    # proxy (ln is not correctly-rounded across libms; the oracle needs
    # bit-equal scores) — training/text.py::tfidf_top_terms
    return tfidf_top_terms(_t(spark, sf_dir, "documents"))


TEXT_TFIDF_SQL = r"""
WITH wrds AS (
  SELECT doc_id, lang, w AS term FROM (
    SELECT doc_id, lang, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
    FROM documents)
  WHERE w <> ''
),
tf AS (SELECT lang, term, count(*) AS tf FROM wrds GROUP BY lang, term),
df AS (SELECT lang, term, count(*) AS df
       FROM (SELECT DISTINCT lang, term, doc_id FROM wrds) GROUP BY lang, term),
nd AS (SELECT lang, count(*) AS n FROM documents WHERE text IS NOT NULL GROUP BY lang),
scored AS (
  SELECT tf.lang, tf.term, CAST(tf.tf * ((nd.n * 10000) // df.df) AS BIGINT) AS score
  FROM tf JOIN df ON tf.lang = df.lang AND tf.term = df.term
  JOIN nd ON nd.lang = tf.lang
)
SELECT lang, term, score, CAST(rn AS BIGINT) AS rank FROM (
  SELECT lang, term, score,
         row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS rn
  FROM scored)
WHERE rn <= 5
"""


def text_length_quantiles(spark, sf_dir):
    # exact per-language order statistics (percentile_approx is sketch-
    # based and engine-specific) — training/text.py::length_quantiles
    return length_quantiles(_t(spark, sf_dir, "documents"))


TEXT_QUANTILES_SQL = r"""
WITH narrow AS (SELECT lang, coalesce(n_chars, 0) AS v, doc_id FROM documents),
ranked AS (
  SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v, doc_id) AS rn
  FROM narrow
),
counts AS (SELECT lang, count(*) AS n FROM narrow GROUP BY lang)
SELECT r.lang, CAST(max(c.n) AS BIGINT) AS n_docs,
       CAST(max(CASE WHEN r.rn = floor((c.n - 1) * 0.25) + 1 THEN r.v END) AS BIGINT) AS p25,
       CAST(max(CASE WHEN r.rn = floor((c.n - 1) * 0.50) + 1 THEN r.v END) AS BIGINT) AS p50,
       CAST(max(CASE WHEN r.rn = floor((c.n - 1) * 0.75) + 1 THEN r.v END) AS BIGINT) AS p75,
       CAST(max(CASE WHEN r.rn = floor((c.n - 1) * 0.95) + 1 THEN r.v END) AS BIGINT) AS p95
FROM ranked r JOIN counts c ON c.lang = r.lang
GROUP BY r.lang
"""


def text_chunk_plan(spark, sf_dir):
    # token-budget chunking with overlap — the pre-tokenization packing
    # step of a training pipeline (training/text.py::chunk_plan)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # planted NULL-text row: must plan as one empty chunk, oracle-gated
    null_row = spark.createDataFrame([(9_000_001, None)], "doc_id long, text string")
    return chunk_plan(docs.union(null_row), max_tokens=64, overlap=8)


TEXT_CHUNK_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT 9000001, CAST(NULL AS VARCHAR)
),
t AS (
  SELECT doc_id,
         CAST(length(regexp_extract_all(coalesce(text, ''), '\w+')) AS BIGINT) AS n_tokens
  FROM corpus
),
c AS (
  SELECT doc_id, n_tokens,
         greatest(CAST((n_tokens - 8 + 55) // 56 AS BIGINT), 1) AS n_chunks
  FROM t
)
SELECT doc_id,
       CAST(g.i AS BIGINT) AS chunk_idx,
       CAST(g.i * 56 AS BIGINT) AS start_tok,
       CAST(least(g.i * 56 + 64, n_tokens) AS BIGINT) AS end_tok,
       n_tokens
FROM c CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(n_chunks - 1 AS INT))) AS i) g
"""


def text_top_ngrams(spark, sf_dir):
    # corpus-wide most frequent trigrams (boilerplate radar); top-k via
    # TakeOrderedAndProject, deterministic tie-break on the ngram string
    return top_ngrams(_t(spark, sf_dir, "documents"))


TOP_NGRAMS_SQL = r"""
WITH t AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
), g AS (
  SELECT unnest(CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) ELSE [] END) AS ngram
  FROM t
)
SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences
FROM g GROUP BY ngram
ORDER BY n_occurrences DESC, ngram ASC
LIMIT 20
"""


def text_boilerplate_spans(spark, sf_dir):
    # cross-doc repeated-passage detection: 13-grams shared by >=3 docs,
    # merged per-doc into maximal token spans (gaps-and-islands windows)
    return boilerplate_spans(_t(spark, sf_dir, "documents"))


TEXT_BOILERPLATE_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
), g AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+12], ' ')) AS gram
  FROM toks, unnest(range(1, greatest(len(t) - 12, 0) + 1)) AS u(i)
  WHERE len(t) >= 13
), shared AS (
  SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g) GROUP BY gram HAVING count(*) >= 3
), hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN shared USING (gram)
), isl AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + 12) OVER w IS NULL OR pos > max(pos + 12) OVER w
              THEN 1 ELSE 0 END AS new_island
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), grp AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 12 AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_grams
FROM grp GROUP BY doc_id, island
"""


def text_cut_plan(spark, sf_dir):
    # keep-ranges after boilerplate removal: the complement intervals of
    # text_boilerplate_spans — training/text.py::boilerplate_cut_plan
    return boilerplate_cut_plan(_t(spark, sf_dir, "documents"))


TEXT_CUT_PLAN_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
), g AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+12], ' ')) AS gram
  FROM toks, unnest(range(1, greatest(len(t) - 12, 0) + 1)) AS u(i)
  WHERE len(t) >= 13
), shared AS (
  SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g) GROUP BY gram HAVING count(*) >= 3
), hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN shared USING (gram)
), isl AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + 12) OVER w IS NULL OR pos > max(pos + 12) OVER w
              THEN 1 ELSE 0 END AS new_island
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), grp AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
), spans AS (
  SELECT doc_id, min(pos) AS span_start, max(pos) + 12 AS span_end
  FROM grp GROUP BY doc_id, island
), ntok AS (
  SELECT doc_id, len(t) AS n FROM toks WHERE len(t) >= 1
), gaps AS (
  SELECT doc_id,
         coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) + 1 AS keep_start,
         span_start - 1 AS keep_end
  FROM spans
), trail AS (
  SELECT s.doc_id, max(s.span_end) + 1 AS keep_start, max(n.n) AS keep_end
  FROM spans s JOIN ntok n USING (doc_id) GROUP BY s.doc_id
)
SELECT doc_id, CAST(keep_start AS BIGINT) AS keep_start,
       CAST(keep_end AS BIGINT) AS keep_end,
       CAST(keep_end - keep_start + 1 AS BIGINT) AS n_toks_kept
FROM (
  SELECT doc_id, keep_start, keep_end FROM gaps WHERE keep_end >= keep_start
  UNION ALL SELECT doc_id, keep_start, keep_end FROM trail WHERE keep_end >= keep_start
  UNION ALL
  SELECT n.doc_id, 1, n.n FROM ntok n
  WHERE n.doc_id NOT IN (SELECT DISTINCT doc_id FROM spans)
)
"""


def text_bpe_merges(spark, sf_dir):
    # first BPE training iteration: top adjacent char pairs weighted by
    # word frequency; pair explode runs on DISTINCT words only
    return bpe_merge_candidates(_t(spark, sf_dir, "documents"))


TEXT_BPE_MERGES_SQL = r"""
WITH w AS (
  SELECT wd AS word, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS wd FROM documents
  ) WHERE wd <> '' GROUP BY wd
), p AS (
  SELECT substr(word, CAST(i AS INT), 2) AS pair, freq
  FROM w, unnest(range(1, greatest(length(word) - 1, 0) + 1)) AS u(i)
  WHERE length(word) >= 2
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS score
FROM p GROUP BY pair
ORDER BY score DESC, pair ASC
LIMIT 20
"""


def text_pii_scrub(spark, sf_dir):
    # typed PII redaction + per-class counts; chained JVM regexp_replace
    return pii_scrub(_t(spark, sf_dir, "documents"))


def pii_sql() -> str:
    counts = ",\n       ".join(
        f"CAST(length(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{n}"
        for n, p in PII_PATTERNS.items()
    )
    scrub = "text"
    for n, p in PII_PATTERNS.items():
        scrub = f"regexp_replace({scrub}, '{p}', '<PII:{n.upper()}>', 'g')"
    return f"SELECT doc_id,\n       {counts},\n       {scrub} AS scrubbed_text\nFROM documents"


_SAMPLE_RATES = {"en": 0.5, "es": 0.25, "de": 1.0}


def text_sample(spark, sf_dir):
    # deterministic seedless stratified sampling (md5-threshold per stratum)
    return sample_stratified(_t(spark, sf_dir, "documents"), _SAMPLE_RATES)


def sample_sql() -> str:
    # rate >= 1 keeps the stratum unconditionally — mirrors
    # sample_stratified's guard against dropping 'ffffffff'-prefix docs
    conds = " OR ".join(
        f"(lang = '{s}')"
        if float(r) >= 1.0
        else f"(lang = '{s}' AND substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 8)"
        f" < '{format(int(float(r) * 0xFFFFFFFF), '08x')}')"
        for s, r in _SAMPLE_RATES.items()
        if float(r) > 0.0
    )
    return f"SELECT doc_id, lang FROM documents WHERE {conds}"


def text_winnow(spark, sf_dir):
    # winnowing fingerprints (rolling k-gram hashes, window min-sampling)
    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=8, w=4)


TEXT_WINNOW_SQL = """
WITH pos AS (
  SELECT doc_id, lower(text) AS t,
         unnest(range(1, greatest(length(lower(text)) - 7, 1) + 1)) AS p
  FROM documents
), g AS (
  SELECT doc_id, p, md5(substr(t, CAST(p AS INT), 8)) AS h FROM pos
), wins AS (
  SELECT doc_id, p,
         min(h) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM g
)
SELECT doc_id, CAST(count(DISTINCT wmin) AS BIGINT) AS n_fingerprints, min(wmin) AS min_fingerprint
FROM wins WHERE p <= greatest(n - 3, 1) GROUP BY doc_id
"""


def text_lang_mismatch(spark, sf_dir):
    # cross-lingual contamination screen: docs whose n-gram lang-id
    # disagrees with the declared lang column, with the integer evidence
    # margin (training/text.py::lang_mismatch)
    return lang_mismatch(_t(spark, sf_dir, "documents"))


def lang_mismatch_sql() -> str:
    score_cols = ",\n       ".join(
        f"CAST(length(regexp_extract_all(text, '{pat}')) AS BIGINT) AS score_{lang}"
        for lang, pat in LANG_MARKERS
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang, _ in LANG_MARKERS) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang, _ in LANG_MARKERS
    ) + " END"
    declared = "CASE " + " ".join(
        f"WHEN lang = '{lang}' THEN score_{lang}" for lang, _ in LANG_MARKERS
    ) + " ELSE 0 END"
    return f"""
WITH s AS (
  SELECT doc_id, lang,
       {score_cols}
  FROM documents
),
d AS (
  SELECT doc_id, lang, {case} AS lang_id,
         CAST(coalesce({declared}, 0) AS BIGINT) AS score_declared,
         CAST({best} AS BIGINT) AS score_detected
  FROM s
)
SELECT doc_id, lang, lang_id, score_declared, score_detected,
       CAST(score_detected - score_declared AS BIGINT) AS margin
FROM d WHERE lang_id <> lang
"""


def text_tokens(spark, sf_dir):
    return token_count(_t(spark, sf_dir, "documents"))


TEXT_TOKENS_SQL = r"""
SELECT doc_id, CAST(length(regexp_extract_all(text, '\w+')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_calc
FROM documents
"""


def text_quality(spark, sf_dir):
    return quality_score(_t(spark, sf_dir, "documents"))


TEXT_QUALITY_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang, text,
         list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                     x -> x <> '') AS t
  FROM documents
)
SELECT doc_id, lang,
       CAST(length(t) AS BIGINT) AS n_tokens,
       round(length(text) / greatest(length(t), 1), 4) AS avg_token_len,
       round(length(list_filter(t, x -> lower(x) IN ('the','a','an','and','or','of','to','in','is','it')))
             / greatest(length(t), 1), 4) AS stopword_ratio
FROM toks
"""


def text_lang_id(spark, sf_dir):
    return lang_id(_t(spark, sf_dir, "documents"))


def lang_id_sql() -> str:
    score_cols = ",\n       ".join(
        f"CAST(length(regexp_extract_all(text, '{pat}')) AS BIGINT) AS score_{lang}"
        for lang, pat in LANG_MARKERS
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang, _ in LANG_MARKERS) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang, _ in LANG_MARKERS
    ) + " END"
    return f"""
WITH s AS (
  SELECT doc_id,
       {score_cols}
  FROM documents
)
SELECT doc_id, {', '.join(f'score_{lang}' for lang, _ in LANG_MARKERS)}, {case} AS lang_id FROM s
"""


def text_bigram_diversity(spark, sf_dir):
    # libm-free entropy proxy: distinct/total char bigrams — the
    # gibberish screen (training/text.py::bigram_diversity)
    return bigram_diversity(_t(spark, sf_dir, "documents"))


TEXT_BIGRAM_SQL = """
WITH g AS (
  SELECT doc_id,
         list_transform(generate_series(1, CAST(length(lower(text)) - 1 AS BIGINT)),
                        i -> substr(lower(text), CAST(i AS INT), 2)) AS grams
  FROM documents WHERE length(lower(text)) >= 2
)
SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_bigrams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       round(CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4) AS diversity
FROM g
"""


def text_rarity(spark, sf_dir):
    # unigram-LM quality proxy: mean inverse corpus frequency per doc
    # (integer surprisal proxy, no libm) — training/text.py::rarity_score
    return rarity_score(_t(spark, sf_dir, "documents"))


TEXT_RARITY_SQL = r"""
WITH wrds AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
    FROM documents)
  WHERE w <> ''
),
cnt AS (SELECT w, count(*) AS c FROM wrds GROUP BY w),
tot AS (SELECT sum(c) AS t FROM cnt),
scored AS (
  SELECT wrds.doc_id, CAST(tot.t // cnt.c AS BIGINT) AS iw
  FROM wrds JOIN cnt ON cnt.w = wrds.w CROSS JOIN tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(iw) AS BIGINT) AS sum_rarity,
       round(CAST(sum(iw) AS DOUBLE) / count(*), 4) AS mean_rarity
FROM scored GROUP BY doc_id
"""


def text_vocab_coverage(spark, sf_dir):
    # tokenizer-vocab coverage: per-doc OOV rate against the deterministic
    # corpus top-500 word vocabulary — training/text.py::vocab_coverage
    return vocab_coverage(_t(spark, sf_dir, "documents"))


TEXT_VOCAB_SQL = r"""
WITH wrds AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
    FROM documents)
  WHERE w <> ''
),
vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM wrds GROUP BY w
    ORDER BY c DESC, w ASC LIMIT 500)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_toks,
       round(CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS oov_rate
FROM wrds LEFT JOIN vocab v ON v.w = wrds.w
GROUP BY doc_id
"""


def text_lang_profile(spark, sf_dir):
    return lang_profile(_t(spark, sf_dir, "documents"))


LANG_PROFILE_SQL = """
SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY lang
"""


def text_collocations(spark, sf_dir):
    # Collocation mining: adjacent bigrams scored by the exact-integer
    # PMI proxy score_bp = (N * c_xy * 10000) div (c_x * c_y) — above
    # 10000 means the pair co-occurs more than independence predicts.
    # Bigrams come from the positional self-equi-join on the shared
    # token stream (training/search.py); min_count prunes the hapax
    # tail before the unigram join-back.
    return collocations(_t(spark, sf_dir, "documents"), min_count=5)


COLLOC_SQL = f"""
WITH tok AS ({_TOK_STREAM_SQL}),
t AS (SELECT * FROM tok WHERE token <> ''),
uni AS (SELECT token, count(*) AS c FROM t GROUP BY token),
n_tot AS (SELECT sum(c) AS n FROM uni),
pairs AS (
  SELECT a.token AS t1, b.token AS t2, count(*)::BIGINT AS n_pair
  FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT t1, t2, n_pair,
       ((SELECT n FROM n_tot) * n_pair * 10000 // (u1.c * u2.c))::BIGINT AS score_bp
FROM pairs JOIN uni u1 ON t1 = u1.token JOIN uni u2 ON t2 = u2.token
"""


def corpus_split_assign(spark, sf_dir):
    # Leakage-safe train/val/test assignment: the split is a pure
    # function of the document id through the portable md5 hash family
    # (first 8 hex nibbles as an integer — the same base every
    # minhash/sketch oracle reproduces), so re-runs, backfills, and
    # cross-engine audits agree row for row. 80/10/10 by hash mod 10
    # (training/text.py::hash_split_expr — shared with the
    # split-leakage census); report per (lang, split): docs and
    # whitespace tokens.
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
            lambda w: w != "",
        )
    )
    return (
        docs.select(
            "lang",
            hash_split_expr(F.col("doc_id")).alias("split"),
            toks.alias("_t"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_t").cast("long").alias("n_tokens"),
        )
    )


SPLIT_ASSIGN_SQL = f"""
WITH d AS (
  SELECT lang,
         {_duck_minhash_base("doc_id::VARCHAR")} % 10 AS b,
         len(list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'), w -> w <> '')) AS t
  FROM documents)
SELECT lang,
       CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
       count(*)::BIGINT AS n_docs, sum(t)::BIGINT AS n_tokens
FROM d GROUP BY 1, 2
"""


def corpus_eval_sample(spark, sf_dir):
    # Per-stratum fixed-size uniform sampling: the k=20 docs per
    # language with the smallest portable md5 hash — the reproducible
    # eval-set constructor (same docs on every re-run, every backfill,
    # every engine; contrast df.sample's seed-and-partitioning-
    # dependent draw). One exchange on the stratum; rank by
    # (hash, doc_id) so even a hash collision cannot make the cut
    # nondeterministic.
    docs = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("lang").orderBy(F.col("_h").asc(), F.col("doc_id").asc())
    return (
        docs.select("lang", "doc_id", h.alias("_h"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 20)
        .select("lang", "doc_id", "rank")
    )


EVAL_SAMPLE_SQL = f"""
WITH h AS (
  SELECT lang, doc_id, {_duck_minhash_base("doc_id::VARCHAR")} AS hv
  FROM documents),
r AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id)::BIGINT AS rank
  FROM h)
SELECT lang, doc_id, rank FROM r WHERE rank <= 20
"""


def corpus_size_gini(spark, sf_dir):
    # Corpus-balance audit (operators/stats.py::gini_by_group): Gini
    # coefficient of document sizes per language in exact basis points
    # from the closed form over ascending ranks — the concentration
    # number a corpus owner reads before trusting a language mix ("is
    # 'fr' a thousand uniform docs or one megadoc and crumbs").
    docs = _t(spark, sf_dir, "documents")
    return gini_by_group(docs, "lang", "n_chars", "doc_id").select(
        F.col("grp").alias("lang"), "n", "total_size", "gini_bp"
    )


CORPUS_GINI_SQL = """
WITH r AS (
  SELECT lang, CAST(n_chars AS HUGEINT) AS x,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
              AS HUGEINT) AS rk
  FROM documents),
a AS (
  SELECT lang, CAST(count(*) AS HUGEINT) AS n, sum(x) AS s, sum(rk * x) AS rs
  FROM r GROUP BY lang)
SELECT lang, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS total_size,
       CAST(CASE WHEN s > 0
            THEN (2 * rs - (n + 1) * s) * 10000 // (n * s) END AS BIGINT) AS gini_bp
FROM a
"""


def text_feature_hash(spark, sf_dir):
    # Hashing-trick collision ledger (training/features.py): tokens →
    # portable md5-prefix hash mod 256 buckets; per bucket total term
    # frequency, document frequency, and the distinct-token collision
    # count an ML owner audits before freezing the bucket width. One
    # explode + one bounded-cardinality groupBy.
    return feature_hash_profile(_t(spark, sf_dir, "documents"), 256)


FEATURE_HASH_SQL = f"""
WITH tok AS ({_TOK_STREAM_SQL}),
t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
b AS (SELECT doc_id, token,
             ({_duck_minhash_base('token')}) % 256 AS bucket
      FROM t)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS total_tf,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT token) AS BIGINT) AS n_tokens
FROM b GROUP BY 1
"""


def corpus_quota_alloc(spark, sf_dir):
    # Largest-remainder (Hamilton) apportionment
    # (training/features.py::quota_allocate): a 1000-doc eval budget
    # split across languages proportionally, exactly — base = T·n div N
    # plus one seat to each of the T − Σbase largest remainders.
    # Independent float rounding can't guarantee Σ == T; this does
    # (law pytest-pinned).
    return quota_allocate(_t(spark, sf_dir, "documents"), "lang", 1000).select(
        F.col("grp").alias("lang"), "n_rows", "base_alloc", "final_alloc"
    )


QUOTA_ALLOC_SQL = """
WITH c AS (SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_rows
           FROM documents GROUP BY 1),
w AS (SELECT grp, n_rows,
             (1000 * n_rows) // sum(n_rows) OVER () AS base_alloc,
             (1000 * n_rows) % (sum(n_rows) OVER ()) AS rem
      FROM c),
l AS (SELECT *, 1000 - sum(base_alloc) OVER () AS leftover,
             row_number() OVER (ORDER BY rem DESC, grp) AS rk
      FROM w)
SELECT grp AS lang, n_rows, CAST(base_alloc AS BIGINT) AS base_alloc,
       CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS final_alloc
FROM l
"""


def corpus_simpson_diversity(spark, sf_dir):
    # Simpson concentration per source over languages
    # (operators/stats.py::simpson_index): λ = Σnᵢ(nᵢ−1)/(N(N−1)) in
    # exact truncated bp — the probability two docs drawn without
    # replacement from a source share a language. Two tiny
    # map-side-combinable groupBys; N<2 groups emit NULL.
    return simpson_index(_t(spark, sf_dir, "documents"), "source", "lang").select(
        F.col("grp").alias("source"), "n_rows", "n_categories", "simpson_bp"
    )


SIMPSON_SQL = """
WITH c AS (
  SELECT source, lang, CAST(count(*) AS HUGEINT) AS n
  FROM documents GROUP BY 1, 2),
g AS (
  SELECT source, sum(n) AS N, sum(n * (n - 1)) AS pairs,
         CAST(count(*) AS BIGINT) AS n_categories
  FROM c GROUP BY 1)
SELECT source, CAST(N AS BIGINT) AS n_rows, n_categories,
       CASE WHEN N >= 2
            THEN CAST(pairs * 10000 // (N * (N - 1)) AS BIGINT) END
         AS simpson_bp
FROM g
"""


def text_ngram_novelty(spark, sf_dir):
    # Per-language n-gram novelty (training/text.py::ngram_novelty): of
    # each doc's distinct word 3-grams, the share first seen in that doc
    # (first = min doc_id corpus-wide) — the corpus-growth-health metric
    # next to the pairwise dup stack. Tokenization is the shared
    # top_ngrams convention. Explode→distinct→min-agg→equi-join on the
    # gram hash space; text never shuffles.
    return ngram_novelty(_t(spark, sf_dir, "documents"), n=3)


NGRAM_NOVELTY_SQL = r"""
WITH t AS (
  SELECT doc_id, lang AS grp,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents),
dg AS (
  SELECT DISTINCT doc_id, grp, unnest(
    CASE WHEN len(toks) >= 3
         THEN list_transform(range(1, len(toks) - 1),
                             i -> array_to_string(toks[i:i+2], ' '))
         ELSE [] END) AS gram
  FROM t),
f AS (SELECT gram, min(doc_id) AS first_doc FROM dg GROUP BY 1)
SELECT grp, CAST(count(DISTINCT dg.doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS distinct_grams,
       CAST(sum(CASE WHEN dg.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS novel_grams,
       CAST(CAST(sum(CASE WHEN dg.doc_id = f.first_doc THEN 1 ELSE 0 END)
                 AS HUGEINT) * 10000 // count(*) AS BIGINT) AS novel_bp
FROM dg JOIN f USING (gram)
GROUP BY 1
"""


def corpus_tv_distance(spark, sf_dir):
    # Pairwise total-variation distance between sources' language
    # distributions (operators/stats.py::tv_distance_pairs):
    # tv_bp = 10000·Σ|n1·N2 − n2·N1| div (2·N1·N2) over the densified
    # (source × lang) grid — the calibration-free drift number that
    # upper-bounds every event-probability difference. The pairwise
    # join touches only the tiny grid, never the row table.
    return tv_distance_pairs(_t(spark, sf_dir, "documents"), "source", "lang")


TV_DISTANCE_SQL = """
WITH c AS (
  SELECT source AS grp, lang AS cat, CAST(count(*) AS HUGEINT) AS cnt
  FROM documents GROUP BY 1, 2),
grid AS (
  SELECT g.grp, l.cat, coalesce(c.cnt, 0) AS cnt
  FROM (SELECT DISTINCT grp FROM c) g
  CROSS JOIN (SELECT DISTINCT cat FROM c) l
  LEFT JOIN c ON c.grp = g.grp AND c.cat = l.cat),
t AS (SELECT *, sum(cnt) OVER (PARTITION BY grp) AS tot FROM grid)
SELECT a.grp AS grp_a, b.grp AS grp_b,
       CAST(max(a.tot) AS BIGINT) AS n_rows_a,
       CAST(max(b.tot) AS BIGINT) AS n_rows_b,
       CAST(sum(abs(a.cnt * b.tot - b.cnt * a.tot)) * 10000
            // (2 * max(a.tot) * max(b.tot)) AS BIGINT) AS tv_bp
FROM t a JOIN t b ON a.cat = b.cat AND a.grp < b.grp
GROUP BY 1, 2
"""


def text_heaps_law(spark, sf_dir):
    # Heaps-law vocabulary-growth checkpoints
    # (training/text.py::heaps_law_curve): distinct word types after
    # each tenth of the corpus in doc_id order — the vocabulary-side
    # twin of text_ngram_novelty's per-doc signal. Tokens collapse to
    # (token → first doc) then to a per-first-doc count table; the only
    # global sort is over the doc-id projection.
    return heaps_law_curve(_t(spark, sf_dir, "documents"))


HEAPS_SQL = r"""
WITH tk AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents),
fd AS (
  SELECT tok, min(doc_id) AS first_doc FROM tk WHERE tok != '' GROUP BY 1),
newv AS (SELECT first_doc, CAST(count(*) AS BIGINT) AS n_new FROM fd GROUP BY 1),
ids AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn,
         count(*) OVER () AS N
  FROM documents),
cps AS (
  SELECT CAST(cut AS BIGINT) AS cut, CAST(rn AS BIGINT) AS n_docs,
         doc_id AS last_doc_id
  FROM ids, unnest(range(1, 11)) AS u(cut)
  WHERE rn = (cut * N) // 10)
SELECT cps.cut, cps.n_docs, cps.last_doc_id,
       CAST(sum(n_new) AS BIGINT) AS vocab_size
FROM cps JOIN newv ON newv.first_doc <= cps.last_doc_id
GROUP BY 1, 2, 3
"""


def text_readability(spark, sf_dir):
    # Flesch-Kincaid-style readability per language
    # (training/text.py::readability_profile): FK×100 = 39·w div s +
    # 1180·y div w − 1559 per doc with \w+ words, [.!?]+ sentences
    # (floored to 1), [aeiouy]+ vowel-group syllables — each term
    # truncating independently in fixed order, so any engine reproduces
    # the grade exactly. The curation signal beside text_quality_score.
    return readability_profile(_t(spark, sf_dir, "documents")).select(
        F.col("grp").alias("lang"),
        "n_docs", "mean_fk_x100", "min_fk_x100", "max_fk_x100",
    )


READABILITY_SQL = r"""
WITH b AS (
  SELECT lang,
         CAST(len(regexp_extract_all(coalesce(text, ''), '\w+')) AS BIGINT) AS w,
         greatest(CAST(len(regexp_extract_all(coalesce(text, ''), '[.!?]+'))
                       AS BIGINT), 1) AS s,
         CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+'))
              AS BIGINT) AS y
  FROM documents),
fk AS (
  SELECT lang, (39 * w) // s + (1180 * y) // w - 1559 AS f
  FROM b WHERE w > 0),
g AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(f AS HUGEINT)) AS HUGEINT) AS sm,
         CAST(min(f) AS BIGINT) AS min_fk_x100,
         CAST(max(f) AS BIGINT) AS max_fk_x100
  FROM fk GROUP BY 1)
SELECT lang, n_docs,
       CAST((CASE WHEN sm < 0 THEN -1 ELSE 1 END) * (abs(sm) // n_docs)
            AS BIGINT) AS mean_fk_x100,
       min_fk_x100, max_fk_x100
FROM g
"""


def corpus_lang_confusion(spark, sf_dir):
    # Full confusion matrix between the DECLARED lang column and the
    # n-gram lang_id prediction — the eval-artifact form of
    # text_lang_mismatch's row list: per (declared, predicted) cell,
    # doc count and the truncated-bp share of the declared row. One
    # groupBy over the joined 2-column projection; the bp denominator
    # windows over the ≤|langs|² cell table.
    from pyspark.sql.window import Window as _W

    d = _t(spark, sf_dir, "documents")
    pred = lang_id(d).select("doc_id", "lang_id")
    cells = (
        d.select("doc_id", F.col("lang").alias("declared"))
        .join(pred, "doc_id")
        .groupBy("declared", F.col("lang_id").alias("predicted"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return cells.withColumn(
        "_tot",
        F.sum("n_docs").over(_W.partitionBy("declared")).cast("decimal(38,0)"),
    ).select(
        "declared",
        "predicted",
        "n_docs",
        F.expr("(cast(n_docs as decimal(38,0)) * 10000) div _tot")
        .cast("long")
        .alias("row_share_bp"),
    )


def lang_confusion_sql() -> str:
    return f"""
WITH pred AS ({lang_id_sql()}),
j AS (
  SELECT d.lang AS declared, p.lang_id AS predicted
  FROM documents d JOIN pred p ON p.doc_id = d.doc_id),
c AS (
  SELECT declared, predicted, CAST(count(*) AS HUGEINT) AS n
  FROM j GROUP BY 1, 2)
SELECT declared, predicted, CAST(n AS BIGINT) AS n_docs,
       CAST(n * 10000 // sum(n) OVER (PARTITION BY declared) AS BIGINT)
         AS row_share_bp
FROM c
"""


def corpus_weighted_sample(spark, sf_dir):
    # Deterministic weight-proportional Bernoulli sample (training/
    # select.py::weighted_bernoulli_sample): include doc i with
    # probability n_chars_i * target / total_chars via the salted
    # md5-u32 coin — the size-biased audit sample, exact integers end
    # to end.
    return weighted_bernoulli_sample(
        _t(spark, sf_dir, "documents"), "n_chars", target=500
    )


def corpus_weighted_sample_sql() -> str:
    base = _duck_minhash_base("('wbs1:' || CAST(doc_id AS VARCHAR))")
    return f"""
WITH tot AS (SELECT CAST(sum(n_chars) AS HUGEINT) AS t FROM documents),
u AS (SELECT doc_id, lang, n_chars, {base} AS u32 FROM documents)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
       CAST(u32 AS BIGINT) AS u32
FROM u, tot
WHERE CAST(u32 AS HUGEINT) * t
      < CAST(4294967296 AS HUGEINT) * n_chars * 500
"""


def text_textrank_terms(spark, sf_dir):
    # TextRank keyword scoring: fixed-point pagerank over the
    # UNDIRECTED collocation graph (adjacent-bigram pairs with
    # count >= 5 — the text_collocations edge set verbatim, so the
    # graph has one source of truth). Mihalcea-Tarau's extractive
    # keyword ranking, here bit-exact: the same 64-bit integer
    # pagerank as kg_pagerank, oracle unrolled over the same edges.
    pairs = collocations(_t(spark, sf_dir, "documents"), min_count=5).select(
        "t1", "t2"
    )
    edges = pairs.select(
        F.col("t1").alias("src"), F.col("t2").alias("dst")
    ).unionByName(pairs.select(F.col("t2").alias("src"), F.col("t1").alias("dst")))
    return pagerank_fixed_point(edges).select(
        F.col("node").alias("term"), "rank"
    )


def textrank_sql() -> str:
    edges = f"""
WITH tok AS ({_TOK_STREAM_SQL}),
t AS (SELECT * FROM tok WHERE token <> ''),
prs AS (
  SELECT a.token AS t1, b.token AS t2
  FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT t1 AS src, t2 AS dst FROM prs
UNION ALL SELECT t2 AS src, t1 AS dst FROM prs
"""
    return (
        f"SELECT node AS term, rank FROM ({_pagerank_sql_over(edges)})"
    )


def text_burstiness(spark, sf_dir):
    # Church/Gale term burstiness (training/text.py::burstiness): top-50
    # words by exact integer variance-to-mean ratio of per-doc counts —
    # separates topical terms from evenly-spread function words; read
    # next to top_ngrams as the boilerplate-leak radar.
    return burstiness(_t(spark, sf_dir, "documents"), min_total=30, k=50)


TEXT_BURSTINESS_SQL = r"""
WITH docs AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+') AS toks
  FROM documents),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus_docs FROM documents),
pd AS (SELECT doc_id, unnest(toks) AS word FROM docs),
pc AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
       FROM pd WHERE word <> '' GROUP BY 1, 2),
pw AS (SELECT word, CAST(count(*) AS BIGINT) AS n_docs,
              sum(c) AS n_total, sum(c * c) AS s2
       FROM pc GROUP BY 1)
SELECT word, n_docs, CAST(n_total AS BIGINT) AS n_total,
       CAST(100 * (n.n_corpus_docs * s2 - n_total * n_total)
            // (n.n_corpus_docs * n_total) AS BIGINT) AS vmr_x100
FROM pw, n
WHERE n_total >= 30
ORDER BY vmr_x100 DESC, word ASC
LIMIT 50
"""


def text_simpson_diversity(spark, sf_dir):
    # Simpson repeat-rate / Gini-Simpson diversity per language
    # (training/text.py::simpson_diversity): P(two tokens drawn without
    # replacement are the same word) in exact bp — the division-free
    # cousin of entropy; a template-flooded slice scores high repeat-rate
    # long before perplexity could be computed.
    return simpson_diversity(_t(spark, sf_dir, "documents")).withColumnRenamed(
        "grp", "lang"
    )


TEXT_SIMPSON_SQL = r"""
WITH docs AS (
  SELECT lang,
         regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+') AS toks
  FROM documents),
pd AS (SELECT lang, unnest(toks) AS word FROM docs),
pc AS (SELECT lang AS grp, word, CAST(count(*) AS BIGINT) AS c
       FROM pd WHERE word <> '' GROUP BY 1, 2)
SELECT grp AS lang,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(CASE WHEN sum(c) >= 2 THEN 10000 * sum(c * (c - 1))
                 // (sum(c) * (sum(c) - 1)) END AS BIGINT) AS simpson_bp,
       CAST(CASE WHEN sum(c) >= 2 THEN 10000 - 10000 * sum(c * (c - 1))
                 // (sum(c) * (sum(c) - 1)) END AS BIGINT) AS gini_simpson_bp
FROM pc
GROUP BY grp
"""


def text_heaps_curve(spark, sf_dir):
    # Heaps'-law vocabulary-growth curve (training/text.py::heaps_curve):
    # exact cumulative token and distinct-word counts at 10 doc_id-order
    # prefixes — positions and cumulative sums ride global_prefix_sum
    # (bucketed, no full-data single-partition window); words collapse to
    # their first position, never per-checkpoint vocabularies.
    return heaps_curve(_t(spark, sf_dir, "documents"), n_checkpoints=10)


TEXT_HEAPS_SQL = r"""
WITH d AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+') AS toks
  FROM documents),
tk AS (SELECT doc_id,
              CAST(len(list_filter(toks, w -> w <> '')) AS BIGINT) AS n_toks
       FROM d),
p AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS pos,
             CAST(sum(n_toks) OVER (ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_incl
      FROM tk),
dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents),
cps AS (SELECT CAST(t.k AS BIGINT) AS checkpoint,
               CAST(dd.d * t.k // 10 AS BIGINT) AS cp_pos
        FROM range(1, 11) t(k), dd),
ta AS (SELECT c.checkpoint, c.cp_pos AS n_docs_cum, p.tok_incl AS n_tokens_cum
       FROM p JOIN cps c ON p.pos = c.cp_pos),
wx AS (SELECT DISTINCT doc_id, word
       FROM (SELECT doc_id, unnest(toks) AS word FROM d)
       WHERE word <> ''),
wf AS (SELECT word, min(p.pos) AS fpos
       FROM wx JOIN p ON p.doc_id = wx.doc_id GROUP BY 1),
ty AS (SELECT c.checkpoint, CAST(count(*) AS BIGINT) AS n_types_cum
       FROM wf JOIN cps c ON wf.fpos <= c.cp_pos GROUP BY 1)
SELECT ta.checkpoint, ta.n_docs_cum, ta.n_tokens_cum,
       CAST(coalesce(ty.n_types_cum, 0) AS BIGINT) AS n_types_cum
FROM ta LEFT JOIN ty USING (checkpoint)
"""


def corpus_reshard_plan(spark, sf_dir):
    # reshard movement census (operators/layout.py::reshard_plan): rows
    # that must move growing 8 -> 9 shards under modulo placement vs a
    # 64-vnode consistent-hash ring (the ring is configuration — built
    # driver-side from the shared md5 base hash and shipped as a literal,
    # zero joins). The capacity-plan number a migration needs up front.
    return reshard_plan(
        _t(spark, sf_dir, "documents"), "doc_id", old_shards=8, new_shards=9
    )


def corpus_reshard_sql() -> str:
    def ring_expr(n_shards: int) -> str:
        vhs, shs = _ring_points(n_shards, 64)
        vl = "[" + ", ".join(str(v) for v in vhs) + "]"
        sl = "[" + ", ".join(str(s) for s in shs) + "]"
        idx = f"len(list_filter({vl}, x -> x < h))"
        return (
            f"({sl})[(CASE WHEN {idx} >= {len(vhs)} THEN 0 ELSE {idx} END) + 1]"
        )

    h = _duck_minhash_base("CAST(doc_id AS VARCHAR)")
    return f"""
WITH d AS (SELECT {h} AS h FROM documents),
a AS (SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN h % 8 <> h % 9 THEN 1 ELSE 0 END) AS BIGINT) AS mm,
  CAST(sum(CASE WHEN {ring_expr(8)} <> {ring_expr(9)} THEN 1 ELSE 0 END)
       AS BIGINT) AS rm
 FROM d)
SELECT 'mod' AS strategy, n_rows, mm AS n_moved,
       CAST(CASE WHEN n_rows > 0 THEN 10000 * mm // n_rows END AS BIGINT)
         AS moved_bp
FROM a
UNION ALL
SELECT 'ring', n_rows, rm,
       CAST(CASE WHEN n_rows > 0 THEN 10000 * rm // n_rows END AS BIGINT)
FROM a
"""


def text_yule_k(spark, sf_dir):
    # per-document Yule's K lexical richness (training/text.py::yule_k):
    # K·100 = (10⁶·(S2 − N)) div N² with one truncating division — the
    # length-invariant repeated-vocabulary statistic; high K = few types
    # recycled hard (template smell), < 2 tokens → NULL verdict but the
    # row survives (audit invariant).
    return yule_k(_t(spark, sf_dir, "documents"))


TEXT_YULE_K_SQL = r"""
WITH docs AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+') AS toks
  FROM documents),
pt AS (SELECT doc_id, word, CAST(count(*) AS HUGEINT) AS c
       FROM (SELECT doc_id, unnest(toks) AS word FROM docs)
       WHERE word <> '' GROUP BY 1, 2),
pd AS (SELECT doc_id, CAST(sum(c) AS HUGEINT) AS n,
              CAST(count(*) AS BIGINT) AS n_types,
              CAST(sum(c * c) AS HUGEINT) AS s2
       FROM pt GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(pd.n, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(pd.n_types, 0) AS BIGINT) AS n_types,
       CASE WHEN coalesce(pd.n, 0) >= 2
            THEN CAST((pd.s2 - pd.n) * CAST(1000000 AS HUGEINT)
                      // (pd.n * pd.n) AS BIGINT)
       END AS k_x100
FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
"""


def corpus_fd_census(spark, sf_dir):
    # approximate-functional-dependency audit (operators/relational.py::
    # fd_violation_census): is lang a function of source (and vice
    # versa)? g3 violation rows = minimum deletions for the FD to hold;
    # majority pick tie-broken on the smaller string so both engines
    # count identically.
    return fd_violation_census(
        _t(spark, sf_dir, "documents"),
        [("source", "lang"), ("lang", "source")],
    )


def _fd_leg_sql(det: str, dep: str) -> str:
    return f"""
SELECT '{det} -> {dep}' AS fd,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_keys,
       CAST(sum(rows_ - maj) AS BIGINT) AS n_violating_rows,
       CAST(sum(rows_) AS BIGINT) AS n_rows,
       CAST(sum(maj) * 10000 // sum(rows_) AS BIGINT) AS support_bp
FROM (SELECT k, sum(c) AS rows_, sum(CASE WHEN rk = 1 THEN c END) AS maj,
             count(*) AS nv
      FROM (SELECT k, v, c,
                   row_number() OVER (PARTITION BY k
                                      ORDER BY c DESC, v ASC NULLS LAST)
                     AS rk
            FROM (SELECT CAST({det} AS VARCHAR) AS k,
                         CAST({dep} AS VARCHAR) AS v,
                         CAST(count(*) AS BIGINT) AS c
                  FROM documents WHERE {det} IS NOT NULL GROUP BY 1, 2))
      GROUP BY 1)
"""


def corpus_fd_census_sql() -> str:
    return (
        _fd_leg_sql("source", "lang")
        + " UNION ALL "
        + _fd_leg_sql("lang", "source")
    )


def corpus_split_leakage(spark, sf_dir):
    # cross-split contamination census (training/dedup.py::
    # near_dup_split_leakage): verified near-dup pairs (LSH -> Jaccard
    # >= 0.9, never all-pairs) whose two documents land in different
    # train/val/test splits — evaluation leakage (the val/test member
    # scores a near-copy of a training document). Shares the verify
    # path with dedup_jaccard_verify and the split rule with
    # corpus_split_assign, so the three reports agree by construction.
    # (The exact-duplicate variant exact_dup_split_leakage is the
    # degenerate case — pytest-gated; the bench corpus has no exact
    # dups, so the near-dup census is the driver query.)
    return near_dup_split_leakage(_t(spark, sf_dir, "documents"))


def split_leakage_sql() -> str:
    split = (
        f"CASE WHEN {_duck_minhash_base('doc_id::VARCHAR')} % 10 <= 7"
        " THEN 'train'"
        f" WHEN {_duck_minhash_base('doc_id::VARCHAR')} % 10 = 8"
        " THEN 'val' ELSE 'test' END"
    )
    return (
        _lsh_pairs_ctes()
        + ","
        + _JAC_TAIL
        + f"""
tag AS (SELECT doc_id, {split} AS split FROM documents)
SELECT j.doc_a, j.doc_b, j.jaccard,
       ta.split AS split_a, tb.split AS split_b
FROM jac j
JOIN tag ta ON ta.doc_id = j.doc_a
JOIN tag tb ON tb.doc_id = j.doc_b
WHERE j.jaccard >= 0.9 AND ta.split <> tb.split
"""
    )


def corpus_systematic_sample(spark, sf_dir):
    # systematic every-10th sampling over the portable md5-prefix hash
    # ring (training/features.py::systematic_sample) — the third
    # deterministic sampling flavor beside stratified/weighted: exactly
    # ceil(N/10) rows, uniform hash-ring coverage, no RNG state, same
    # rows on every engine and every retry.
    return systematic_sample(_t(spark, sf_dir, "documents"), "doc_id", 10)


def systematic_sample_sql() -> str:
    hv = _duck_minhash_base("CAST(doc_id AS VARCHAR)")
    return f"""
WITH h AS (SELECT doc_id, {hv} AS hv FROM documents),
r AS (SELECT doc_id,
             row_number() OVER (ORDER BY hv, doc_id) AS sample_rank
      FROM h)
SELECT doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE (sample_rank - 1) % 10 = 0
"""


def corpus_waterfill_quota(spark, sf_dir):
    # max-min fair (water-filling) allocation of a 300-doc budget across
    # languages (training/features.py::waterfill_allocate) — the third
    # allocation method beside Hamilton (corpus_quota_alloc) and D'Hondt
    # (nation_dhondt_seats): proportional methods starve small groups
    # under a dominant one; max-min raises everyone to a common water
    # level capped at their own availability, leftover pinned to the
    # first unsaturated keys. Closed-form level from one sort window —
    # no iteration.
    return waterfill_allocate(
        _t(spark, sf_dir, "documents"), "lang", F.lit(1), 300
    ).select(F.col("grp").alias("lang"), "avail", "alloc")


WATERFILL_SQL = """
WITH g AS (SELECT lang AS grp, CAST(count(*) AS BIGINT) AS avail
           FROM documents GROUP BY 1),
st AS (SELECT grp, avail,
              row_number() OVER (ORDER BY avail, grp) AS i,
              sum(avail) OVER (ORDER BY avail, grp
                               ROWS UNBOUNDED PRECEDING) AS pfx,
              count(*) OVER () AS n,
              sum(avail) OVER () AS total
       FROM g),
lv AS (
  SELECT coalesce((300 - pfx) // nullif(n - i, 0), 300 // n) AS lvl
  FROM (SELECT *, row_number() OVER (ORDER BY i DESC) AS rk
        FROM st WHERE pfx + (n - i) * avail <= 300)
  WHERE rk = 1
  UNION ALL
  SELECT 300 // max(n) FROM st
  WHERE NOT EXISTS (SELECT 1 FROM st WHERE pfx + (n - i) * avail <= 300)),
a0 AS (SELECT grp, avail, total,
              CASE WHEN total <= 300 THEN avail
                   ELSE least(avail, lv.lvl) END AS base
       FROM st CROSS JOIN lv),
fin AS (SELECT grp, avail, total, base,
               sum(base) OVER () AS spent,
               sum(CASE WHEN avail > base THEN 1 ELSE 0 END)
                 OVER (ORDER BY grp ROWS UNBOUNDED PRECEDING) AS rk
        FROM a0)
SELECT grp AS lang, avail,
       CAST(base + CASE WHEN total > 300 AND avail > base
                         AND rk <= 300 - spent THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM fin
"""


def corpus_dup_rate_by_lang(spark, sf_dir):
    # per-language exact duplicate-rate dashboard
    # (training/dedup.py::dup_rate_by_group): the curation report's
    # lead metric — byte-identical repetition per slice, shuffled as
    # 128-bit digests (never the text), NULL text coalesced to '' (the
    # curation null-hardening convention).
    return dup_rate_by_group(_t(spark, sf_dir, "documents"))


DUP_RATE_SQL = """
SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(coalesce(text, ''))) AS BIGINT) AS n_distinct,
       CAST((10000 * (count(*) - count(DISTINCT md5(coalesce(text, '')))))
            // count(*) AS BIGINT) AS dup_rate_bp
FROM documents GROUP BY 1
"""


def corpus_license_screen(spark, sf_dir):
    # license-header census (training/text.py::license_screen): the
    # compliance gate a code-LLM corpus passes before shipping — each
    # doc classified by the first license-marker phrase it contains
    # (priority pinned in LICENSE_MARKERS, shared verbatim with the
    # oracle below), rolled up per (lang, license). Plain lowercased
    # phrase containment — no regex dialect — all JVM Contains
    # predicates in one codegen stage.
    return license_screen(_t(spark, sf_dir, "documents"))


def text_quality_dup_matrix(spark, sf_dir):
    # quality × duplication interaction audit
    # (training/curate.py::quality_dup_interaction): every doc's
    # quality verdict (the SHARED quality_reason_expr, dup layer
    # deliberately off) crossed with exact-dup-family membership
    # (canonical rep included) — "are the duplicates also the junk?"
    # decides whether dedup and quality filters overlap or each costs
    # unique content. Fingerprint groupBy (digests shuffle, text
    # never) + one bounded cell aggregate.
    return quality_dup_interaction(_t(spark, sf_dir, "documents"))


def text_quality_dup_sql() -> str:
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    return rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                     x -> x <> '') AS t,
         sha256(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))
           AS fp
  FROM documents),
fam AS (SELECT fp, count(*) AS n FROM toks GROUP BY fp),
v AS (
  SELECT CASE WHEN length(t) < 5 THEN 'too_short'
              WHEN round(length(list_filter(t, x -> lower(x) IN ({stops})))
                         / greatest(length(t), 1), 4) < 0.05
                THEN 'low_stopword_ratio'
              ELSE 'kept' END AS quality_reason,
         (f.n >= 2) AS is_dup
  FROM toks k JOIN fam f ON f.fp = k.fp),
a AS (SELECT quality_reason, is_dup, CAST(count(*) AS BIGINT) AS n_docs
      FROM v GROUP BY 1, 2)
SELECT quality_reason, is_dup, n_docs,
       CAST((10000 * n_docs) // (sum(n_docs) OVER ()) AS BIGINT) AS share_bp
FROM a
"""


def text_prefix_families(spark, sf_dir):
    # templated-prefix family screen (training/text.py::prefix_families):
    # docs sharing the same normalized 32-char opening form a family —
    # the cheap boilerplate signal beside the 13-gram span detector;
    # family-size histogram with DOC shares so "40 % of the corpus
    # opens identically" reads directly. Prefixes reduce to digests
    # in-stage.
    return prefix_families(_t(spark, sf_dir, "documents"))


PREFIX_FAMILIES_SQL = r"""
WITH fp AS (
  SELECT sha256(substr(regexp_replace(lower(coalesce(text, '')), '\s+', ' ',
                                      'g'), 1, 32)) AS fp
  FROM documents),
fam AS (SELECT fp, CAST(count(*) AS BIGINT) AS family_size
        FROM fp GROUP BY 1),
h AS (SELECT family_size, CAST(count(*) AS BIGINT) AS n_families
      FROM fam GROUP BY 1)
SELECT family_size, n_families,
       CAST((10000 * family_size * n_families)
            // (sum(family_size * n_families) OVER ()) AS BIGINT)
         AS docs_share_bp
FROM h
"""


def text_token_lengths(spark, sf_dir):
    # token-length histogram (training/text.py::token_length_histogram):
    # the lexical shape profile behind vocab/merge budget choices;
    # lengths clamp at 30 so a megatoken cannot stretch the report.
    # Text reduces to integer lengths in-stage.
    return token_length_histogram(_t(spark, sf_dir, "documents"))


TOKEN_LENGTHS_SQL = r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(trim(coalesce(text, '')),
                                               '\s+'), x -> x <> '')) AS w
  FROM documents),
h AS (SELECT CAST(least(length(w), 30) AS BIGINT) AS token_len,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM toks GROUP BY 1)
SELECT token_len, n_tokens,
       CAST((10000 * n_tokens) // (sum(n_tokens) OVER ()) AS BIGINT)
         AS share_bp
FROM h
"""


def text_digit_heavy(spark, sf_dir):
    # digit-heavy document screen (training/text.py::digit_heavy_screen):
    # per lang, docs whose digit share of non-whitespace chars exceeds
    # 30 % (cross-multiplied, no ratio) — the "prose or dump" signal
    # the stopword ratio misses. Two JVM regexp_counts, one aggregate.
    return digit_heavy_screen(_t(spark, sf_dir, "documents"))


DIGIT_HEAVY_SQL = r"""
WITH cc AS (
  SELECT lang,
         CAST(length(regexp_replace(coalesce(text, ''), '[^0-9]', '', 'g'))
              AS BIGINT) AS digits,
         CAST(length(regexp_replace(coalesce(text, ''), '\s', '', 'g'))
              AS BIGINT) AS chars
  FROM documents),
per AS (
  SELECT lang,
         CASE WHEN 10000 * digits > 3000 * chars AND chars > 0
              THEN 1 ELSE 0 END AS heavy
  FROM cc),
a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(heavy) AS BIGINT) AS n_digit_heavy
      FROM per GROUP BY 1)
SELECT lang, n_docs, n_digit_heavy,
       CAST((10000 * n_digit_heavy) // n_docs AS BIGINT) AS flagged_bp
FROM a
"""


def text_shout_screen(spark, sf_dir):
    # uppercase-shouting screen (training/text.py::shout_screen):
    # digit_heavy's letter-case sibling — uppercase share of LETTERS
    # > 30 % (cross-multiplied; letters-only denominator so digits
    # don't dilute), per lang with flagged bp.
    return shout_screen(_t(spark, sf_dir, "documents"))


SHOUT_SCREEN_SQL = r"""
WITH cc AS (
  SELECT lang,
         CAST(length(regexp_replace(coalesce(text, ''), '[^A-Z]', '', 'g'))
              AS BIGINT) AS up,
         CAST(length(regexp_replace(coalesce(text, ''), '[^A-Za-z]', '', 'g'))
              AS BIGINT) AS let
  FROM documents),
per AS (SELECT lang,
               CASE WHEN 10000 * up > 3000 * let AND let > 0
                    THEN 1 ELSE 0 END AS shout
        FROM cc),
a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(shout) AS BIGINT) AS n_shouting
      FROM per GROUP BY 1)
SELECT lang, n_docs, n_shouting,
       CAST((10000 * n_shouting) // n_docs AS BIGINT) AS flagged_bp
FROM a
"""
