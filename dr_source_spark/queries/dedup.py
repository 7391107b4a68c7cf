"""Deduplication queries: exact, MinHash/LSH, SimHash and their graphs."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.graph import hyperball_neighborhoods, triangle_counts, weighted_sssp
from ..training.dedup import (
    LSH_BANDS,
    LSH_CAP,
    LSH_HASHES,
    candidate_agreement,
    cdc_chunk_census,
    duplicate_clusters,
    exact_duplicates,
    incremental_dedup_decisions,
    jaccard_threshold_sweep,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_containment,
    ngram_jaccard,
    ngram_jaccard_pct,
    oph_lsh_candidates,
    oph_signatures,
    ppjoin_pairs,
    rep_quality,
    repeated_spans,
    simhash,
    simhash_jaccard_agreement,
    simhash_near_dup_pairs,
    substring_cut_plan,
)
from ._common import (
    _JAC_TAIL,
    _MINHASH_P,
    _WORDS_CTE,
    _duck_minhash_base,
    _duck_minhash_seeds,
    _lsh_pairs_ctes,
    _t,
)


def dedup_exact(spark, sf_dir):
    # round 6: an ensure_min_parallelism widening (shuffle the text so the
    # sha256 fingerprint runs cluster-wide) won an isolated A/B
    # (0.99 -> 0.84 s at sf1) but measured flat-to-worse inside the bench
    # suite (0.58-0.63 vs 0.57 un-widened) — the 15 MB text shuffle buys
    # back what the parallel hash saves at this scale. Reverted; the
    # fingerprint is a single narrow scan-stage pass as before.
    return exact_duplicates(_t(spark, sf_dir, "documents"))


DEDUP_EXACT_SQL = r"""
SELECT sha256(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) AS canonical_id, count(*) AS dup_count
FROM documents GROUP BY 1
"""


def dedup_minhash(spark, sf_dir):
    return minhash_signatures(_t(spark, sf_dir, "documents"), num_hashes=8).withColumn(
        "seed", F.col("seed").cast("long")
    )


DEDUP_MINHASH_SQL = rf"""
WITH words AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
  ) WHERE w <> ''
), {_duck_minhash_seeds(8)},
base AS (SELECT doc_id, {_duck_minhash_base('w')} AS h FROM words)
SELECT doc_id, seed::BIGINT AS seed, min((a * h + b) % {_MINHASH_P}) AS minhash
FROM base CROSS JOIN seeds GROUP BY doc_id, seed
"""


def dedup_minhash_oph(spark, sf_dir):
    # one-permutation hashing: ONE base hash per token bucketed into bins
    # (vs num_hashes affine transforms per token) — measured 5.3x cheaper
    # signature CPU at 112 hashes (docs/ROUND5.md); empty bins filled
    # by deterministic rotation densification (nearest non-empty cyclic
    # right), stated relationally in the oracle via IGNORE NULLS windows.
    return oph_signatures(_t(spark, sf_dir, "documents"), num_bins=16).withColumn(
        "seed", F.col("seed").cast("long")
    )


_OPH_BINS = 16


DEDUP_OPH_SQL = rf"""
WITH words AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
  ) WHERE w <> ''
),
base AS (SELECT doc_id, {_duck_minhash_base('w')} AS h FROM words),
bins AS (
  SELECT doc_id, CAST(h % {_OPH_BINS} AS INT) AS bin, min(h) AS mh
  FROM base GROUP BY doc_id, bin
),
raw AS (
  SELECT d.doc_id, t.i AS seed, b.mh
  FROM (SELECT DISTINCT doc_id FROM bins) d
  CROSS JOIN generate_series(0, {_OPH_BINS - 1}) t(i)
  LEFT JOIN bins b ON b.doc_id = d.doc_id AND b.bin = t.i
)
SELECT doc_id, seed,
  coalesce(
    mh,
    first_value(mh IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY seed
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
    first_value(mh IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY seed
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
  ) AS minhash
FROM raw
"""


def dedup_lsh_oph(spark, sf_dir):
    # end-to-end OPH LSH: dense 112-bin signature -> in-row banding (r=8,
    # 14 bands, same S-curve) -> shared grouped pair generation with the
    # 1000-doc cluster cap. ~5x less signature CPU than the classic path.
    return oph_lsh_candidates(_t(spark, sf_dir, "documents"))


DEDUP_LSH_OPH_SQL = rf"""
WITH {_WORDS_CTE},
base AS (SELECT doc_id, {_duck_minhash_base('w')} AS h FROM words),
bins AS (
  SELECT doc_id, CAST(h % {LSH_HASHES} AS INT) AS bin, min(h) AS mh
  FROM base GROUP BY doc_id, bin
),
raw AS (
  SELECT d.doc_id, t.i AS seed, b.mh
  FROM (SELECT DISTINCT doc_id FROM bins) d
  CROSS JOIN generate_series(0, {LSH_HASHES - 1}) t(i)
  LEFT JOIN bins b ON b.doc_id = d.doc_id AND b.bin = t.i
),
sigs AS (
  -- STRIDED banding (band = seed % bands): rotation densification fills
  -- empty bins in consecutive runs, so consecutive-bin bands would match
  -- on a single shared token; striding spreads each run across bands.
  SELECT doc_id, seed, CAST(seed % {LSH_BANDS} AS INT) AS band,
    coalesce(
      mh,
      first_value(mh IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY seed
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
      first_value(mh IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY seed
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ) AS minhash
  FROM raw
),
band_sigs AS (
  SELECT doc_id, band,
         string_agg(minhash::VARCHAR, '|' ORDER BY seed) AS band_sig
  FROM sigs GROUP BY doc_id, band
),
kept AS (
  SELECT band, band_sig FROM band_sigs GROUP BY band, band_sig HAVING count(*) <= {LSH_CAP}
)
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM band_sigs l
JOIN kept k ON l.band = k.band AND l.band_sig = k.band_sig
JOIN band_sigs r ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
"""


def dedup_incremental(spark, sf_dir):
    # the daily-ingest dedup shape: docs with doc_id % 3 == 0 arrive as a
    # NEW batch and are admitted/rejected against the % 3 != 0 corpus —
    # the index side's band signatures never re-dedup and never shuffle
    # (the small batch is broadcast onto them); candidates verify with
    # exact integer word-set Jaccard, best match ties to lowest doc_id
    docs = _t(spark, sf_dir, "documents")
    return incremental_dedup_decisions(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 == 0),
    )


DEDUP_INCR_SQL = rf"""
WITH {_WORDS_CTE}, {_duck_minhash_seeds(LSH_HASHES)},
base AS (SELECT doc_id, {_duck_minhash_base('w')} AS h FROM words),
sigs AS (
  SELECT doc_id, seed, CAST(seed // {LSH_HASHES // LSH_BANDS} AS INT) AS band,
         min((a * h + b) % {_MINHASH_P}) AS minhash
  FROM base CROSS JOIN seeds GROUP BY doc_id, seed
),
band_sigs AS (
  SELECT doc_id, band,
         string_agg(minhash::VARCHAR, '|' ORDER BY seed) AS band_sig
  FROM sigs GROUP BY doc_id, band
),
idx AS (SELECT * FROM band_sigs WHERE doc_id % 3 <> 0),
newb AS (SELECT * FROM band_sigs WHERE doc_id % 3 = 0),
kept AS (
  SELECT band, band_sig FROM idx GROUP BY band, band_sig HAVING count(*) <= {LSH_CAP}
),
cands AS (
  SELECT DISTINCT n.doc_id, i.doc_id AS idx_id
  FROM newb n
  JOIN kept k ON n.band = k.band AND n.band_sig = k.band_sig
  JOIN idx i ON i.band = k.band AND i.band_sig = k.band_sig
),
counts AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
inter AS (
  SELECT c.doc_id, c.idx_id, count(*) AS i
  FROM cands c
  JOIN words a ON a.doc_id = c.doc_id
  JOIN words b ON b.doc_id = c.idx_id AND a.w = b.w
  GROUP BY c.doc_id, c.idx_id
),
scored AS (
  SELECT c.doc_id, c.idx_id,
         100 * coalesce(i.i, 0) // (ca.n + cb.n - coalesce(i.i, 0)) AS pct
  FROM cands c
  LEFT JOIN inter i ON i.doc_id = c.doc_id AND i.idx_id = c.idx_id
  JOIN counts ca ON ca.doc_id = c.doc_id
  JOIN counts cb ON cb.doc_id = c.idx_id
),
ranked AS (
  SELECT doc_id, idx_id, pct,
         row_number() OVER (PARTITION BY doc_id ORDER BY pct DESC, idx_id) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS nc
  FROM scored
),
best AS (SELECT doc_id, nc, idx_id, pct FROM ranked WHERE rn = 1)
SELECT d.doc_id, coalesce(b.nc, 0)::BIGINT AS n_candidates,
  b.idx_id::BIGINT AS best_match_id, b.pct::BIGINT AS best_jaccard_pct,
  CASE WHEN b.pct >= 70 THEN 'duplicate' ELSE 'admitted' END AS verdict
FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
LEFT JOIN best b ON b.doc_id = d.doc_id
"""


def dedup_minhash_shingles(spark, sf_dir):
    # shingle→minhash: character 5-gram tokens instead of words (catches
    # reordered-word / punctuation-edit near-dups word-set Jaccard misses)
    return minhash_signatures(
        _t(spark, sf_dir, "documents"), num_hashes=6, shingle_n=5
    ).withColumn("seed", F.col("seed").cast("long"))


DEDUP_SHINGLE_SQL = f"""
WITH pos AS (
  SELECT doc_id, lower(text) AS t,
         unnest(range(1, greatest(length(lower(text)) - 4, 1) + 1)) AS i
  FROM documents
), sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS w FROM pos),
{_duck_minhash_seeds(6)},
base AS (SELECT doc_id, {_duck_minhash_base('w')} AS h FROM sh)
SELECT doc_id, seed::BIGINT AS seed, min((a * h + b) % {_MINHASH_P}) AS minhash
FROM base CROSS JOIN seeds GROUP BY doc_id, seed
"""


def dedup_lsh_candidates(spark, sf_dir):
    return minhash_lsh_candidates(_t(spark, sf_dir, "documents"))


DEDUP_LSH_SQL = _lsh_pairs_ctes() + "\nSELECT doc_a, doc_b FROM pairs"


def dedup_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard(docs, minhash_lsh_candidates(docs))


# shared CTE chain ending in pairs_j(doc_a, doc_b, jaccard) — consumed by
# the verify query below AND the threshold sweep, so the two cannot drift
_JACCARD_PAIRS_CTES = _lsh_pairs_ctes() + """,
counts AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS i
  FROM pairs p JOIN words a ON a.doc_id = p.doc_a JOIN words b ON b.doc_id = p.doc_b AND a.w = b.w
  GROUP BY p.doc_a, p.doc_b
),
pairs_j AS (
  SELECT i.doc_a, i.doc_b, round(CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i), 4) AS jaccard
  FROM inter i JOIN counts ca ON ca.doc_id = i.doc_a JOIN counts cb ON cb.doc_id = i.doc_b
)"""


DEDUP_JACCARD_SQL = _JACCARD_PAIRS_CTES + """
SELECT doc_a, doc_b, jaccard FROM pairs_j
"""


def dedup_clusters(spark, sf_dir):
    # near-dup clusters: LSH candidates -> jaccard>=0.9 verify -> connected
    # components via alternating large-star/small-star (O(log n) rounds)
    return duplicate_clusters(_t(spark, sf_dir, "documents"))


def dedup_contamination_dist(spark, sf_dir):
    # weighted SSSP (bounded Bellman-Ford, operators/graph.weighted_sssp)
    # through duplicate space: edge weight = 100 - integer word-set
    # Jaccard pct over the verified LSH pairs (pct >= 50), seeds = the
    # doc_id % 97 "eval set" the decontamination queries use. dist is the
    # cheapest <= 4-edge dissimilarity chain from any benchmark doc —
    # "how close is this document to the eval set through chains of
    # near-duplicates", the transitive version of text_ngram_decontam's
    # direct-overlap screen. Exact integer weights; the oracle unrolls
    # the same 4 sweeps.
    docs = _t(spark, sf_dir, "documents")
    pct = ngram_jaccard_pct(docs, minhash_lsh_candidates(docs))
    edges = pct.filter(F.col("jaccard_pct") >= 50).select(
        F.col("doc_a").alias("src"),
        F.col("doc_b").alias("dst"),
        (F.lit(100) - F.col("jaccard_pct")).alias("w"),
    )
    seeds = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id")
    return weighted_sssp(edges, seeds, rounds=4).select(
        F.col("node").cast("long").alias("doc_id"), "dist"
    )


def dedup_contamination_sql() -> str:
    rounds = 4
    parts = [
        _lsh_pairs_ctes()
        + """,
counts AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS i
  FROM pairs p JOIN words a ON a.doc_id = p.doc_a JOIN words b ON b.doc_id = p.doc_b AND a.w = b.w
  GROUP BY p.doc_a, p.doc_b
),
pct AS (
  SELECT i.doc_a, i.doc_b, CAST(100 * i.i AS BIGINT) // (ca.n + cb.n - i.i) AS jaccard_pct
  FROM inter i JOIN counts ca ON ca.doc_id = i.doc_a JOIN counts cb ON cb.doc_id = i.doc_b
),
sym AS (
  SELECT src, dst, min(w) AS w FROM (
    SELECT doc_a AS src, doc_b AS dst, 100 - jaccard_pct AS w FROM pct WHERE jaccard_pct >= 50
    UNION ALL
    SELECT doc_b, doc_a, 100 - jaccard_pct FROM pct WHERE jaccard_pct >= 50
  ) GROUP BY src, dst
),
d0 AS (SELECT DISTINCT doc_id AS node, CAST(0 AS BIGINT) AS dist
       FROM documents WHERE doc_id % 97 = 0),"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"d{i} AS (SELECT node, min(dist) AS dist FROM ("
            f" SELECT node, dist FROM d{i - 1}"
            f" UNION ALL SELECT e.dst, d.dist + e.w FROM d{i - 1} d"
            f" JOIN sym e ON e.src = d.node) GROUP BY node),"
        )
    body = "\n".join(parts).rstrip(",")
    return f"{body}\nSELECT CAST(node AS BIGINT) AS doc_id, dist FROM d{rounds}"


def dedup_triangles(spark, sf_dir):
    # triangle structure of the verified near-dup graph — a cluster of k
    # mutual near-dups carries C(k,3) triangles, so this is the quasi-clique
    # sanity metric over the SAME pair pipeline dedup_clusters consumes;
    # counting via degree-ordered orientation (operators/graph.triangle_counts)
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard(docs, minhash_lsh_candidates(docs)).filter(F.col("jaccard") >= 0.9)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return triangle_counts(edges).select(
        F.col("node").cast("bigint").alias("doc_id"), "n_triangles"
    )


def dedup_hyperball(spark, sf_dir):
    # HyperBall 2-hop neighborhood sketch (Boldi & Vigna 2013) over the
    # SAME verified near-dup graph dedup_clusters consumes: per-doc exact
    # <=1/<=2-hop ball sizes, doubled truncated harmonic centrality, and
    # the p=4 HLL register summary of the 2-hop ball. The oracle
    # materializes each ball as a SET and sketches it directly, so the
    # equality IS the HyperBall propagation law (max-merge == set-union
    # sketch) checked cross-engine, register for register.
    docs = _t(spark, sf_dir, "documents")
    pairs = (
        ngram_jaccard(docs, minhash_lsh_candidates(docs))
        .filter(F.col("jaccard") >= 0.9)
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
    )
    nodes = docs.select(F.col("doc_id").cast("bigint").alias("node"))
    return hyperball_neighborhoods(edges, nodes, p=4).withColumnRenamed(
        "node", "doc_id"
    )


def dedup_hyperball_sql() -> str:
    # ball_t as explicit (node, member) SETs via UNION (dedup), then the
    # register arithmetic of _TEXT_HLL_SQL at p=4 (maxrho = 29) applied to
    # the member hashes — every cell integer-exact in both engines
    threshold = 0.9
    return (
        _lsh_pairs_ctes()
        + ","
        + _JAC_TAIL
        + f"""
hedges AS (
  SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
  FROM jac WHERE jaccard >= {threshold} AND doc_a <> doc_b),
sedges AS (SELECT a AS src, b AS dst FROM hedges UNION SELECT b, a FROM hedges),
ball1 AS (
  SELECT d.doc_id AS node, d.doc_id AS member FROM documents d
  UNION SELECT e.src, e.dst FROM sedges e),
ball2 AS (
  SELECT node, member FROM ball1
  UNION SELECT b.node, e.dst FROM ball1 b JOIN sedges e ON e.src = b.member),
bsz AS (
  SELECT b1.node, b1.n AS ball1_exact, b2.n AS ball2_exact
  FROM (SELECT node, count(*) AS n FROM ball1 GROUP BY node) b1
  JOIN (SELECT node, count(*) AS n FROM ball2 GROUP BY node) b2 ON b1.node = b2.node),
mh AS (
  SELECT node, {_duck_minhash_base('CAST(member AS VARCHAR)')} AS h FROM ball2),
hregs AS (
  SELECT node, h % 16 AS bucket,
    max(CASE WHEN h // 16 = 0 THEN 29 ELSE 28 - length(bin(h // 16)) + 1 END) AS r
  FROM mh GROUP BY node, bucket),
summ AS (
  SELECT node, count(*)::BIGINT AS used_regs, (16 - count(*))::BIGINT AS zero_regs,
         sum(r)::BIGINT AS sum_rho,
         (sum(1::BIGINT << (29 - r)) + (16 - count(*)) * (1::BIGINT << 29))::BIGINT AS harmonic_scaled
  FROM hregs GROUP BY node)
SELECT CAST(b.node AS BIGINT) AS doc_id, ball1_exact::BIGINT AS ball1_exact,
       ball2_exact::BIGINT AS ball2_exact,
       (2 * (ball1_exact - 1) + (ball2_exact - ball1_exact))::BIGINT AS harmonic_x2,
       16::BIGINT AS m, used_regs, zero_regs, sum_rho, harmonic_scaled
FROM bsz b JOIN summ s ON s.node = b.node
"""
    )


def dedup_triangles_sql() -> str:
    # orientation-free: canonical sorted triangles (x<y<z) over the
    # jaccard-verified pair graph, each crediting its three vertices
    threshold = 0.9
    return (
        _lsh_pairs_ctes()
        + ","
        + _JAC_TAIL
        + f"""
tedges AS (
  SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
  FROM jac WHERE jaccard >= {threshold} AND doc_a <> doc_b),
tnodes AS (SELECT a AS node FROM tedges UNION SELECT b FROM tedges),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM tedges e1
  JOIN tedges e2 ON e2.a = e1.b
  JOIN tedges e3 ON e3.a = e1.a AND e3.b = e2.b),
tverts AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri)
SELECT CAST(n.node AS BIGINT) AS doc_id, CAST(count(v.node) AS BIGINT) AS n_triangles
FROM tnodes n LEFT JOIN tverts v ON v.node = n.node
GROUP BY n.node
"""
    )


def dedup_containment(spark, sf_dir):
    # directional containment over the LSH candidate pairs — catches the
    # short-doc-quoted-in-long-doc duplication Jaccard misses
    docs = _t(spark, sf_dir, "documents")
    return ngram_containment(docs, minhash_lsh_candidates(docs))


DEDUP_CONTAINMENT_SQL = _lsh_pairs_ctes() + """,
counts AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS i
  FROM pairs p JOIN words a ON a.doc_id = p.doc_a JOIN words b ON b.doc_id = p.doc_b AND a.w = b.w
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b,
       round(CAST(coalesce(i.i, 0) AS DOUBLE) / greatest(ca.n, 1), 4) AS containment_a,
       round(CAST(coalesce(i.i, 0) AS DOUBLE) / greatest(cb.n, 1), 4) AS containment_b
FROM pairs p
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN counts ca ON ca.doc_id = p.doc_a
JOIN counts cb ON cb.doc_id = p.doc_b
"""


def dedup_repeated_spans(spark, sf_dir):
    # longest exactly-repeated token span per LSH candidate pair — the
    # relational core of exact-substring dedup (Lee et al.); planted rows
    # pin every branch: a 40-token passage shared at different offsets
    # (span found) and an ultra-repetitive pair whose grams all exceed
    # max_gram_freq (candidate pair, no row)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    passage = " ".join(f"p{i}" for i in range(40))
    ha = " ".join(["ha"] * 120)
    planted = spark.createDataFrame(
        [
            (7_000_001, passage + " za zb zc"),
            (7_000_002, "qa qb " + passage + " zq"),
            (7_000_003, ha),
            (7_000_004, ha),
        ],
        "doc_id long, text string",
    )
    corpus = docs.union(planted)
    return repeated_spans(corpus, minhash_lsh_candidates(corpus))


DEDUP_SPANS_SQL = (
    _lsh_pairs_ctes(
        source="spancorp",
        prelude=r"""passage AS (SELECT string_agg('p' || i, ' ' ORDER BY i) AS p FROM generate_series(0, 39) t(i)),
spancorp AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT 7000001, p || ' za zb zc' FROM passage
  UNION ALL SELECT 7000002, 'qa qb ' || p || ' zq' FROM passage
  UNION ALL SELECT 7000003, (SELECT string_agg('ha', ' ') FROM generate_series(1, 120))
  UNION ALL SELECT 7000004, (SELECT string_agg('ha', ' ') FROM generate_series(1, 120))
),
""",
    )
    + r""",
tokd AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM spancorp WHERE text IS NOT NULL
),
gpos AS (
  SELECT doc_id, t, unnest(generate_series(1, CAST(len(t) - 4 AS BIGINT))) AS i
  FROM tokd WHERE len(t) >= 5
),
grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, array_to_string(t[CAST(i AS BIGINT):CAST(i + 4 AS BIGINT)], ' ') AS gram
  FROM gpos
  QUALIFY count(*) OVER (PARTITION BY doc_id, array_to_string(t[CAST(i AS BIGINT):CAST(i + 4 AS BIGINT)], ' ')) <= 16
),
m AS (
  SELECT p.doc_a, p.doc_b, a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
  FROM pairs p
  JOIN grams a ON a.doc_id = p.doc_a
  JOIN grams b ON b.doc_id = p.doc_b AND b.gram = a.gram
),
runs AS (
  SELECT doc_a, doc_b, diag, pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS isl,
         pos_a, pos_b
  FROM m
),
spans AS (
  SELECT doc_a, doc_b, CAST(count(*) + 4 AS BIGINT) AS span_tokens,
         CAST(min(pos_a) AS BIGINT) AS start_a, CAST(min(pos_b) AS BIGINT) AS start_b
  FROM runs GROUP BY doc_a, doc_b, diag, isl
)
SELECT doc_a, doc_b, span_tokens, start_a, start_b FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_a, doc_b
    ORDER BY span_tokens DESC, start_a, start_b) AS rn
  FROM spans) WHERE rn = 1
"""
)


def dedup_cut_plan(spark, sf_dir):
    # signal -> action: each candidate pair's longest shared span (>= 6
    # tokens) cut from the LATER doc, overlapping cuts merged
    # (training/dedup.py::substring_cut_plan); same planted corpus as
    # dedup_repeated_spans
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    passage = " ".join(f"p{i}" for i in range(40))
    ha = " ".join(["ha"] * 120)
    planted = spark.createDataFrame(
        [
            (7_000_001, passage + " za zb zc"),
            (7_000_002, "qa qb " + passage + " zq"),
            (7_000_003, ha),
            (7_000_004, ha),
        ],
        "doc_id long, text string",
    )
    corpus = docs.union(planted)
    return substring_cut_plan(corpus, minhash_lsh_candidates(corpus))


DEDUP_CUT_PLAN_SQL = f"""
WITH best AS (
{DEDUP_SPANS_SQL}
),
cuts AS (
  SELECT doc_b AS doc_id, start_b AS s, start_b + span_tokens - 1 AS e
  FROM best WHERE span_tokens >= 6
),
cisl AS (
  SELECT doc_id, s, e,
         CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w THEN 1 ELSE 0 END AS ni
  FROM cuts
  WINDOW w AS (PARTITION BY doc_id ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
cgrp AS (
  SELECT doc_id, s, e, sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS isl FROM cisl
)
SELECT doc_id, CAST(min(s) AS BIGINT) AS cut_start, CAST(max(e) AS BIGINT) AS cut_end,
       CAST(max(e) - min(s) + 1 AS BIGINT) AS n_toks_cut
FROM cgrp GROUP BY doc_id, isl
"""


def dedup_simhash(spark, sf_dir):
    return simhash(_t(spark, sf_dir, "documents"))


def simhash_sql() -> str:
    # portable md5-nibble simhash — mirrors training/dedup.py:simhash exactly
    votes = []
    for p in range(16):
        for k in range(4):
            d = f"(strpos('0123456789abcdef', substr(md5(w), {p + 1}, 1)) - 1)"
            votes.append(
                f"sum(CASE WHEN (({d} >> {3 - k}) & 1) = 1 THEN 1 ELSE -1 END) AS v{p}_{k}"
            )
    nibbles = []
    for p in range(16):
        val = " + ".join(f"(CASE WHEN v{p}_{k} > 0 THEN {1 << (3 - k)} ELSE 0 END)" for k in range(4))
        nibbles.append(f"substr('0123456789abcdef', ({val}) + 1, 1)")
    return (
        f"WITH {_WORDS_CTE},\n"
        f"votes AS (SELECT doc_id, {', '.join(votes)} FROM words GROUP BY doc_id)\n"
        f"SELECT doc_id, {' || '.join(nibbles)} AS simhash FROM votes"
    )


def dedup_simhash_pairs(spark, sf_dir):
    # banded simhash near-dup: candidates share one of 4 signature bands
    # (pigeonhole-complete for hamming <= 3), exact hamming verifies
    return simhash_near_dup_pairs(_t(spark, sf_dir, "documents"))


def simhash_pairs_sql() -> str:
    bands = 4
    max_hamming = 3
    width = 16 // bands
    band_eq = " OR ".join(
        f"substr(a.simhash, {1 + i * width}, {width}) = substr(b.simhash, {1 + i * width}, {width})"
        for i in range(bands)
    )
    nib = lambda s, p: f"(strpos('0123456789abcdef', substr({s}, {p}, 1)) - 1)"  # noqa: E731
    hamming = " + ".join(
        f"bit_count(xor({nib('a.simhash', p)}, {nib('b.simhash', p)}))" for p in range(1, 17)
    )
    return f"""
WITH sims AS ({simhash_sql()})
SELECT doc_a, doc_b, hamming FROM (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST({hamming} AS BIGINT) AS hamming
  FROM sims a JOIN sims b ON a.doc_id < b.doc_id AND ({band_eq})
) WHERE hamming <= {max_hamming}
"""


def dedup_ppjoin_pairs(spark, sf_dir):
    # EXACT set-similarity self-join via prefix filtering
    # (training/dedup.py::ppjoin_pairs — AllPairs/PPJoin family): every
    # pair with word-set Jaccard ≥ 0.9, 100% recall, no all-pairs scan
    # — the auditable exact counterpart of the MinHash-LSH stack. Docs
    # join only on tokens in their (df-asc, token)-ordered prefixes of
    # length |x| − ⌈τ|x|⌉ + 1, pass the cross-multiplied size filter,
    # then verify exactly. The oracle is the brute-force all-pairs
    # Jaccard — feasible at sf0.01, which is exactly why the exact
    # filter is gateable.
    return ppjoin_pairs(_t(spark, sf_dir, "documents"), tau_bp=9000)


PPJOIN_SQL = r"""
WITH dt AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            w -> w != '')) AS tok
  FROM documents),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS s FROM dt GROUP BY 1),
i AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM dt a JOIN dt b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
j AS (
  SELECT doc_a, doc_b, sa.s AS n_a, sb.s AS n_b, n_inter,
         CAST(CAST(n_inter AS HUGEINT) * 10000
              // (sa.s + sb.s - n_inter) AS BIGINT) AS jaccard_bp
  FROM i JOIN sz sa ON sa.doc_id = i.doc_a JOIN sz sb ON sb.doc_id = i.doc_b)
SELECT * FROM j WHERE jaccard_bp >= 9000
"""


def dedup_cluster_profile(spark, sf_dir):
    # The dedup REPORT a pipeline owner actually reads: the cluster-size
    # histogram of the verified near-dup components (dedup_clusters'
    # output aggregated twice) — how many singletons, how many
    # mega-clusters, how many rows keep-one-per-cluster dedup removes
    # at each size. Pure aggregates over the component table.
    c = duplicate_clusters(_t(spark, sf_dir, "documents"))
    sizes = c.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("long").alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("rows_removed_by_dedup"),
        )
    )


CLUSTER_PROFILE_TAIL = """
, sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM clusters GROUP BY 1)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * count(*) AS BIGINT) AS rows_removed_by_dedup
FROM sizes GROUP BY 1
"""


def dedup_cdc_chunks(spark, sf_dir):
    # content-defined chunking storage-dedup census (training/dedup.py::
    # cdc_chunk_census, w=6, modulus=32): boundaries follow CONTENT, so
    # an early insertion in a near-duplicate changes one chunk's
    # identity, not every downstream chunk — the LBFS/rsync property
    # fixed-size chunking lacks; savings_bp is the dedup store's
    # headline number.
    return cdc_chunk_census(_t(spark, sf_dir, "documents"), w=6, modulus=32)


def dedup_cdc_sql() -> str:
    cut_hash = _duck_minhash_base("substr(t, CAST(i - 5 AS INT), 6)")
    return f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t,
                     length(coalesce(text, '')) AS L
              FROM documents),
wins AS (SELECT doc_id, t, unnest(generate_series(6, L)) AS i
         FROM base WHERE L >= 6),
cuts AS (SELECT doc_id, CAST(i AS BIGINT) AS b FROM wins
         WHERE ({cut_hash}) % 32 = 0),
bounds AS (SELECT DISTINCT doc_id, b FROM (
  SELECT doc_id, b FROM cuts
  UNION ALL SELECT doc_id, CAST(L AS BIGINT) FROM base WHERE L >= 1)),
spans AS (SELECT doc_id,
                 coalesce(lag(b) OVER (PARTITION BY doc_id ORDER BY b) + 1, 1)
                   AS start,
                 b
          FROM bounds),
chunks AS (SELECT md5(substr(base.t, CAST(s.start AS INT),
                             CAST(s.b - s.start + 1 AS INT))) AS h,
                  CAST(s.b - s.start + 1 AS BIGINT) AS blen
           FROM spans s JOIN base ON base.doc_id = s.doc_id),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(blen) AS BIGINT) AS total_chars FROM chunks),
unq AS (SELECT CAST(count(*) AS BIGINT) AS n_unique_chunks,
               CAST(sum(l) AS BIGINT) AS unique_chars
        FROM (SELECT h, max(blen) AS l FROM chunks GROUP BY 1)),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT n_docs, n_chunks, n_unique_chunks, total_chars, unique_chars,
       CAST(CASE WHEN n_chunks > 0 THEN
         10000 * (n_chunks - n_unique_chunks) // n_chunks END AS BIGINT)
         AS dup_chunk_bp,
       CAST(CASE WHEN total_chars > 0 THEN
         10000 * (total_chars - unique_chars) // total_chars END AS BIGINT)
         AS savings_bp
FROM nd, tot, unq
"""


def dedup_threshold_sweep(spark, sf_dir):
    # dedup threshold tuning table
    # (training/dedup.py::jaccard_threshold_sweep): over the verified
    # LSH candidate pairs, pair count + candidate-share (bp) surviving
    # each Jaccard cut (per-mille; 900 = the production 0.9 cut, 1000
    # isolates the exact-dup mass). One extra aggregate over the
    # existing banded pipeline — never all-pairs; comparisons run on
    # the 4-decimal-rounded jaccard both engines share.
    return jaccard_threshold_sweep(_t(spark, sf_dir, "documents"))


THRESHOLD_SWEEP_SQL = _JACCARD_PAIRS_CTES + """,
ks(pm) AS (VALUES (500), (700), (800), (900), (950), (1000)),
tot AS (SELECT count(*) AS c FROM pairs_j)
SELECT CAST(ks.pm AS BIGINT) AS threshold_pm,
       CAST(sum(CASE WHEN p.jaccard >= ks.pm / 1000.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pairs_ge,
       CAST((10000 * sum(CASE WHEN p.jaccard >= ks.pm / 1000.0
                              THEN 1 ELSE 0 END)) // (SELECT c FROM tot)
            AS BIGINT) AS share_bp
FROM ks CROSS JOIN pairs_j p
GROUP BY ks.pm
"""


def dedup_method_agreement(spark, sf_dir):
    # classic-vs-OPH candidate agreement census
    # (training/dedup.py::candidate_agreement): pairs both methods
    # surface vs each method's exclusives, exact bp of the union — the
    # migration receipt for the ~5× cheaper OPH signature path (what
    # its densified banding gives up or gains). One full outer
    # equi-join of the two existing banded pipelines.
    return candidate_agreement(_t(spark, sf_dir, "documents"))


def dedup_method_agreement_sql() -> str:
    # composes the two EXISTING verified candidate oracles as
    # subqueries (their WITH chains stay scoped inside), so the
    # agreement oracle cannot drift from either method's own gate
    return f"""
WITH fullp AS (SELECT * FROM ({DEDUP_LSH_SQL}) f),
ophp AS (SELECT * FROM ({DEDUP_LSH_OPH_SQL}) o),
m AS (SELECT coalesce(f.doc_a, o.doc_a) AS doc_a,
             coalesce(f.doc_b, o.doc_b) AS doc_b,
             (f.doc_a IS NOT NULL) AS in_full,
             (o.doc_a IS NOT NULL) AS in_oph
      FROM fullp f FULL JOIN ophp o
        ON o.doc_a = f.doc_a AND o.doc_b = f.doc_b),
a AS (SELECT CASE WHEN in_full AND in_oph THEN 'both'
                  WHEN in_full THEN 'full_only'
                  ELSE 'oph_only' END AS status,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM m GROUP BY 1)
SELECT status, n_pairs,
       CAST((10000 * n_pairs) // (sum(n_pairs) OVER ()) AS BIGINT)
         AS share_bp
FROM a
"""


def dedup_geometry_agreement(spark, sf_dir):
    # simhash-vs-jaccard geometry agreement
    # (training/dedup.py::simhash_jaccard_agreement): the two
    # similarity GEOMETRIES (angle vs set overlap) compared on the
    # same corpus — candidate_agreement's sibling (that compared two
    # generators of the same geometry). 'both' is the consensus core
    # a conservative dedup keeps. Composes the two existing verified
    # pair oracles as scoped subqueries.
    return simhash_jaccard_agreement(_t(spark, sf_dir, "documents"))


def dedup_geometry_agreement_sql() -> str:
    return f"""
WITH sh AS (SELECT doc_a, doc_b FROM ({simhash_pairs_sql()}) s),
jc AS (SELECT doc_a, doc_b FROM ({DEDUP_JACCARD_SQL}) j
       WHERE j.jaccard >= 0.9),
m AS (SELECT coalesce(s.doc_a, c.doc_a) AS doc_a,
             coalesce(s.doc_b, c.doc_b) AS doc_b,
             (s.doc_a IS NOT NULL) AS in_sh,
             (c.doc_a IS NOT NULL) AS in_jc
      FROM sh s FULL JOIN jc c
        ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b),
a AS (SELECT CASE WHEN in_sh AND in_jc THEN 'both'
                  WHEN in_sh THEN 'simhash_only'
                  ELSE 'jaccard_only' END AS status,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM m GROUP BY 1)
SELECT status, n_pairs,
       CAST((10000 * n_pairs) // (sum(n_pairs) OVER ()) AS BIGINT)
         AS share_bp
FROM a
"""


def dedup_rep_quality(spark, sf_dir):
    # canonical-representative quality audit
    # (training/dedup.py::rep_quality): over exact-dup families ≥ 2,
    # does the kept min-doc_id copy carry the family's max RAW length
    # (families share the normalized fingerprint, so raw lengths can
    # differ by whitespace/case artifacts)? The raw corpus has no
    # exact families, so the query rides the curation-precedent
    # augmentation: byte-identical dups of every 7th doc (rep IS
    # longest) plus one planted whitespace-inflated family that
    # exercises the shortfall branch — both branches oracle-gated.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    planted = spark.createDataFrame(
        [(3_000_001, "rq alpha beta"), (3_000_002, "RQ  ALPHA  BETA")],
        "doc_id long, text string",
    )
    return rep_quality(docs.union(dups).union(planted))


REP_QUALITY_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT * FROM (VALUES
    (3000001, 'rq alpha beta'),
    (3000002, 'RQ  ALPHA  BETA')) v(doc_id, text)
),
docs AS (
  SELECT doc_id,
         sha256(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))
           AS fp,
         CAST(length(coalesce(text, '')) AS BIGINT) AS len
  FROM corpus),
fam AS (SELECT fp, count(*) AS n, min(doc_id) AS canon,
               CAST(max(len) AS BIGINT) AS max_len
        FROM docs GROUP BY 1),
rep AS (SELECT d.len, f.max_len
        FROM docs d JOIN fam f ON f.fp = d.fp AND f.n >= 2
        WHERE d.doc_id = f.canon)
SELECT CAST(count(*) AS BIGINT) AS n_families,
       CAST(sum(CASE WHEN len = max_len THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rep_is_longest,
       CASE WHEN count(*) > 0 THEN
         CAST((10000 * sum(CASE WHEN len = max_len THEN 1 ELSE 0 END))
              // count(*) AS BIGINT)
       END AS rep_longest_bp,
       CAST(coalesce(sum(max_len - len), 0) AS BIGINT) AS total_len_lost
FROM rep
"""
