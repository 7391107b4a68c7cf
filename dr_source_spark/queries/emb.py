"""Embedding and approximate-nearest-neighbour queries."""

from __future__ import annotations

from ..training.similarity import (
    brute_force_topk,
    centroid_drift,
    class_separation,
    dim_variance_ranking,
    dimension_stats,
    embedding_duplicate_clusters,
    embedding_near_duplicates,
    ivf_topk,
    kmeans_assign,
    lsh_bucket_balance,
    lsh_bucketed_topk,
    nn_margin_stats,
    norm_extremes,
    pca_explained_ratio,
    pca_top_component,
    pq_assign,
    quantization_stats,
    quantize_saturation,
    quantized_topk,
    rademacher_planes,
    recall_audit,
    silhouette_lite,
)
from ._common import _t


def ann_lsh_topk(spark, sf_dir):
    # multi-table sign-LSH with portable md5-derived ±1 planes — the oracle
    # embeds the identical literal planes and reproduces buckets exactly
    return lsh_bucketed_topk(_t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=3)


def _lsh_sig_union_sql(
    num_tables: int = 16, planes_per_table: int = 4, seed: int = 42, dim: int = 64
) -> str:
    """The multitable sign-LSH signature stream as a SQL union over an `e`
    CTE (vec_id, v DOUBLE[]) — the identical literal planes the engine's
    multitable_signatures derives; shared by the ANN top-k oracle and the
    bucket-balance audit so the two inspect the SAME buckets."""

    tables = []
    for t in range(num_tables):
        bits = []
        for plane in rademacher_planes(planes_per_table, dim, seed * 10_000 + t):
            lit = "[" + ", ".join(str(x) for x in plane) + "]"
            bits.append(f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN '1' ELSE '0' END)")
        tables.append(f"SELECT vec_id, {t} AS tbl, {' || '.join(bits)} AS bucket FROM e")
    return "\nUNION ALL\n".join(tables)


def ann_lsh_sql() -> str:
    k = 3  # lsh_bucketed_topk default
    sig_union = _lsh_sig_union_sql()
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS ({sig_union}),
q AS (SELECT vec_id AS q_id, tbl, bucket FROM sig WHERE vec_id IN (0,1,2,3,4)),
pairs AS (
  SELECT DISTINCT q.q_id, s.vec_id AS n_id
  FROM sig s JOIN q ON s.tbl = q.tbl AND s.bucket = q.bucket AND s.vec_id <> q.q_id
),
scored AS (
  SELECT p.q_id, p.n_id,
         round(list_dot_product(qe.v, ne.v)
               / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ne.v, ne.v))), 6) AS sim
  FROM pairs p JOIN e qe ON qe.vec_id = p.q_id JOIN e ne ON ne.vec_id = p.n_id
)
SELECT q_id, n_id, rank::INTEGER AS rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank FROM scored
) WHERE rank <= {k}
"""


def ann_ivf_topk(spark, sf_dir):
    # IVF coarse-quantizer ANN: deterministic data-derived centroids (first
    # n_cells vectors by id), nprobe=2 of 8 cells — the oracle selects the
    # same centroids from the same table and reproduces cells exactly
    return ivf_topk(_t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=3)


ANN_IVF_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 8),
scored AS (
  SELECT e.vec_id, e.v, c.cell_id,
         round(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS csim
  FROM e CROSS JOIN c
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell_id ASC) AS crank
  FROM scored
), cells AS (SELECT vec_id, v, cell_id FROM ranked WHERE crank = 1),
probes AS (SELECT vec_id AS q_id, v AS q_vec, cell_id FROM ranked
           WHERE crank <= 2 AND vec_id IN (0, 1, 2, 3, 4)),
sims AS (
  SELECT DISTINCT p.q_id, ce.vec_id AS n_id,
         round(list_dot_product(p.q_vec, ce.v)
               / (sqrt(list_dot_product(p.q_vec, p.q_vec)) * sqrt(list_dot_product(ce.v, ce.v))), 6) AS sim
  FROM probes p JOIN cells ce USING (cell_id) WHERE ce.vec_id <> p.q_id
)
SELECT q_id, n_id, rank::INTEGER AS rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank FROM sims
) WHERE rank <= 3
"""


def emb_quantize(spark, sf_dir):
    # symmetric int8 quantization error profile (4x memory ANN path)
    return quantization_stats(_t(spark, sf_dir, "embeddings"))


EMB_QUANTIZE_SQL = r"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
s AS (SELECT vec_id, vec, list_max(list_transform(vec, x -> abs(x))) AS am FROM v),
s2 AS (SELECT vec_id, vec, CASE WHEN am = 0 THEN 1.0 ELSE am / 127.0 END AS scale FROM s),
q AS (SELECT vec_id, vec, scale, list_transform(vec, x -> round(x / scale)) AS qv FROM s2),
e AS (SELECT vec_id, scale, len(vec) AS n_dims,
             list_transform(range(1, len(vec) + 1), i -> abs(vec[i] - qv[i] * scale)) AS errs
      FROM q)
SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims, round(scale, 9) AS scale,
       round(list_max(errs), 9) AS max_abs_err,
       round(list_sum(list_transform(errs, x -> x * x)) / n_dims, 9) AS mse
FROM e
"""


def emb_kmeans(spark, sf_dir):
    # exact-integer Lloyd k-means (2 passes, deterministic seed = 8
    # smallest ids): centroids carried as (Σq, n) exact pairs so the
    # assignment argmin is engine-reproducible (similarity.kmeans_assign)
    return kmeans_assign(_t(spark, sf_dir, "embeddings"))


EMB_KMEANS_SQL = r"""
WITH q AS MATERIALIZED (
  SELECT vec_id, i AS dim, CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS qi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
seeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
  FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)
),
c0 AS MATERIALIZED (
  SELECT s.cluster, q.dim, sum(q.qi) AS s, count(*) AS n
  FROM seeds s JOIN q ON q.vec_id = s.vec_id GROUP BY s.cluster, q.dim
),
d1 AS (
  SELECT q.vec_id, c.cluster,
         sum((c.n * q.qi - c.s) * (c.n * q.qi - c.s)) AS num,
         max(c.n) AS n
  FROM q JOIN c0 c ON c.dim = q.dim
  GROUP BY q.vec_id, c.cluster
),
a1 AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY CAST(num AS DOUBLE) / CAST(n * n AS DOUBLE), cluster) AS rn
    FROM d1) WHERE rn = 1
),
c1 AS MATERIALIZED (
  SELECT a.cluster, q.dim, sum(q.qi) AS s, count(*) AS n
  FROM a1 a JOIN q ON q.vec_id = a.vec_id GROUP BY a.cluster, q.dim
),
d2 AS (
  SELECT q.vec_id, c.cluster,
         sum((c.n * q.qi - c.s) * (c.n * q.qi - c.s)) AS num,
         max(c.n) AS n
  FROM q JOIN c1 c ON c.dim = q.dim
  GROUP BY q.vec_id, c.cluster
)
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
       round(CAST(num AS DOUBLE) / CAST(n * n AS DOUBLE) / 100000000.0, 6) AS dist2
FROM (
  SELECT vec_id, cluster, num, n,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY CAST(num AS DOUBLE) / CAST(n * n AS DOUBLE), cluster) AS rn
  FROM d2) WHERE rn = 1
"""


def ann_quantized_topk(spark, sf_dir):
    # two-stage ANN's candidate pass: int8-quantized dot products rank
    # neighbors with EXACT integer arithmetic (training/similarity.py)
    return quantized_topk(_t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=3)


ANN_QUANTIZED_SQL = r"""
WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rvec FROM embeddings),
q AS (SELECT vec_id,
             list_transform(rvec, x -> round(127.0 * x / greatest(sqrt(list_dot_product(rvec, rvec)), 1e-12))) AS qv
      FROM v0),
probes AS (SELECT vec_id AS q_id, qv AS q_qv FROM q WHERE vec_id IN (0, 1, 2, 3, 4)),
sims AS (
  SELECT p.q_id, b.vec_id AS n_id,
         CAST(list_dot_product(b.qv, p.q_qv) AS BIGINT) AS qdot
  FROM q b CROSS JOIN probes p WHERE b.vec_id <> p.q_id
),
ranked AS (
  SELECT q_id, n_id, qdot,
         row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, n_id ASC) AS rank
  FROM sims
)
SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, qdot FROM ranked WHERE rank <= 3
"""


def emb_near_dup(spark, sf_dir):
    # embedding-cosine near-dup pairs via single-table sign-LSH bucketing
    # (portable md5-derived planes → the oracle reproduces the buckets)
    return embedding_near_duplicates(_t(spark, sf_dir, "embeddings"), threshold=0.3)


def emb_near_dup_sql() -> str:
    num_planes, seed, dim, threshold = 12, 42, 64, 0.3  # embedding_near_duplicates defaults + driver threshold
    bits = []
    for plane in rademacher_planes(num_planes, dim, seed):
        lit = "[" + ", ".join(str(x) for x in plane) + "]"
        bits.append(f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN '1' ELSE '0' END)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (SELECT vec_id, v, {' || '.join(bits)} AS bucket FROM e)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold}
"""


def emb_dim_stats(spark, sf_dir):
    # per-dimension embedding-health stats over the int8 quantization —
    # dead/saturated-dimension and variance-collapse screens
    # (training/similarity.py::dimension_stats)
    return dimension_stats(_t(spark, sf_dir, "embeddings"))


EMB_DIM_STATS_SQL = """
WITH q AS (
  SELECT vec_id,
         CASE WHEN m = 0.0 THEN 1.0 ELSE m / 127.0 END AS scale, v
  FROM (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS m
    FROM embeddings)
),
e AS (
  SELECT u.i - 1 AS dim, CAST(round(v[u.i] / scale, 0) AS INT) AS qv
  FROM q, unnest(generate_series(1, CAST(len(v) AS BIGINT))) u(i)
)
SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
       CAST(min(qv) AS BIGINT) AS min_q, CAST(max(qv) AS BIGINT) AS max_q,
       CAST(sum(qv) AS BIGINT) AS sum_q, CAST(sum(qv * qv) AS BIGINT) AS sum_sq
FROM e GROUP BY dim
"""


def emb_dup_clusters(spark, sf_dir):
    # semantic-dedup decisions: connected components over the verified
    # cosine near-dup pairs, every vec_id labeled with its component min
    # (training/similarity.py::embedding_duplicate_clusters)
    return embedding_duplicate_clusters(_t(spark, sf_dir, "embeddings"), threshold=0.3)


def emb_dup_clusters_sql() -> str:
    # recursive min-label reachability over the SAME pair SQL as
    # emb_near_dup_pairs (threshold classifies on the rounded sim)
    pairs = emb_near_dup_sql().strip()
    return f"""WITH RECURSIVE pairs AS ({pairs}),
cedges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
walk(node, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN cedges e ON e.src = w.node
)
SELECT CAST(node AS BIGINT) AS vec_id, CAST(min(lbl) AS BIGINT) AS cluster_id
FROM walk GROUP BY node"""


def ann_cosine_topk(spark, sf_dir):
    return brute_force_topk(_t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=3)


ANN_SQL = """
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
scored AS (
  SELECT q.q_id, e.vec_id AS n_id,
         round(list_dot_product(q.q_vec, e.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id
)
SELECT q_id, n_id, rank::INTEGER AS rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank FROM scored
) WHERE rank <= 3
"""


def emb_pq_assign(spark, sf_dir):
    # Product-quantization codes (training/similarity.py::pq_assign):
    # each embedding split into 4 contiguous subspaces, every subvector
    # replaced by its nearest deterministic codebook entry (the 4
    # smallest-id vectors' slices) — the PQ compression an ANN index
    # stores, with distances compared as exact quantized integers.
    return pq_assign(_t(spark, sf_dir, "embeddings"))


PQ_ASSIGN_SQL = """
WITH q AS MATERIALIZED (
  SELECT vec_id, i - 1 AS dim0, len(embedding) AS dlen,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS qi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
q2 AS (SELECT vec_id, dim0, ((dim0 * 4) // dlen) AS sub, qi FROM q),
seeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
cb AS (SELECT s.code, q2.sub, q2.dim0, q2.qi AS ci
       FROM seeds s JOIN q2 ON q2.vec_id = s.vec_id),
d AS (SELECT q2.vec_id, q2.sub, cb.code,
             sum((q2.qi - cb.ci) * (q2.qi - cb.ci)) AS d2
      FROM q2 JOIN cb ON cb.sub = q2.sub AND cb.dim0 = q2.dim0
      GROUP BY 1, 2, 3)
SELECT vec_id, CAST(sub AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code,
       CAST(d2 AS BIGINT) AS dist2_q
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                   ORDER BY d2, code) AS rn FROM d)
WHERE rn = 1
"""


def emb_class_separation(spark, sf_dir):
    # Pairwise squared distances between class centroids in exact
    # quantized units (training/similarity.py::class_separation):
    # centroid = Σ floor(e·10⁴) div n per (label, dim) with sign
    # factored out of the truncated mean, then Σ_dim (c_a − c_b)² on
    # the tiny centroid grid — the label-separation diagnostic before
    # anyone trains a probe.
    return class_separation(_t(spark, sf_dir, "embeddings"))


CLASS_SEP_SQL = """
WITH q AS (
  SELECT label AS lbl, i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS HUGEINT) AS qi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
cent AS (
  SELECT lbl, dim, CAST(count(*) AS HUGEINT) AS n,
         (CASE WHEN sum(qi) < 0 THEN -1 ELSE 1 END)
           * (abs(sum(qi)) // CAST(count(*) AS HUGEINT)) AS c
  FROM q GROUP BY 1, 2)
SELECT a.lbl AS label_a, b.lbl AS label_b,
       CAST(max(a.n) AS BIGINT) AS n_a, CAST(max(b.n) AS BIGINT) AS n_b,
       CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS dist2_q
FROM cent a JOIN cent b ON a.dim = b.dim AND a.lbl < b.lbl
GROUP BY 1, 2
"""


def emb_silhouette(spark, sf_dir):
    # Simplified (centroid-based, O(n·k)) silhouette per label
    # (training/similarity.py::silhouette_lite) on squared quantized
    # distances: s = (b − a)·10⁴ div max(a, b) with a = own-centroid
    # d², b = nearest-other-centroid d² — the clustering-quality
    # counterpart of emb_class_separation, sharing its truncated-mean
    # centroid definition. n_negative counts vectors another label
    # claims.
    return silhouette_lite(_t(spark, sf_dir, "embeddings"))


SILHOUETTE_SQL = """
WITH q AS MATERIALIZED (
  SELECT vec_id, label AS own, i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS HUGEINT) AS qi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
cent AS MATERIALIZED (
  SELECT own AS clbl, dim,
         (CASE WHEN sum(qi) < 0 THEN -1 ELSE 1 END)
           * (abs(sum(qi)) // CAST(count(*) AS HUGEINT)) AS c
  FROM q GROUP BY 1, 2),
d2 AS (
  SELECT q.vec_id, q.own, cent.clbl,
         sum((q.qi - cent.c) * (q.qi - cent.c)) AS dd
  FROM q JOIN cent ON cent.dim = q.dim
  GROUP BY 1, 2, 3),
pv AS (
  SELECT vec_id, own,
         max(CASE WHEN clbl = own THEN dd END) AS a,
         min(CASE WHEN clbl != own THEN dd END) AS b
  FROM d2 GROUP BY 1, 2),
s AS (
  SELECT own, CASE WHEN greatest(a, b) > 0 THEN
           (CASE WHEN b - a < 0 THEN -1 ELSE 1 END)
             * (abs(b - a) * 10000 // greatest(a, b))
         ELSE 0 END AS sil
  FROM pv WHERE b IS NOT NULL)
SELECT own AS label, CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
       CAST((CASE WHEN sum(sil) < 0 THEN -1 ELSE 1 END)
            * (abs(sum(sil)) // count(*)) AS BIGINT) AS mean_sil_bp
FROM s GROUP BY 1
"""


def emb_nn_margin(spark, sf_dir):
    # Per-anchor 1-NN margin audit / hard-negative miner (training/
    # similarity.py::nn_margin_stats): nearest same-label neighbor
    # (positive), nearest different-label neighbor (the triplet-mining
    # hard negative), exact integer margin of the rounded sims, and the
    # 1-NN correctness flag — embedding quality as a queryable table.
    return nn_margin_stats(_t(spark, sf_dir, "embeddings"))


EMB_NN_MARGIN_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
scored AS (
  SELECT a.vec_id AS a_id, a.label AS a_lbl, b.vec_id AS b_id,
         b.label AS b_lbl,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) IS NOT NULL),
pos AS (
  SELECT a_id, b_id AS pos_id, sim AS sim_pos FROM (
    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS r
    FROM scored WHERE a_lbl = b_lbl) WHERE r = 1),
neg AS (
  SELECT a_id, b_id AS neg_id, sim AS sim_neg FROM (
    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS r
    FROM scored WHERE a_lbl <> b_lbl) WHERE r = 1)
SELECT e.vec_id, e.label, pos_id, sim_pos, neg_id, sim_neg,
       CAST(round(sim_pos * 1e6) - round(sim_neg * 1e6) AS BIGINT) AS margin_e6,
       CASE WHEN sim_pos IS NULL OR sim_neg IS NULL THEN false
            ELSE sim_pos > sim_neg END AS correct_1nn
FROM e
LEFT JOIN pos ON e.vec_id = pos.a_id
LEFT JOIN neg ON e.vec_id = neg.a_id
"""


def ann_recall_audit(spark, sf_dir):
    # in-engine recall@k SLO (training/similarity.py::recall_audit): the
    # LSH top-k against the exact brute-force top-k per query —
    # hits·10⁴ div k in exact bp; the pytest recall gate promoted to a
    # continuously-checkable report (run after any plane/seed change).
    emb = _t(spark, sf_dir, "embeddings")
    truth = brute_force_topk(emb, query_ids=[0, 1, 2, 3, 4], k=3)
    cand = lsh_bucketed_topk(emb, query_ids=[0, 1, 2, 3, 4], k=3)
    return recall_audit(cand, truth, k=3)


def ann_recall_sql() -> str:
    return f"""
WITH bf AS (SELECT q_id, n_id FROM ({ANN_SQL})),
cand AS (SELECT q_id, n_id FROM ({ann_lsh_sql()})),
hits AS (SELECT bf.q_id, CAST(count(*) AS BIGINT) AS n_hits
         FROM bf JOIN cand ON cand.q_id = bf.q_id AND cand.n_id = bf.n_id
         GROUP BY 1)
SELECT qq.q_id, CAST(3 AS BIGINT) AS k,
       coalesce(h.n_hits, 0) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 10000 // 3 AS BIGINT) AS recall_bp
FROM (SELECT DISTINCT q_id FROM bf) qq LEFT JOIN hits h ON h.q_id = qq.q_id
"""


def emb_centroid_drift(spark, sf_dir):
    # per-dimension embedding drift monitor over int8 index space
    # (training/similarity.py::centroid_drift): cohorts by vec_id
    # parity (the deterministic stand-in for before/after ingest
    # batches), means in exact 1e6 fixed point, truncation toward zero
    # (oracle sign-factors DuckDB's flooring //). The feature-store
    # health check that catches an encoder change before the ANN index
    # silently degrades.
    return centroid_drift(_t(spark, sf_dir, "embeddings"))


_EMB_Q_CTES = """
q AS (
  SELECT vec_id,
         CASE WHEN m = 0.0 THEN 1.0 ELSE m / 127.0 END AS scale, v
  FROM (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)),
                          'max') AS m
    FROM embeddings)),
e AS (
  SELECT vec_id, u.i - 1 AS dim,
         CAST(round(v[u.i] / scale, 0) AS BIGINT) AS qv
  FROM q, unnest(generate_series(1, CAST(len(v) AS BIGINT))) u(i))
"""


CENTROID_DRIFT_SQL = f"""
WITH {_EMB_Q_CTES},
a AS (
  SELECT dim,
         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b,
         CAST(coalesce(sum(CASE WHEN vec_id % 2 = 0 THEN qv END), 0)
              AS BIGINT) AS s_a,
         CAST(coalesce(sum(CASE WHEN vec_id % 2 = 1 THEN qv END), 0)
              AS BIGINT) AS s_b
  FROM e GROUP BY 1),
m AS (
  SELECT CAST(dim AS BIGINT) AS dim, n_a, n_b,
         CASE WHEN s_a < 0 THEN -((-s_a * 1000000) // n_a)
              ELSE (s_a * 1000000) // n_a END AS mean_a_fp,
         CASE WHEN s_b < 0 THEN -((-s_b * 1000000) // n_b)
              ELSE (s_b * 1000000) // n_b END AS mean_b_fp
  FROM a)
SELECT dim, n_a, n_b, CAST(mean_a_fp AS BIGINT) AS mean_a_fp,
       CAST(mean_b_fp AS BIGINT) AS mean_b_fp,
       CAST(abs(mean_a_fp - mean_b_fp) AS BIGINT) AS drift_fp
FROM m
"""


def emb_pca_top(spark, sf_dir):
    # exact fixed-point POWER ITERATION for the top principal direction
    # of the quantized embedding cloud
    # (training/similarity.py::pca_top_component): integer scatter
    # matrix S = n·Σqqᵀ − (Σq)(Σq)ᵀ (the cov_pairs construction,
    # matrix-valued), 8 multiply-truncate-normalize rounds, sign pinned
    # positive on the first nonzero component. The dominant-variance
    # monitor an embedding pipeline tracks across encoder versions;
    # iteration state is dim²-bounded (bisect-quantile argument);
    # cell-exact vs an independent pure-Python reference in pytest and
    # vs the fully unrolled DuckDB oracle here.
    return pca_top_component(_t(spark, sf_dir, "embeddings"))


def _emb_pca_chain(iterations: int = 8, xnorm: int = 10**5) -> str:
    parts = [
        f"WITH {_EMB_Q_CTES},",
        "nn AS (SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n FROM e),",
        "sd AS (SELECT dim, CAST(sum(qv) AS HUGEINT) AS s FROM e GROUP BY 1),",
        "pp AS (SELECT a.dim AS i, b.dim AS j,"
        " CAST(sum(a.qv * b.qv) AS HUGEINT) AS sqq"
        " FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),",
        "S AS MATERIALIZED (SELECT i, j, nn.n * sqq - sa.s * sb.s AS sv"
        " FROM pp CROSS JOIN nn"
        " JOIN sd sa ON sa.dim = pp.i JOIN sd sb ON sb.dim = pp.j),",
        "x0 AS (SELECT dim, CAST(1 AS HUGEINT) AS x FROM sd),",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"y{k} AS MATERIALIZED (SELECT S.i AS dim, sum(S.sv * p.x) AS y"
            f" FROM S JOIN x{k - 1} p ON p.dim = S.j GROUP BY 1),\n"
            f"g{k} AS MATERIALIZED (SELECT greatest(max(abs(y)) // {int(xnorm)},"
            f" CAST(1 AS HUGEINT)) AS g FROM y{k}),\n"
            f"x{k} AS MATERIALIZED (SELECT dim, CASE WHEN y < 0 THEN -((-y) // g{k}.g)"
            f" ELSE y // g{k}.g END AS x FROM y{k} CROSS JOIN g{k}),"
        )
    return "\n".join(parts).rstrip(",")


def emb_pca_sql(iterations: int = 8, xnorm: int = 10**5) -> str:
    body = _emb_pca_chain(iterations, xnorm)
    last = f"x{iterations}"
    return f"""{body},
fl AS (SELECT coalesce((SELECT CASE WHEN x < 0 THEN -1 ELSE 1 END
                        FROM {last} WHERE x <> 0
                        ORDER BY dim LIMIT 1), 1) AS f)
SELECT CAST({last}.dim AS BIGINT) AS dim,
       CAST({last}.x * fl.f AS BIGINT) AS component_fp
FROM {last} CROSS JOIN fl
"""


def emb_pca_explained_sql(iterations: int = 8, xnorm: int = 10**5) -> str:
    # same unrolled chain, finished with the Rayleigh-quotient scalars;
    # the big receipts travel as digit strings (HUGEINT would degrade
    # to float64 through pandas)
    body = _emb_pca_chain(iterations, xnorm)
    last = f"x{iterations}"
    return f"""{body},
tr AS (SELECT sum(sv) AS trace FROM S WHERE i = j),
xsx AS (SELECT sum(S.sv * xa.x * xb.x) AS v
        FROM S JOIN {last} xa ON xa.dim = S.i
        JOIN {last} xb ON xb.dim = S.j),
xx AS (SELECT sum(x * x) AS v FROM {last})
SELECT CAST((SELECT count(*) FROM {last}) AS BIGINT) AS n_dims,
       CAST(tr.trace AS VARCHAR) AS trace,
       CAST(xsx.v AS VARCHAR) AS rayleigh_num,
       CAST(xx.v AS VARCHAR) AS xx,
       CASE WHEN xx.v > 0 AND tr.trace > 0 THEN
         CAST(CASE WHEN xsx.v < 0
                   THEN -((-(10000 * xsx.v)) // (xx.v * tr.trace))
                   ELSE (10000 * xsx.v) // (xx.v * tr.trace) END AS BIGINT)
       END AS explained_bp
FROM tr CROSS JOIN xsx CROSS JOIN xx
"""


def emb_pca_explained(spark, sf_dir):
    # variance-explained share of the top principal direction
    # (training/similarity.py::pca_explained_ratio): exact Rayleigh
    # quotient of the power-iteration vector over the integer scatter
    # matrix as a share of its trace — the embedding-collapse alarm
    # (one direction swallowing the variance = encoder failure). Big
    # scalars (~10²³) travel as digit strings; ratio in truncated bp.
    return pca_explained_ratio(_t(spark, sf_dir, "embeddings"))


def emb_norm_extremes(spark, sf_dir):
    # dead / exploding embedding screen
    # (training/similarity.py::norm_extremes): k smallest + k largest
    # vectors by exact fixed-point squared L2 norm (Σ round(x·10⁶)²,
    # DECIMAL(38,0) carry) — near-zero = collapsed encoder output,
    # runaway = dot-product retrieval distortion. Fixed GLOBAL scale
    # (unlike the per-vector int8 index quantization) so magnitudes
    # compare across vectors; two TakeOrdered cuts, never a global
    # sort.
    return norm_extremes(_t(spark, sf_dir, "embeddings"))


NORM_EXTREMES_SQL = """
WITH f AS (
  SELECT vec_id, CAST(round(v[u.i] * 1000000, 0) AS BIGINT) AS q
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       unnest(generate_series(1, CAST(len(v) AS BIGINT))) u(i)),
per AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
               CAST(sum(CAST(q AS HUGEINT) * q) AS BIGINT) AS normsq
        FROM f GROUP BY 1),
low AS (SELECT vec_id, n_dims, normsq, 'low' AS side
        FROM per ORDER BY normsq, vec_id LIMIT 50),
high AS (SELECT vec_id, n_dims, normsq, 'high' AS side
         FROM per ORDER BY normsq DESC, vec_id LIMIT 50)
SELECT * FROM low UNION ALL SELECT * FROM high
"""


def emb_bucket_balance(spark, sf_dir):
    # ANN load-balance audit over the production sign-LSH index
    # (training/similarity.py::lsh_bucket_balance): bucket-size
    # histogram across all 16 hash tables with exact bp posting mass —
    # a mega-bucket is the ANN latency killer (its candidate equi-join
    # degenerates toward cross-join for queries landing there) and the
    # signal to raise planes_per_table. Same md5-derived planes as
    # ann_lsh_topk, so the audit inspects exactly the index it ships.
    return lsh_bucket_balance(_t(spark, sf_dir, "embeddings"))


def emb_bucket_balance_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS ({_lsh_sig_union_sql()}),
sizes AS (SELECT tbl, bucket, CAST(count(*) AS BIGINT) AS bucket_size
          FROM sig GROUP BY 1, 2),
h AS (SELECT bucket_size, CAST(count(*) AS BIGINT) AS n_buckets
      FROM sizes GROUP BY 1)
SELECT bucket_size, n_buckets,
       CAST((10000 * bucket_size * n_buckets)
            // (sum(bucket_size * n_buckets) OVER ()) AS BIGINT) AS mass_bp
FROM h
"""


def emb_dim_variance(spark, sf_dir):
    # per-dimension variance ranking over the quantized stream
    # (training/similarity.py::dim_variance_ranking): the DIAGONAL of
    # the exact integer scatter matrix the PCA monitors consume
    # (n·Σq² − (Σq)², int64), ranked — dead dimensions (near-zero)
    # are prune candidates; the cheap per-dim complement of
    # emb_pca_top's rotated direction.
    return dim_variance_ranking(_t(spark, sf_dir, "embeddings"))


def emb_dim_variance_sql() -> str:
    return f"""
WITH {_EMB_Q_CTES},
nn AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM e),
per AS (SELECT dim, CAST(sum(qv) AS BIGINT) AS s,
               CAST(sum(qv * qv) AS BIGINT) AS sq
        FROM e GROUP BY 1)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(nn.n * sq - s * s AS BIGINT) AS var_n2,
       CAST(row_number() OVER (ORDER BY (nn.n * sq - s * s) DESC, dim)
            AS BIGINT) AS rank
FROM per CROSS JOIN nn
"""


def emb_saturation(spark, sf_dir):
    # int8 saturation census per dimension
    # (training/similarity.py::quantize_saturation): which dims hit
    # the ±127 rail — the per-vector max-abs quantization saturates
    # exactly the peak-carrying entries, so high-saturation dims are
    # the ones DOMINATING vectors. The clipping-audit companion to
    # emb_quantize_stats and emb_dim_variance, on the shared _qrows
    # stream.
    return quantize_saturation(_t(spark, sf_dir, "embeddings"))


def emb_saturation_sql() -> str:
    return f"""
WITH {_EMB_Q_CTES},
per AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_values,
               CAST(sum(CASE WHEN abs(qv) >= 127 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_saturated
        FROM e GROUP BY 1)
SELECT CAST(dim AS BIGINT) AS dim, n_values, n_saturated,
       CAST((10000 * n_saturated) // n_values AS BIGINT) AS sat_bp
FROM per
"""
