"""Similarity search over an embedding column (`array<float>`).

* brute_force_topk: exact cosine top-k — broadcast the (small) query set,
  evaluate dot products JVM-side with zip_with/aggregate (no Python), window
  top-k. The correctness baseline.
* lsh_bucketed_topk: random-hyperplane LSH — each vector hashed to a bucket
  signature; candidates = bucket collisions only. The scale path: the join
  is equi on the signature, so cost is ~O(n·k/buckets) instead of O(n·q).

All float math is done in double precision with a deterministic left-to-right
sum (F.aggregate) so results are reproducible and oracle-checkable.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_D38 = "decimal(38,0)"


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_col(a, b):
    """NULL (not a crash) for zero-norm/empty/null vectors — cosine is
    undefined there, and under ANSI mode a plain division would kill the
    whole job on ONE bad vector at corpus scale. Thresholded callers drop
    the NULLs in their filters; top-k callers filter explicitly."""
    den = _norm(a) * _norm(b)
    return F.when(den > 0, _dot(a, b) / den)


def brute_force_topk(embeddings: DataFrame, query_ids: List[int], k: int = 3) -> DataFrame:
    """Exact top-k cosine neighbors for each query id. The query side is tiny
    → force a broadcast so the big side never shuffles."""
    queries = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    sc = embeddings.sparkSession.sparkContext
    # spread the big side — a single parquet split would otherwise compute
    # every dot product in one task
    cand = embeddings.repartition(sc.defaultParallelism, "vec_id").select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec")
    )
    scored = (
        cand.join(F.broadcast(queries), F.col("n_id") != F.col("q_id"))
        .withColumn("sim", F.round(cosine_col(F.col("q_vec"), F.col("n_vec")), 6))
        .filter(F.col("sim").isNotNull())  # zero-norm/empty vectors can't rank
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "sim")
    )


def rademacher_planes(num_planes: int, dim: int = 64, seed: int = 42) -> List[List[float]]:
    """Deterministic sign-random-projection hyperplanes with ±1 entries,
    derived from md5 (a portable, engine-independent source of pseudo-random
    bits): entry (j, d) is +1 iff the first md5 nibble of "seed:j:d" is even.
    Rademacher entries are a valid LSH family for cosine (Charikar sim-hash
    with sign projections), and the construction is reproducible by any
    engine with md5 — the DuckDB oracle embeds the identical literal planes."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
            for d in range(dim)
        ]
        for j in range(num_planes)
    ]


def hyperplane_signatures(
    embeddings: DataFrame,
    num_planes: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH signature over deterministic md5-derived ±1
    planes (portable: oracles reproduce the buckets bit-for-bit)."""
    sig = F.lit("")
    for p in rademacher_planes(num_planes, dim, seed):
        plane_col = F.array(*[F.lit(x) for x in p])
        bit = F.when(_dot(F.col("embedding"), plane_col) >= 0, F.lit("1")).otherwise(F.lit("0"))
        sig = F.concat(sig, bit)
    return embeddings.select(F.col("vec_id"), sig.alias("bucket"))


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 12,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: candidates are LSH
    bucket collisions only (equi-join on the signature — never all-pairs),
    then exact cosine verification ≥ threshold. Returns (id_a, id_b, sim)
    with id_a < id_b."""
    seed = 42
    sigs = hyperplane_signatures(embeddings, num_planes, seed, dim)
    emb = embeddings.join(sigs, "vec_id")
    left = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"), "bucket")
    right = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"), "bucket")
    pairs = (
        left.join(right, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(cosine_col(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
        .distinct()
    )
    return pairs


def multitable_signatures(
    embeddings: DataFrame,
    num_tables: int = 16,
    planes_per_table: int = 4,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """OR-construction LSH: L independent hash tables of b planes each →
    long-format (vec_id, tbl, bucket). A neighbor is a candidate if it
    collides in ANY table — P(candidate) = 1-(1-p^b)^L, the standard recall
    lever for sign-LSH. Emitted via a single projection + explode (one pass
    over the vectors; no per-table scans)."""
    entries = []
    for t in range(num_tables):
        sig = F.lit("")
        for p in rademacher_planes(planes_per_table, dim, seed * 10_000 + t):
            plane_col = F.array(*[F.lit(x) for x in p])
            bit = F.when(_dot(F.col("embedding"), plane_col) >= 0, F.lit("1")).otherwise(F.lit("0"))
            sig = F.concat(sig, bit)
        entries.append(F.struct(F.lit(t).alias("tbl"), sig.alias("bucket")))
    return embeddings.select(
        F.col("vec_id"), F.explode(F.array(*entries)).alias("tb")
    ).select("vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_ids: List[int],
    k: int = 3,
    planes_per_table: int = 4,
) -> DataFrame:
    """Approximate top-k: score only candidates colliding with the query in
    at least one of the L hash tables (equi-join on (tbl, bucket) — never
    all-pairs). Defaults hold recall@k ≥ 0.9 vs brute_force_topk on the
    driver embeddings (tests/test_training_ops.py gate); at larger corpus
    scale raise planes_per_table to shrink buckets and num_tables to hold
    recall. Planes are portable md5-derived ±1 vectors, so the DuckDB
    oracle reproduces the buckets exactly."""
    num_tables = 16
    seed = 42
    dim = 64
    sigs = multitable_signatures(embeddings, num_tables, planes_per_table, seed, dim)
    emb = embeddings.join(sigs, "vec_id")
    queries = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"), "tbl", "bucket"
    )
    cand = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"), "tbl", "bucket")
    scored = (
        cand.join(F.broadcast(queries), ["tbl", "bucket"])
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", F.round(cosine_col(F.col("q_vec"), F.col("n_vec")), 6).alias("sim"))
        .distinct()  # a pair colliding in several tables scores once
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "sim")
    )


def ivf_topk(embeddings: DataFrame, query_ids: List[int], k: int = 3) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer of ``n_cells`` centroids
    partitions the corpus into cells; each query probes only its ``nprobe``
    best cells and ranks exact cosine inside them — the per-query candidate
    set shrinks by ~n_cells/nprobe vs brute force and the candidate join is
    an equi-join on cell id (never all-pairs).

    The quantizer is DETERMINISTIC and data-derived: the n_cells SMALLEST
    vec_ids serve as centroids (no RNG, no iterative k-means), so any
    ANSI-SQL engine reproduces the cell assignment exactly — the oracle
    selects the same centroids from the same table. A TakeOrdered over ids
    (not ``vec_id < n_cells``) so ANY id space works — an id space not
    containing [0, n_cells) would otherwise yield an EMPTY centroid set and
    silently return zero rows (ADVICE r3). At real scale swap the centroid
    source for a trained codebook table; the plan shape (broadcast
    centroids -> argmax assign -> equi-join on cell) is unchanged."""
    n_cells = 8
    nprobe = 2
    e = embeddings.select(
        F.col("vec_id"), F.col("embedding").alias("v")
    )
    cents = (
        e.orderBy("vec_id")
        .limit(n_cells)
        .select(F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"))
    )
    sc = embeddings.sparkSession.sparkContext
    scored = (
        e.repartition(sc.defaultParallelism, "vec_id")
        .join(F.broadcast(cents))
        .select(
            "vec_id", "v", "cell_id",
            F.round(cosine_col(F.col("v"), F.col("cv")), 6).alias("csim"),
        )
    )
    wa = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cell_id"))
    ranked = scored.withColumn("crank", F.row_number().over(wa))
    cells = ranked.filter(F.col("crank") == 1).select("vec_id", "v", "cell_id")
    probes = ranked.filter(
        (F.col("crank") <= nprobe) & F.col("vec_id").isin(list(query_ids))
    ).select(F.col("vec_id").alias("q_id"), F.col("v").alias("q_vec"), "cell_id")
    sims = (
        cells.join(F.broadcast(probes), "cell_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round(cosine_col(F.col("q_vec"), F.col("v")), 6).alias("sim"),
        )
        .distinct()  # a neighbor reachable via two probed cells scores once
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "sim")
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max(|v|)/127, q_i =
    round(v_i / scale) ∈ [-127, 127]. 4× memory/shuffle reduction for ANN
    candidate generation at 100 TB — rank by quantized similarity, rescore
    survivors on the float vectors. Returns (id, scale, qvec); all
    JVM-side array ops (zero-vector guard: scale falls back to 1.0)."""
    # widen the scan first: a local embeddings table is a single parquet
    # row group, so the per-row HOF chain below (absmax fold + two
    # transforms) and every consumer's posexplode would otherwise run in
    # ONE task — the sf1 census clocked the 64-group dimension_stats at
    # 30 s single-threaded vs ~2 s wide (round 6; adaptive no-op at real
    # scale where the scan is already wide)
    from ..operators.analyze import ensure_min_parallelism

    embeddings = ensure_min_parallelism(
        embeddings.select("vec_id", "embedding"), key_cols=("vec_id",)
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    df = embeddings.select(F.col("vec_id"), v.alias("_v"))
    absmax = F.aggregate(F.col("_v"), F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    scale = F.when(absmax == 0.0, F.lit(1.0)).otherwise(absmax / F.lit(127.0))
    # evaluate the per-row scale ONCE via array_repeat and divide with
    # zip_with: a transform lambda referencing `scale` directly embeds
    # the whole absmax FOLD into every element's expression — O(d²)
    # fold-steps per row (the sf1 census clocked the downstream
    # dimension_stats at 30 s for 20 k × 64 floats; round 6). Same
    # values bit-for-bit: one fold, one division per element.
    scale_arr = F.array_repeat(scale, F.size(F.col("_v")))
    return df.select(
        "vec_id",
        scale.alias("scale"),
        F.zip_with(F.col("_v"), scale_arr, lambda x, s: F.round(x / s).cast("int")).alias("qvec"),
        F.col("_v").alias("_fvec"),
    )


def quantization_stats(embeddings: DataFrame) -> DataFrame:
    """Per-vector dequantization error profile for the int8 path: max
    absolute error and MSE vs the float vector (deterministic left-to-right
    fold, oracle-reproducible). The symmetric-scale bound max_abs_err <=
    scale/2 is asserted in tests."""
    q = quantize_embeddings(embeddings)
    # compute errs in a separate projection: aliasing round(scale) AS scale
    # in the same select would LATERALLY shadow the input column inside the
    # zip_with lambda (Spark 3.4+ lateral column aliases) and silently
    # compute errors against the rounded scale
    q = q.withColumn(
        "_errs",
        F.zip_with(
            F.col("_fvec"), F.col("qvec"), lambda x, qi: F.abs(x - qi.cast("double") * F.col("scale"))
        ),
    )
    n = F.size("_fvec")
    return q.select(
        "vec_id",
        n.cast("long").alias("n_dims"),
        F.round("scale", 9).alias("scale"),
        F.round(F.aggregate("_errs", F.lit(0.0), lambda a, x: F.greatest(a, x)), 9).alias("max_abs_err"),
        # greatest(n, 1): an empty/null vector reports n_dims=0 with
        # max_abs_err/mse of its empty fold (0.0/NULL) instead of killing
        # the job with a division by zero under ANSI mode
        F.round(
            F.aggregate("_errs", F.lit(0.0), lambda a, x: a + x * x) / F.greatest(n, F.lit(1)), 9
        ).alias("mse"),
    )


def quantized_topk(embeddings: DataFrame, query_ids, k: int = 3) -> DataFrame:
    """Top-k neighbors ranked by INT8-QUANTIZED dot product — the
    memory-bound candidate-generation pass of a two-stage ANN (rank by
    quantized similarity, rescore survivors on floats). Integer dot
    products are EXACT, so the ranking is bit-deterministic across engines
    and partition orders (float cosine needs rounding guards; int dots
    don't). Vectors are L2-NORMALIZED then quantized with a FIXED global
    scale (q_i = round(127 * v_i/||v||)): per-vector symmetric scales
    (quantize_embeddings) would divide each neighbor's dot by ITS OWN
    scale and distort cross-vector ranking, and a raw-dot ranking would
    order by norm, not angle — both measured against the cosine ground
    truth in the recall gate (tests/test_training_ops.py). Probes
    broadcast; ties break on neighbor id."""
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.round(
            F.lit(127.0) * x.cast("double") / F.greatest(_norm(F.col("embedding")), F.lit(1e-12))
        ).cast("int"),
    )
    q = embeddings.select(F.col("vec_id"), qv.alias("qvec"))
    base = q.select(F.col("vec_id").alias("n_id"), F.col("qvec"))
    probes = q.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("q_id"), F.col("qvec").alias("q_qvec")
    )
    qdot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("q_qvec"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sims = (
        base.join(F.broadcast(probes))
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", qdot.alias("qdot"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("qdot"), F.asc("n_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("long").alias("rank"), "qdot")
    )


def kmeans_assign(embeddings: DataFrame, k: int = 8, iterations: int = 2) -> DataFrame:
    """Lloyd k-means over the embedding table in EXACT integer arithmetic —
    the topic-clustering / IVF-coarse-quantizer step of a curation
    pipeline, made engine-reproducible: float centroid means are
    order-dependent (parallel summation), so instead every embedding is
    floor-quantized to integers (q_i = floor(e_i * quant)) and a centroid
    is carried as the exact pair (S_ci = Σ q_i, n_c). Squared distance to
    a centroid compares via the exact integer numerator
    Σ_dims (n_c·q_i − S_ci)² over the common denominator n_c² — the
    double division of two exact integers is IEEE-deterministic on any
    engine. Bounds: |q| ≤ quant·max|e|, n ≤ corpus size; with quant=1e4,
    |e| ≤ 1 and n ≤ 10^5 every term stays far inside int64.

    Init: clusters 0..k-1 seeded from the k smallest ids (deterministic).
    ``iterations`` assignment passes run with a centroid update between
    consecutive passes (2 = assign → update → assign). Returns one row
    per vector: (vec_id, cluster, dist2) with dist2 the squared L2
    distance to the final centroid in original embedding units, rounded
    to 6 decimals.

    Scale shape: the exploded (id, dim, q) table shuffles narrow integer
    rows; per-pass cost is one broadcast-sized centroid join (k·dims
    rows) + a map-side-combinable groupBy — no all-pairs, no
    driver-side math beyond the loop itself."""
    quant = 10**4
    q = embeddings.select(
        F.col("vec_id"),
        F.posexplode(
            F.expr(
                f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {quant}) AS BIGINT))"
            )
        ).alias("dim", "qi"),
    )
    seeds = (
        embeddings.select(F.col("vec_id"))
        .distinct()
        .orderBy("vec_id")
        .limit(k)
        .select(
            "vec_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cluster"),
        )
    )
    cent = (
        seeds.join(q, "vec_id")
        .groupBy("cluster", "dim")
        .agg(F.sum("qi").alias("s"), F.count("*").alias("n"))
    )
    assign = None
    for _ in range(max(1, iterations)):
        d = (
            q.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cluster")
            .agg(
                F.sum(
                    (F.col("n") * F.col("qi") - F.col("s"))
                    * (F.col("n") * F.col("qi") - F.col("s"))
                ).alias("num"),
                F.max("n").alias("n"),
            )
        )
        w = Window.partitionBy("vec_id").orderBy(
            (F.col("num").cast("double") / (F.col("n") * F.col("n")).cast("double")).asc(),
            F.col("cluster").asc(),
        )
        assign = d.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
        cent = (
            assign.select("vec_id", "cluster")
            .join(q, "vec_id")
            .groupBy("cluster", "dim")
            .agg(F.sum("qi").alias("s"), F.count("*").alias("n"))
        )
    return assign.select(
        "vec_id",
        F.col("cluster").cast("long").alias("cluster"),
        F.round(
            F.col("num").cast("double")
            / (F.col("n") * F.col("n")).cast("double")
            / float(quant * quant),
            6,
        ).alias("dist2"),
    )


def embedding_duplicate_clusters(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Semantic-dedup decisions: (vec_id, cluster_id) for EVERY embedding,
    cluster_id = min vec_id of its connected component in the verified
    cosine near-dup graph (singletons map to themselves) — the
    embedding-space counterpart of training/dedup.duplicate_clusters
    (keep ``vec_id == cluster_id``, drop the rest). Pairs from
    embedding_near_duplicates (LSH buckets, never all-pairs); components
    via alternating large-star/small-star."""
    max_rounds = 50
    from ..operators.graph import _label_components

    pairs = embedding_near_duplicates(embeddings, threshold=threshold)
    return _label_components(
        embeddings.select(F.col("vec_id").cast("long").alias("node")),
        pairs.select(F.col("id_a").cast("long").alias("src"), F.col("id_b").cast("long").alias("dst")),
        max_rounds=max_rounds,
    ).select(F.col("node").alias("vec_id"), F.col("component").cast("long").alias("cluster_id"))


def dimension_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension embedding-health report over the int8-quantized
    vectors: (dim, n, min_q, max_q, sum_q, sum_sq) — dead dimensions
    (all-zero), saturated dimensions (pinned at ±127) and variance
    collapse are the standard drift checks before an ANN index rebuild.
    Exact integer arithmetic end-to-end (q ∈ [-127,127] → Σq² ≤ n·2¹⁴,
    far inside int64), so any engine reproduces every cell; callers
    derive mean/variance as n·Σq² − (Σq)² without ever touching floats.

    Shape: posexplode to (dim, q) — 64 narrow integer rows per vector —
    then one map-side-combinable aggregate keyed by dim (64 groups)."""
    q = quantize_embeddings(embeddings)
    exploded = q.select(F.posexplode("qvec").alias("dim", "qv"))
    return (
        exploded.groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("qv").cast("long").alias("min_q"),
            F.max("qv").cast("long").alias("max_q"),
            F.sum("qv").cast("long").alias("sum_q"),
            F.sum(F.col("qv") * F.col("qv")).cast("long").alias("sum_sq"),
        )
        .withColumn("dim", F.col("dim").cast("long"))
    )


def pq_assign(embeddings: DataFrame, n_subspaces: int = 4, n_centroids: int = 4) -> DataFrame:
    """Product-quantization code assignment in exact integer arithmetic —
    the vector-compression step beyond int8 scalar quantization
    (emb_quantize_stats): each embedding splits into ``n_subspaces``
    contiguous dim ranges and every subvector is replaced by the id of
    its nearest codebook entry, so a D-float vector becomes
    ``n_subspaces`` small ints (the PQ code an ANN index stores).

    Codebook: entry c of a subspace is that subspace's slice of the
    vector with the c-th smallest id — a deterministic seeding (the
    same convention kmeans_assign/IVF use), so the assignment is a
    pure function of the table. Distances compare as exact integers:
    vectors floor-quantize to q_i = floor(e_i·quant) and the
    subvector distance is Σ (q_i − c_i)² over int64 (|q| ≤ quant, so
    a 4096-dim subspace stays < 2^62). Ties break to the smallest
    code. Output: one row per (vector, subspace) —
    (vec_id, subspace, code, dist2_q) with dist2_q in quantized units.

    Scale shape: one explode to narrow (id, dim, q) rows, a
    broadcast-sized codebook join (n_subspaces·n_centroids·dims/S
    rows), one groupBy argmin window. No all-pairs anywhere.
    """
    quant = 10**4
    q = embeddings.select(
        F.col("vec_id").alias("vid"),
        F.posexplode("embedding").alias("dim0", "e"),
        F.size("embedding").alias("dlen"),
    ).select(
        "vid",
        "dim0",
        F.expr(f"(dim0 * {int(n_subspaces)}) div dlen").alias("sub"),
        F.floor(F.col("e").cast("double") * quant).cast("long").alias("qi"),
    )
    seeds = (
        embeddings.select(F.col("vec_id").alias("vid"))
        .orderBy("vid")
        .limit(n_centroids)
        .select(
            "vid",
            (F.row_number().over(Window.orderBy("vid")) - 1).alias("code"),
        )
    )
    cb = q.join(F.broadcast(seeds), "vid").select(
        "code", "sub", "dim0", F.col("qi").alias("ci")
    )
    dist = (
        q.join(F.broadcast(cb), ["sub", "dim0"])
        .groupBy("vid", "sub", "code")
        .agg(F.sum((F.col("qi") - F.col("ci")) * (F.col("qi") - F.col("ci"))).alias("d2"))
    )
    w = Window.partitionBy("vid", "sub").orderBy(F.asc("d2"), F.asc("code"))
    return (
        dist.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("vid").alias("vec_id"),
            F.col("sub").cast("long").alias("subspace"),
            F.col("code").cast("long").alias("code"),
            F.col("d2").cast("long").alias("dist2_q"),
        )
    )


def _quantized_centroids(embeddings: DataFrame, quant: int) -> DataFrame:
    """(lbl, dim, n, c): per-label per-dimension truncated-mean centroid
    in floor-quantized integer units — c = Σ floor(e·quant) div n with
    the sign factored out of the truncating division. The ONE centroid
    definition class_separation and silhouette_lite share (a drift
    between them would make the two diagnostics silently inconsistent
    while both still pass their separate oracles)."""
    return (
        embeddings.select(
            F.col("label").alias("lbl"),
            F.posexplode("embedding").alias("dim", "e"),
        )
        .groupBy("lbl", "dim")
        .agg(
            F.count(F.lit(1)).cast(_D38).alias("_n"),
            F.sum(
                F.floor(F.col("e").cast("double") * quant).cast(_D38)
            ).alias("_s"),
        )
        .select(
            "lbl", "dim",
            F.col("_n").cast("long").alias("n"),
            (
                F.when(F.col("_s") < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
                * F.expr("abs(_s) div _n").cast("long")
            ).alias("c"),
        )
    )


def class_separation(embeddings: DataFrame) -> DataFrame:
    """Pairwise squared distances between class centroids in exact
    quantized integer units — the cheap embedding-space diagnostic
    ("are my labels even separated?") before anyone trains a probe.
    Per (label, dim): centroid_q = Σ floor(e·quant) div n (truncated
    mean in quantized units, DECIMAL(38,0) sums); per unordered label
    pair: dist2_q = Σ_dim (c_a − c_b)². Everything after the first
    aggregate runs on the (labels × dims) table.

    Output: (label_a, label_b, n_a, n_b, dist2_q) with label_a <
    label_b. Scale shape: one explode + groupBy(label, dim) — the only
    row-table pass — then a self-join of the tiny centroid grid on dim.
    """
    quant = 10**4
    cent = _quantized_centroids(embeddings, quant).select(
        "lbl", "dim", F.col("n").alias("_n"), F.col("c").alias("_c")
    )
    a = cent.select(
        F.col("lbl").alias("label_a"), "dim",
        F.col("_c").alias("_ca"), F.col("_n").alias("n_a"),
    )
    b = cent.select(
        F.col("lbl").alias("label_b"), "dim",
        F.col("_c").alias("_cb"), F.col("_n").alias("n_b"),
    )
    return (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.max("n_a").cast("long").alias("n_a"),
            F.max("n_b").cast("long").alias("n_b"),
            F.sum(
                (F.col("_ca") - F.col("_cb")).cast(_D38)
                * (F.col("_ca") - F.col("_cb")).cast(_D38)
            ).cast("long").alias("dist2_q"),
        )
    )


def silhouette_lite(embeddings: DataFrame) -> DataFrame:
    """Clustering-quality silhouette on SQUARED quantized distances to
    CENTROIDS (the "simplified silhouette" of the clustering
    literature — O(n·k) instead of the classic O(n²) pairwise form,
    which is the only honest variant at corpus scale): per vector,
    a = d²(x, own-label centroid), b = min over other labels of
    d²(x, centroid), s = (b − a)·10⁴ div max(a, b) — s > 0 means the
    vector sits closer to its own centroid, s < 0 means another label
    claims it. Both-zero degenerate vectors score 0. Centroids are the
    class_separation truncated means, so the two diagnostics share one
    definition. All arithmetic on floor-quantized integers; sign
    factored out of every truncating division.

    Output per label: (label, n_vectors, n_negative — misfit count,
    mean_sil_bp). Scale shape: one explode of the row table joined to
    the (labels × dims) centroid grid — per-vector work is dims·k,
    independent of n; everything after is per-(vector, label) sums and
    a groupBy(label).
    """
    quant = 10**4
    cent = _quantized_centroids(embeddings, quant).select(
        F.col("lbl").alias("clbl"), "dim", F.col("c").alias("_c")
    )
    q = embeddings.select(
        F.col("vec_id").alias("vid"),
        F.col("label").alias("own"),
        F.posexplode("embedding").alias("dim", "e"),
    ).select(
        "vid", "own", "dim",
        F.floor(F.col("e").cast("double") * quant).cast("long").alias("qi"),
    )
    d2 = (
        q.join(cent, "dim")
        .groupBy("vid", "own", "clbl")
        .agg(
            F.sum(
                (F.col("qi") - F.col("_c")).cast(_D38)
                * (F.col("qi") - F.col("_c")).cast(_D38)
            ).alias("_d2")
        )
    )
    per_vec = d2.groupBy("vid", "own").agg(
        F.max(F.when(F.col("clbl") == F.col("own"), F.col("_d2"))).alias("_a"),
        F.min(F.when(F.col("clbl") != F.col("own"), F.col("_d2"))).alias("_b"),
    ).filter(F.col("_b").isNotNull())
    sil = per_vec.withColumn(
        "_s",
        F.when(
            F.greatest("_a", "_b") > 0,
            (
                F.when(F.col("_b") - F.col("_a") < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
                * F.expr("(abs(_b - _a) * 10000) div greatest(_a, _b)").cast("long")
            ),
        ).otherwise(F.lit(0)),
    )
    agg = sil.groupBy(F.col("own").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum((F.col("_s") < 0).cast("long")).cast("long").alias("n_negative"),
        F.sum(F.col("_s").cast(_D38)).alias("_sum"),
    )
    msign = F.when(F.col("_sum") < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    return agg.select(
        "label", "n_vectors", "n_negative",
        (msign * F.expr("abs(_sum) div n_vectors").cast("long")).alias("mean_sil_bp"),
    )


def nn_margin_stats(embeddings: DataFrame) -> DataFrame:
    """Per-anchor 1-NN margin audit — the contrastive-training batch
    builder and embedding-quality probe in one pass: for every vector,
    its most-similar SAME-label neighbor (the positive), its
    most-similar DIFFERENT-label neighbor (the hard negative — exactly
    what triplet mining wants), the margin between them, and the 1-NN
    correctness flag (margin > 0 ⟺ a 1-NN classifier labels the anchor
    right; ties count incorrect — documented contract). Similarities
    are the family's round(cosine, 6) contract; margin_e6 is the exact
    integer difference of the two rounded sims.

    Scale shape: this is the BRUTE-FORCE baseline of the ann family
    (one all-pairs pass, n·(n−1) dot products spread across
    partitions; two per-anchor top-1 windows on narrow columns) —
    correct at any size, quadratic in cost; at corpus scale the
    candidate generator swaps to the IVF/LSH bucket path exactly as
    ann_cosine_topk → ann_ivf_topk does.
    """
    # Round-6 restructure, output bit-identical (oracle + row-level
    # equivalence gated):
    #   * each vector's norm is computed ONCE in its own projection and
    #     carried through the join — the composed cosine_col re-derived
    #     BOTH 64-step norm folds per PAIR, tripling the dominant
    #     interpreted-HOF cost of the n² pass (sf1 census: the query ran
    #     past 300 s; hoisting is exact — same fold over the same vector,
    #     and den = a_n * b_n is the same multiply);
    #   * per-anchor top-1 via min(struct(-sim, b_id)) — lexicographic
    #     struct order = sim DESC, b_id ASC, exactly the old row_number
    #     window's frame — which partial-aggregates map-side to one row
    #     per anchor instead of shuffling and SORTING all n² scored rows
    #     twice. Double negation is sign-exact (-0.0 round-trips), so the
    #     recovered sim is bit-identical.
    a = embeddings.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_vec"),
        F.col("label").alias("a_lbl"),
        _norm(F.col("embedding")).alias("a_n"),
    )
    sc = embeddings.sparkSession.sparkContext
    b = embeddings.repartition(sc.defaultParallelism, "vec_id").select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        F.col("label").alias("b_lbl"),
        _norm(F.col("embedding")).alias("b_n"),
    )
    den = F.col("a_n") * F.col("b_n")
    scored = (
        b.join(a, F.col("b_id") != F.col("a_id"))
        .withColumn(
            "sim",
            F.round(F.when(den > 0, _dot(F.col("a_vec"), F.col("b_vec")) / den), 6),
        )
        .filter(F.col("sim").isNotNull())
        .select("a_id", "a_lbl", "b_id", "b_lbl", "sim")
    )

    # ... and BOTH top-1s ride ONE aggregate pass via conditional mins
    # (min ignores the NULLed-out rows of the other branch) — the
    # two-branch form re-executed the n² join+scoring subplan once per
    # branch. An anchor with candidates on only one side gets a NULL
    # struct for the other, exactly the old left-join miss.
    key = F.struct((-F.col("sim")).alias("_ns"), F.col("b_id").alias("_b"))
    same = F.col("a_lbl") == F.col("b_lbl")
    best = scored.groupBy("a_id").agg(
        F.min(F.when(same, key)).alias("_tp"),
        F.min(F.when(~same, key)).alias("_tn"),
    )
    return (
        embeddings.select(F.col("vec_id").alias("a_id"), F.col("label"))
        .join(best, "a_id", "left")
        # struct-field access on a NULL struct yields NULL — identical to
        # the old per-branch left-join miss
        .select(
            "a_id",
            "label",
            F.col("_tp._b").alias("pos_id"),
            (-F.col("_tp._ns")).alias("sim_pos"),
            F.col("_tn._b").alias("neg_id"),
            (-F.col("_tn._ns")).alias("sim_neg"),
        )
        .withColumn(
            "margin_e6",
            (
                F.round(F.col("sim_pos") * 1e6) - F.round(F.col("sim_neg") * 1e6)
            ).cast("long"),
        )
        .withColumn(
            "correct_1nn",
            F.when(
                F.col("sim_pos").isNull() | F.col("sim_neg").isNull(), F.lit(False)
            ).otherwise(F.col("sim_pos") > F.col("sim_neg")),
        )
        .select(
            F.col("a_id").alias("vec_id"),
            "label", "pos_id", "sim_pos", "neg_id", "sim_neg",
            "margin_e6", "correct_1nn",
        )
    )


def recall_audit(candidates: DataFrame, truth: DataFrame, k: int) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one,
    computed IN-ENGINE: for each query id, the fraction of the true
    top-k neighbors the candidate list recovered, in exact basis points
    (``recall_bp = hits·10⁴ div k``). The pytest recall gates sample
    this offline; shipping it as a query makes the ANN quality SLO a
    first-class, continuously-checkable report ("measure, don't
    guess") — run it after any plane/seed/nlist change.

    Exact contract: both inputs are (q_id, n_id, ...) top-k tables; the
    hit count is the (q_id, n_id) equi-join cardinality. The query-id
    spine comes from the TRUTH side, so a query the candidate stage
    lost entirely reports 0, not absence.

    Scale shape: two narrow distinct-projections and one equi-join on
    (q_id, n_id) — the joined tables are k rows per query by
    construction, broadcast-sized for any realistic query batch.
    """
    t = truth.select("q_id", "n_id").distinct()
    c = candidates.select("q_id", "n_id").distinct()
    hits = (
        t.join(c, ["q_id", "n_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        t.select("q_id")
        .distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.lit(int(k)).cast("long").alias("k"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.expr(f"CAST(coalesce(n_hits, 0) * 10000 div {int(k)} AS BIGINT)").alias(
                "recall_bp"
            ),
        )
    )


def _qrows(embeddings: DataFrame) -> DataFrame:
    """(vec_id, dim, qv) — the posexploded int8 quantization stream the
    dim-stats / drift / PCA monitors share."""
    q = quantize_embeddings(embeddings)
    return q.select(
        F.col("vec_id"), F.posexplode("qvec").alias("dim", "qv")
    )


def centroid_drift(embeddings: DataFrame) -> DataFrame:
    """Per-dimension EMBEDDING DRIFT monitor over the quantized (index-
    space) representation: the corpus splits into two cohorts by
    ``id % 2`` (the deterministic stand-in for before/after batches —
    a production deployment keys on ingest batch), and each dimension
    reports both cohort means in exact 10⁶ fixed point (truncating
    division toward zero, sign factored in the SQL oracle) plus their
    absolute gap. The feature-store health check that catches an
    upstream encoder change before the ANN index silently degrades —
    int8 index space is what the index actually stores, hence what is
    monitored.

    Scale shape: one posexplode + one groupBy(dim) conditional
    aggregate — dimension-bounded output. Output: (dim, n_a, n_b,
    mean_a_fp, mean_b_fp, drift_fp).
    """
    scale = 10**6
    rows = _qrows(embeddings).select(
        "dim", "qv", (F.col("vec_id") % 2 == 0).alias("in_a")
    )
    agg = rows.groupBy("dim").agg(
        F.sum(F.col("in_a").cast("long")).cast("long").alias("n_a"),
        F.sum((~F.col("in_a")).cast("long")).cast("long").alias("n_b"),
        F.sum(F.when(F.col("in_a"), F.col("qv"))).cast("long").alias("s_a"),
        F.sum(F.when(~F.col("in_a"), F.col("qv"))).cast("long").alias("s_b"),
    )
    s = int(scale)
    return agg.select(
        F.col("dim").cast("long").alias("dim"),
        "n_a",
        "n_b",
        F.expr(f"(coalesce(s_a, 0) * {s}) div n_a").cast("long").alias(
            "mean_a_fp"
        ),
        F.expr(f"(coalesce(s_b, 0) * {s}) div n_b").cast("long").alias(
            "mean_b_fp"
        ),
        F.expr(
            f"abs((coalesce(s_a, 0) * {s}) div n_a"
            f" - (coalesce(s_b, 0) * {s}) div n_b)"
        ).cast("long").alias("drift_fp"),
    )


def pca_top_component(embeddings: DataFrame) -> DataFrame:
    """EXACT fixed-point POWER ITERATION for the top principal
    direction of the quantized embedding cloud — the dominant variance
    axis an embedding-health monitor tracks (a collapsing or rotating
    top component means the encoder changed). The scatter matrix is
    the EXACT integer S = n·Σqqᵀ − (Σq)(Σq)ᵀ (the cov_pairs
    construction, matrix-valued); ``iterations`` fixed multiply-
    normalize rounds run in pure integer arithmetic: x ← S·x, then
    x ← x div g with g = max(1, max|x| div ``xnorm``) — the truncating
    renormalization that bounds every product inside int64 (|S|·xnorm·
    dims < 2⁶³ holds up to tens of millions of vectors; beyond that
    pre-divide S by n). Sign pinned: the first nonzero component of
    the result is positive. Deterministic on every engine — the SQL
    oracle unrolls the same rounds with sign-factored division.

    Scale shape: the qq pair stream is one dim²-bounded aggregate
    (map-side combinable); the iteration runs on the dim×dim matrix —
    value-domain bounded like the bisect-quantile state — on the
    driver. Output: (dim, component_fp) — the unnormalized integer
    direction after the final round.
    """
    iterations = 8
    xnorm = 10**5
    S, dims, x = _scatter_power_iterate(embeddings, iterations, xnorm)
    flip = 1
    for d in dims:
        if x[d] != 0:
            flip = 1 if x[d] > 0 else -1
            break
    out = [(int(d), int(flip * x[d])) for d in dims]
    return embeddings.sparkSession.createDataFrame(
        out, "dim long, component_fp long"
    )


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (Spark `div` / DuckDB
    sign-factored `//` convention)."""
    return -((-a) // b) if a < 0 else a // b


def _scatter_power_iterate(embeddings: DataFrame, iterations: int, xnorm: int):
    """(S, dims, x): the exact integer scatter matrix, the dim list,
    and the power-iteration vector after ``iterations`` rounds —
    shared by pca_top_component and pca_explained_ratio."""
    rows = _qrows(embeddings)
    n = rows.select(F.col("vec_id")).distinct().count()
    pairs = (
        rows.alias("a")
        .join(rows.alias("b"), F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(
            F.col("a.dim").alias("i"), F.col("b.dim").alias("j")
        )
        .agg(
            F.sum(F.expr("a.qv * b.qv")).cast("long").alias("sqq"),
        )
    )
    sums = rows.groupBy("dim").agg(F.sum("qv").cast("long").alias("s"))
    sd = {r["dim"]: int(r["s"]) for r in sums.collect()}
    S = {}
    for r in pairs.collect():
        i, j = int(r["i"]), int(r["j"])
        S[(i, j)] = n * int(r["sqq"]) - sd.get(i, 0) * sd.get(j, 0)
    dims = sorted({i for i, _ in S} | {j for _, j in S} | set(sd))
    x = {d: 1 for d in dims}
    for _ in range(int(iterations)):
        nx = {d: 0 for d in dims}
        for (i, j), v in S.items():
            nx[i] += v * x[j]
        mx = max((abs(v) for v in nx.values()), default=0)
        g = max(1, mx // int(xnorm))
        x = {d: _tdiv(v, g) for d, v in nx.items()}
    return S, dims, x


def pca_explained_ratio(embeddings: DataFrame) -> DataFrame:
    """VARIANCE-EXPLAINED share of the top principal direction, exact:
    the Rayleigh quotient of the power-iteration vector against the
    integer scatter matrix, taken as a ratio of the matrix trace —
    explained_bp = (10⁴ · xᵀSx) div (xᵀx · trace(S)), every product
    carried in arbitrary-precision Python / HUGEINT (xᵀSx reaches
    ~10²³ at sf0.01 — far past int64, which is why this is a
    driver/oracle scalar computation over the dim²-bounded state, not
    a column expression). A collapsing embedding space (one direction
    swallowing the variance) is the classic encoder-failure signature
    this flags. Output: 1 row (n_dims, trace, rayleigh_num, xx,
    explained_bp).
    """
    iterations = 8
    xnorm = 10**5
    S, dims, x = _scatter_power_iterate(embeddings, iterations, xnorm)
    trace = sum(S.get((d, d), 0) for d in dims)
    xsx = sum(v * x[i] * x[j] for (i, j), v in S.items())
    xx = sum(v * v for v in x.values())
    explained = (
        _tdiv(10**4 * xsx, xx * trace) if xx > 0 and trace > 0 else None
    )
    # the big scalars exceed int64 (xᵀSx ~ 10²³ at sf0.01) and DuckDB
    # HUGEINTs degrade to float64 through pandas — digit STRINGS are the
    # lossless cross-engine carrier for the receipt columns
    row = [(len(dims), str(trace), str(xsx), str(xx), explained)]
    return embeddings.sparkSession.createDataFrame(
        row,
        "n_dims long, trace string, rayleigh_num string,"
        " xx string, explained_bp long",
    )


def norm_extremes(embeddings: DataFrame, k: int = 50) -> DataFrame:
    """DEAD / EXPLODING embedding screen: the k smallest and k largest
    vectors by exact fixed-point squared L2 norm — normsq =
    Σ round(x·10⁶)² per vector, integer end-to-end (≈6.4·10¹³ for a
    unit-ish 64-dim vector, far inside int64). Near-zero norms are
    collapsed/dead encoder outputs; runaway norms distort cosine-free
    dot-product retrieval — both are the first things an embedding
    health dashboard pins. Uses a FIXED global scale (not the
    per-vector max-abs of the int8 index quantization) precisely so
    magnitudes stay comparable across vectors.

    Semantics (pinned): deterministic total order (normsq, vec_id) on
    each side; ``side`` ∈ {'low','high'}; a vector may appear on both
    sides iff the table has ≤ 2k rows. Output: (vec_id, n_dims,
    normsq, side), ≤ 2k rows.

    Scale shape: one posexplode + narrow per-vector aggregate, then
    two TakeOrdered cuts (per-partition top-k, k-sized merge — no
    global sort materialized).
    """
    scale = 10**6
    per = (
        embeddings.select(
            F.col("vec_id"), F.posexplode("embedding").alias("dim", "x")
        )
        .select(
            "vec_id",
            F.round(F.col("x") * int(scale)).cast("long").alias("q"),
        )
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            # q² summed in DECIMAL(38,0): double-carried sums drift past
            # 2^53 at production dims; the final norm is re-bounded long
            F.sum(F.expr("CAST(q AS DECIMAL(38,0)) * q"))
            .cast("long")
            .alias("normsq"),
        )
    )
    low = (
        per.orderBy(F.asc("normsq"), F.asc("vec_id"))
        .limit(int(k))
        .withColumn("side", F.lit("low"))
    )
    high = (
        per.orderBy(F.desc("normsq"), F.asc("vec_id"))
        .limit(int(k))
        .withColumn("side", F.lit("high"))
    )
    return low.unionByName(high)


def lsh_bucket_balance(
    embeddings: DataFrame,
    num_tables: int = 16,
    planes_per_table: int = 4,
    dim: int = 64,
) -> DataFrame:
    """ANN LOAD-BALANCE audit over the sign-LSH index: the bucket-size
    histogram across all hash tables — how many (table, bucket) cells
    hold 1 vector, how many hold 500. A skewed histogram is the ANN
    latency killer (one mega-bucket turns the candidate equi-join
    into a near-cross-join for every query landing there) and the
    signal to raise planes_per_table; this is the same per-key-skew
    discipline the LSH band join and the salted dedup apply, measured
    on the index itself. Same portable md5-derived planes as
    lsh_bucketed_topk (multitable_signatures), so the audit inspects
    EXACTLY the production buckets.

    Output: (bucket_size, n_buckets, mass_bp) — mass = share of all
    (vector × table) postings sitting in buckets of that size, exact
    truncated bp.

    Scale shape: one groupBy over (tbl, bucket), one bounded
    histogram aggregate; the mass denominator windows over the
    histogram only.
    """
    seed = 42
    sigs = multitable_signatures(
        embeddings, num_tables, planes_per_table, seed, dim
    )
    sizes = sigs.groupBy("tbl", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("bucket_size")
    )
    hist = sizes.groupBy("bucket_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets")
    )
    return hist.select(
        "bucket_size",
        "n_buckets",
        F.expr(
            "CAST((10000 * bucket_size * n_buckets)"
            " div (sum(bucket_size * n_buckets) over ()) AS BIGINT)"
        ).alias("mass_bp"),
    )


def dim_variance_ranking(embeddings: DataFrame) -> DataFrame:
    """Per-dimension VARIANCE ranking over the quantized (int8 index-
    space) embedding stream — the diagonal of the exact integer
    scatter matrix the PCA monitors consume (var_n2 = n·Σq² − (Σq)²,
    the n²-scaled variance, exact in int64), ranked descending. The
    "which dimensions carry signal" census: near-zero entries are
    dead dimensions an index could prune; the rank order is the
    cheap per-dim complement of emb_pca_top's rotated direction.

    Output: (dim, var_n2, rank), one row per dimension,
    deterministic rank tiebreak on dim.

    Scale shape: one posexplode + one per-dim aggregate (dim
    cardinality bounded), the count broadcast via a 1-row aggregate,
    rank window over the ≤dim-row table.
    """
    q = _qrows(embeddings)
    n = q.select(F.col("vec_id")).distinct().count()
    per = q.groupBy("dim").agg(
        F.sum(F.col("qv")).cast("long").alias("s"),
        F.sum(F.expr("CAST(qv AS BIGINT) * qv")).cast("long").alias("sq"),
    )
    scored = per.select(
        F.col("dim").cast("long").alias("dim"),
        (F.lit(int(n)) * F.col("sq") - F.col("s") * F.col("s"))
        .cast("long")
        .alias("var_n2"),
    )
    return scored.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("var_n2"), F.asc("dim")))
        .cast("long"),
    )


def quantize_saturation(embeddings: DataFrame) -> DataFrame:
    """INT8 SATURATION census per dimension — which dimensions hit the
    ±127 rail: the per-vector max-abs quantization saturates exactly
    the entries carrying each vector's peak magnitude, so a dimension
    with a high saturation share is the one DOMINATING vectors (and
    the one whose values the int8 index represents most coarsely
    relative to its dynamic range). The clipping-audit companion to
    emb_quantize_stats (error moments) and emb_dim_variance (signal
    ranking).

    Output: (dim, n_values, n_saturated, sat_bp).

    Scale shape: the shared _qrows posexplode + one per-dim bounded
    aggregate.
    """
    q = _qrows(embeddings)
    per = q.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum((F.abs(F.col("qv")) >= 127).cast("long"))
        .cast("long")
        .alias("n_saturated"),
    )
    return per.select(
        F.col("dim").cast("long").alias("dim"),
        "n_values",
        "n_saturated",
        F.expr("CAST((10000 * n_saturated) div n_values AS BIGINT)").alias(
            "sat_bp"
        ),
    )
