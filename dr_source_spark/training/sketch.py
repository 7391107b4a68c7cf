"""Deterministic cardinality / frequency sketches, exactly oracle-checkable.

Classic sketch structures a 100 TB curation pipeline leans on — distinct
counts per slice without a count-distinct shuffle of everything, and
heavy-hitter frequency estimates in bounded memory — implemented so that
every emitted cell is an exact integer a second engine (the DuckDB
oracles in ``queries/``) reproduces bit-for-bit:

* ``kmv_distinct`` — K-minimum-values distinct estimator (Bar-Yossef et
  al.): the k-th smallest hash of a set of n uniform 32-bit hashes sits
  near ``k/n * 2^32``, so ``(k-1) * 2^32 / h_k`` (integer division)
  estimates n. The sketch is just k small integers per group — mergeable
  across partitions/days by re-taking the k smallest.
* ``hll_registers`` — HyperLogLog register table + exact-integer
  summary: bucket = low ``p`` bits, rho = leading-zero rank of the
  remaining bits; the per-group harmonic denominator is emitted as the
  EXACT scaled integer ``sum(2^(maxrho - r))`` instead of a float, so the
  oracle compares integers and a consumer applies the (float) alpha_m
  correction at read time.
* ``cms_heavy_hitters`` — count-min sketch (Cormode & Muthukrishnan):
  ``depth`` pairwise-independent rows of ``width`` counters; a token's
  estimate is the min of its counters and can only OVER-estimate. The
  query emits the exact top-k tokens with exact and CMS counts side by
  side, making the collision error directly visible.

All three ride the same 32-bit md5-prefix base hash as the minhash
family (``dedup._minhash_base`` / ``_duck_minhash_base`` in the oracles)
and pure built-in expressions — no UDFs, no floats, no nondeterminism.

The reference has no sketch surface; this extends the engine along the
training-data-pipeline axis of the brief (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dr_source_spark.training.dedup import _minhash_base, _words, minhash_family

_HASH_SPACE = 1 << 32  # the base hash is uniform on [0, 2^32)


def _distinct_group_hashes(documents: DataFrame, group_col: str) -> DataFrame:
    """(group, h): distinct 32-bit token hashes per group — the set both
    cardinality sketches operate on. Distinct-on-(group, h) gives
    map-side partial dedup before the single wide shuffle."""
    return (
        documents.select(F.col(group_col).alias("grp"), F.explode(_words()).alias("w"))
        .select("grp", _minhash_base(F.col("w")).alias("h"))
        .distinct()
    )


def kmv_distinct(documents: DataFrame, k: int = 64, group_col: str = "lang") -> DataFrame:
    """(grp, k, n_kept, kth_hash, est_distinct): K-minimum-values
    distinct-token estimate per group.

    Scale shape: a full ``row_number() OVER (PARTITION BY grp ORDER BY
    h)`` sorts every distinct hash of a group through one task — at
    billions of tokens per language that single task is the bottleneck.
    Instead the k smallest are found in two exact stages: any value among
    a group's k smallest is also among the k smallest of its hash bucket,
    so stage 1 ranks within (grp, h % nbuckets) — nbuckets parallel
    little sorts — and keeps rank <= k (<= nbuckets*k rows per group);
    stage 2 ranks those survivors per group. Both engines agree because
    the prune is lossless, and ranking on the distinct hash VALUE is
    collision-free within a group.

    Groups with fewer than k distinct hashes fall back to their exact
    count (n_kept < k => est = n_kept, kth_hash = largest kept), the
    standard small-set KMV convention."""
    return kmv_estimate(kmv_sketch(documents, k, group_col), k)


def kmv_sketch(documents: DataFrame, k: int = 64, group_col: str = "lang") -> DataFrame:
    """(grp, h): the KMV sketch payload — the k smallest distinct token
    hashes per group. This IS the mergeable state: the k smallest of a
    union are among the union of each side's k smallest, so per-day /
    per-partition sketches combine via `kmv_merge` without rescanning."""
    return _k_smallest(_distinct_group_hashes(documents, group_col), k)


def _k_smallest(hashes: DataFrame, k: int) -> DataFrame:
    """Two-stage lossless k-smallest per group (see kmv_distinct)."""
    nbuckets = 32
    w1 = Window.partitionBy("grp", F.col("h") % nbuckets).orderBy("h")
    pruned = hashes.withColumn("_r1", F.row_number().over(w1)).where(F.col("_r1") <= k)
    w2 = Window.partitionBy("grp").orderBy("h")
    return (
        pruned.withColumn("_r", F.row_number().over(w2))
        .where(F.col("_r") <= k)
        .select("grp", "h")
    )


def kmv_merge(a: DataFrame, b: DataFrame, k: int = 64) -> DataFrame:
    """Union two KMV sketches into the sketch of the combined input:
    kmv_merge(kmv_sketch(A), kmv_sketch(B)) == kmv_sketch(A ∪ B) exactly
    (pytest law in tests/test_sketch.py). Inputs are <= k rows per group,
    so the re-prune is over at most 2k rows per group."""
    return _k_smallest(a.unionByName(b).distinct(), k)


def kmv_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """Summary row per group off a (grp, h) sketch — the read-time half
    of `kmv_distinct`, reusable on merged sketches."""
    return (
        sketch.groupBy("grp")
        .agg(F.count("*").alias("n_kept"), F.max("h").alias("kth_hash"))
        .select(
            "grp",
            F.lit(k).cast("long").alias("k"),
            F.col("n_kept").cast("long"),
            "kth_hash",
            # integer division (Spark `div`, DuckDB `//`) — float division
            # could round the floor differently across engines
            F.when(F.col("n_kept") < k, F.col("n_kept"))
            .otherwise(F.expr(f"CAST({(k - 1) * _HASH_SPACE} AS BIGINT) div kth_hash"))
            .cast("long")
            .alias("est_distinct"),
        )
    )


def kmv_overlap(
    a: DataFrame, b: DataFrame, k: int = 64, group_col: str = "lang"
) -> DataFrame:
    """(grp, n_a, n_b, theta, n_common, est_intersect, est_union,
    exact_common, exact_union): theta-sketch-style set-overlap estimate
    between two corpora from their KMV sketches — "how much does corpus
    A's vocabulary overlap corpus B's" WITHOUT joining the corpora.

    Theta semantics (Dasgupta et al., the DataSketches theta sketch): a
    side's effective threshold is its k-th smallest hash when the sketch
    is full, else 2^32 (a non-full sketch IS its whole set); theta =
    min of the two. Every common hash ≤ theta is guaranteed present in
    BOTH sketches (it is among each side's k smallest), so n_common is
    an exact count over a uniform theta/2^32 sample of the true
    intersection and est_intersect = n_common * 2^32 div theta — pure
    int64 arithmetic (n_common ≤ k, no overflow), exact by construction
    when both sketches are non-full (theta = 2^32 divides out).
    est_union reads `kmv_estimate` off the merged sketch.

    The exact_{common,union} columns are the full hash-set inner
    join/union the sketch replaces — emitted beside the estimates (the
    cms/hdr pattern) so the error is oracle-visible. Scale shape: the
    sketch path touches ≤ 2k rows per group after the two `kmv_sketch`
    shuffles; at 100 TB the exact side is the one you stop running."""
    full = F.lit(_HASH_SPACE).cast("long")
    sa, sb = kmv_sketch(a, k, group_col), kmv_sketch(b, k, group_col)

    def _side(sk, n_name):
        return sk.groupBy("grp").agg(
            F.count("*").cast("long").alias(n_name), F.max("h").alias(f"_kth_{n_name}")
        )

    th = (
        _side(sa, "n_a")
        .join(_side(sb, "n_b"), "grp")
        .withColumn(
            "theta",
            F.least(
                F.when(F.col("n_a") < k, full).otherwise(F.col("_kth_n_a")),
                F.when(F.col("n_b") < k, full).otherwise(F.col("_kth_n_b")),
            ).cast("long"),
        )
        .select("grp", "n_a", "n_b", "theta")
    )
    common = (
        sa.join(sb, ["grp", "h"])
        .join(F.broadcast(th.select("grp", "theta")), "grp")
        .where(F.col("h") <= F.col("theta"))
        .groupBy("grp")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    est_union = kmv_estimate(kmv_merge(sa, sb, k), k).select(
        "grp", F.col("est_distinct").alias("est_union")
    )
    ha = _distinct_group_hashes(a, group_col)
    hb = _distinct_group_hashes(b, group_col)
    exact_common = (
        ha.join(hb, ["grp", "h"]).groupBy("grp")
        .agg(F.count("*").cast("long").alias("exact_common"))
    )
    exact_union = (
        ha.unionByName(hb).distinct().groupBy("grp")
        .agg(F.count("*").cast("long").alias("exact_union"))
    )
    return (
        th.join(common, "grp", "left")
        .na.fill({"n_common": 0})
        # integer `div` (DuckDB `//`): float division could round the
        # floor differently across engines
        .withColumn(
            "est_intersect",
            F.expr(f"CAST(n_common * {_HASH_SPACE} AS BIGINT) div theta"),
        )
        .join(est_union, "grp")
        .join(exact_common, "grp", "left")
        .na.fill({"exact_common": 0})
        .join(exact_union, "grp")
        .select(
            "grp", "n_a", "n_b", "theta", "n_common",
            "est_intersect", "est_union", "exact_common", "exact_union",
        )
    )


def hll_registers(documents: DataFrame, p: int = 6, group_col: str = "lang") -> DataFrame:
    """(grp, m, used_regs, zero_regs, sum_rho, harmonic_scaled):
    HyperLogLog register summary per group, every cell an exact integer.

    bucket = h % 2^p (low bits), rem = h >> p (the remaining 32-p bits),
    rho(rem) = (32-p) - bit_length(rem) + 1 — the 1-based position of the
    highest set bit from the top, with rho = 32-p+1 for rem = 0.
    bit_length is ``length(bin(rem))`` in both engines. Registers are
    max(rho) per bucket; absent buckets are zero registers contributing
    2^maxrho each to the scaled harmonic sum

        harmonic_scaled = sum_j 2^(maxrho - r_j)   (maxrho = 32 - p + 1)

    so the float HLL estimate alpha_m * m^2 * 2^maxrho / harmonic_scaled
    is a pure read-time computation. Bounded exactly: m * 2^maxrho =
    2^(p + 33 - p) = 2^33 — comfortably in int64.

    Scale shape: distinct + two narrow groupBys with full map-side
    combine; output is m rows per group regardless of input size."""
    return hll_summary(hll_register_table(documents, p, group_col), p)


def hll_register_table(
    documents: DataFrame, p: int = 6, group_col: str = "lang"
) -> DataFrame:
    """(grp, bucket, r): the HLL register payload — max rho per bucket.
    This IS the mergeable state (registers combine by max): per-day /
    per-partition tables combine via `hll_merge` without rescanning."""
    m = 1 << p
    maxrho = 32 - p + 1
    rem = F.floor(F.col("h") / (1 << p))
    rho = F.when(rem == 0, F.lit(maxrho)).otherwise(
        F.lit(32 - p) - F.length(F.bin(rem)) + 1
    )
    return (
        _distinct_group_hashes(documents, group_col)
        .select("grp", (F.col("h") % m).alias("bucket"), rho.alias("rho"))
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two HLL register tables into the table of the combined
    input: hll_merge(regs(A), regs(B)) == regs(A ∪ B) exactly — max is
    idempotent and associative per (grp, bucket) (pytest law)."""
    return a.unionByName(b).groupBy("grp", "bucket").agg(F.max("r").alias("r"))


def hll_summary(regs: DataFrame, p: int) -> DataFrame:
    """Summary row per group off a (grp, bucket, r) register table — the
    read-time half of `hll_registers`, reusable on merged tables."""
    m = 1 << p
    maxrho = 32 - p + 1
    return regs.groupBy("grp").agg(
        F.lit(m).cast("long").alias("m"),
        F.count("*").alias("used_regs"),
        (F.lit(m) - F.count("*")).alias("zero_regs"),
        F.sum("r").cast("long").alias("sum_rho"),
        (
            F.sum(F.pow(F.lit(2), F.lit(maxrho) - F.col("r")).cast("long"))
            + (F.lit(m) - F.count("*")) * F.lit(1 << maxrho)
        )
        .cast("long")
        .alias("harmonic_scaled"),
    )


def _cms_tokens(documents: DataFrame) -> DataFrame:
    """(word, h) token INSTANCES (multiplicity preserved — frequencies,
    not sets, so no array_distinct)."""
    raw_words = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
    return documents.select(F.explode(raw_words).alias("word")).select(
        "word", _minhash_base(F.col("word")).alias("h")
    )


def _cms_positions(depth: int, width: int):
    """array<struct<row,pos>> counter coordinates of the ``h`` column —
    row d uses the shared deterministic pairwise-independent family."""
    from dr_source_spark.training.dedup import _MINHASH_P

    return F.array(
        *[
            F.struct(
                F.lit(d).cast("int").alias("row"),
                ((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MINHASH_P) % width)
                .cast("int")
                .alias("pos"),
            )
            for d, (a, b) in enumerate(minhash_family(depth))
        ]
    )


def cms_registers(documents: DataFrame, depth: int = 4, width: int = 256) -> DataFrame:
    """(row, pos, cnt): the count-min register payload — the mergeable
    state (counters combine by addition): per-day / per-partition
    sketches combine via `cms_merge` without rescanning."""
    return (
        _cms_tokens(documents)
        .select(F.explode(_cms_positions(depth, width)).alias("rp"))
        .groupBy(F.col("rp.row").alias("row"), F.col("rp.pos").alias("pos"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Add two CMS register tables: cms_merge(regs(A), regs(B)) ==
    regs(A ++ B) exactly — counters are sums, sums are associative
    (pytest law)."""
    return (
        a.unionByName(b)
        .groupBy("row", "pos")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_heavy_hitters(
    documents: DataFrame, depth: int = 4, width: int = 256, top: int = 20
) -> DataFrame:
    """(word, exact_cnt, cms_est): the corpus's ``top`` most frequent
    tokens with their exact count and count-min-sketch estimate.

    The sketch is depth x width counters; row d maps a token to counter
    ``(a_d * h + b_d) % P % width`` using the same deterministic
    pairwise-independent family as the minhash signatures
    (``minhash_family``), and a token's estimate is the MIN of its depth
    counters — collisions only ever inflate it, so cms_est >= exact_cnt
    is an invariant (asserted in tests, visible in the query output).

    Token multiplicity matters here (frequencies, not sets), so the
    explode skips the array_distinct the dedup tokenizer applies.

    Scale shape: the register build is one groupBy over (row, pos) —
    depth*width cells regardless of corpus size, full map-side combine.
    The exact top-k is itself a big groupBy at 100 TB; that is the point
    of the query — it shows what the sketch replaces. The top-k join back
    to registers broadcasts ``top * depth`` rows."""
    toks = _cms_tokens(documents)
    positions = _cms_positions(depth, width)
    regs = cms_registers(documents, depth, width)
    exact = toks.groupBy("word", "h").agg(F.count("*").alias("exact_cnt"))
    topk = exact.orderBy(F.desc("exact_cnt"), F.asc("word")).limit(top)
    probe = topk.select(
        "word", "exact_cnt", F.explode(positions).alias("rp")
    ).select("word", "exact_cnt", F.col("rp.row").alias("row"), F.col("rp.pos").alias("pos"))
    return (
        regs.join(F.broadcast(probe), ["row", "pos"])
        .groupBy("word", "exact_cnt")
        .agg(F.min("cnt").cast("long").alias("cms_est"))
        .select("word", F.col("exact_cnt").cast("long"), "cms_est")
    )


# ---------------------------------------------------------------------------
# HDR-histogram-style quantile sketch (log-linear integer buckets)
# ---------------------------------------------------------------------------

_HDR_K = 16  # sub-buckets per octave → relative error ≤ 1/16 ≈ 6.25 %


def _hdr_bucket(vcol: str):
    """Integer log-linear bucket id of a non-negative BIGINT column
    (HdrHistogram's scheme, no floats): v = 0 → bucket -1; v ≥ 1 →
    e*K + (v - 2^e)*K div 2^e with e = bit_length(v) - 1 = the octave.
    ``length(bin(v)) - 1`` and ``shiftleft`` keep every step in exact
    int64 arithmetic, so DuckDB (`bin`, `<<`, `//`) reproduces the
    bucket id bit-for-bit — no float log2 to diverge across engines.

    For e >= 4 the sub-bucket is (v - 2^e) div 2^(e-4) — K = 16 divides
    2^e exactly, and dividing FIRST (instead of multiplying by K into a
    2^66 intermediate) keeps the whole computation inside int64 for the
    FULL non-negative int64 domain, v up to 2^63 - 1 (pytest-pinned at
    the extremes against a Python model and DuckDB)."""
    K = _HDR_K
    e = f"(length(bin({vcol})) - 1)"
    base = f"shiftleft(1L, {e})"
    return F.expr(
        f"CASE WHEN {vcol} <= 0 THEN CAST(-1 AS BIGINT) ELSE "
        f"CAST({e} * {K} AS BIGINT) + "
        f"CASE WHEN {e} >= 4 THEN ({vcol} - {base}) div shiftleft(1L, {e} - 4) "
        f"ELSE (({vcol} - {base}) * {K}) div {base} END END"
    )


def _hdr_bounds(bucket_col: str):
    """(lo, hi) exact integer value bounds of a bucket id: e = b div K,
    sub = b % K, lo = 2^e + c(sub), hi = 2^e - 1 + c(sub + 1) where
    c(s) = ceil(s * 2^e / K) — hi is lo(next bucket) - 1 with the -1
    folded INTO the sum so the topmost bucket's bound (2^(e+1) - 1,
    representable) never forms the 2^(e+1) intermediate (which overflows
    at e = 62). Bucket -1 (the zero bucket) is [0, 0].

    c(s): for e >= 4, K = 16 divides 2^e, so c(s) = s * 2^(e-4) exactly
    (no 2^66 product, full int64 domain); the e < 4 ceil-division keeps
    the bounds exact where an octave is narrower than K sub-buckets and
    only some sub ids are inhabited. Everything is integer div — no
    double arithmetic to diverge from the SQL oracle at large values."""
    K = _HDR_K
    b = F.col(bucket_col)
    e = f"CAST({bucket_col} div {K} AS INT)"
    base = f"shiftleft(1L, {e})"

    def c(s: str) -> str:
        return (
            f"CASE WHEN {e} >= 4 THEN ({s}) * shiftleft(1L, {e} - 4) "
            f"ELSE (({s}) * {base} + {K - 1}) div {K} END"
        )

    sub = f"({bucket_col} % {K})"
    lo = F.when(b < 0, F.lit(0)).otherwise(F.expr(f"{base} + {c(sub)}"))
    hi = F.when(b < 0, F.lit(0)).otherwise(F.expr(f"{base} - 1 + {c(sub + ' + 1')}"))
    return lo.cast("long"), hi.cast("long")


def hdr_sketch(values: DataFrame) -> DataFrame:
    """(grp, bucket, cnt) from a (grp, v) table — the mergeable quantile
    state: counts add (`hdr_merge`), so per-day / per-partition sketches
    combine without rescanning, and a group's payload is bounded by the
    number of inhabited buckets (≤ K * 63 + 1 for int64 values) no
    matter how many rows went in. One narrow groupBy with full map-side
    combine — at 100 TB this replaces the per-group sort an exact
    quantile needs."""
    return (
        values.select("grp", _hdr_bucket("v").alias("bucket"))
        .groupBy("grp", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def hdr_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Add two HDR sketches: hdr_merge(sk(A), sk(B)) == sk(A ++ B)
    exactly — bucket counts are sums (pytest law in tests/test_sketch.py)."""
    return (
        a.unionByName(b)
        .groupBy("grp", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def hdr_quantile_bounds(sketch: DataFrame, qs=(50, 90, 99)) -> DataFrame:
    """(grp, q, n_values, est_lo, est_hi) per requested percentile off a
    (grp, bucket, cnt) sketch: rank = ceil(q*N/100) (integer arithmetic),
    chosen bucket = the smallest bucket whose cumulative count reaches
    the rank, bounds from `_hdr_bounds`. The true rank-th value is
    GUARANTEED inside [est_lo, est_hi] (bucket membership is exact), so
    the sketch's error bound is structural, not statistical."""
    w_cum = Window.partitionBy("grp").orderBy("bucket")
    w_all = Window.partitionBy("grp")
    cum = (
        sketch.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("n_values", F.sum("cnt").over(w_all))
    )
    qd = cum.select(
        "grp", "bucket", "cum", "n_values",
        F.explode(F.array(*[F.lit(int(q)) for q in qs])).alias("q"),
    ).withColumn(
        # integer div, not double '/': at huge counts a truncated double
        # rank could pick a different bucket than the oracle's exact '//'
        "rank", F.expr("(q * n_values + 99) div 100")
    )
    picked = (
        qd.where(F.col("cum") >= F.col("rank"))
        .groupBy("grp", "q", "n_values")
        .agg(F.min("bucket").alias("bucket"))
    )
    lo, hi = _hdr_bounds("bucket")
    return picked.select(
        "grp",
        F.col("q").cast("int"),
        F.col("n_values").cast("long"),
        lo.alias("est_lo"),
        hi.alias("est_hi"),
    )


def doc_length_values(documents: DataFrame, group_col: str = "lang") -> DataFrame:
    """(grp, v): document byte lengths per group; NULL text counts as an
    empty document (v = 0) so every row is accounted for — the same
    audit invariant the curation verdicts keep."""
    return documents.select(
        F.col(group_col).alias("grp"),
        F.octet_length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("v"),
    )


def hdr_length_quantiles(documents: DataFrame, qs=(50, 90, 99)) -> DataFrame:
    """(grp, q, n_docs, est_lo, est_hi, exact_len): sketched percentile
    bounds of per-language document byte lengths NEXT TO the exact
    rank-statistic (same ceil-rank convention), making the ≤ 1/K error
    bound directly visible — like cms_heavy_hitters, the exact side is
    the expensive per-group sort the sketch replaces at 100 TB."""
    vals = doc_length_values(documents)
    bounds = hdr_quantile_bounds(hdr_sketch(vals), qs).withColumnRenamed(
        "n_values", "n_docs"
    )
    w_rn = Window.partitionBy("grp").orderBy("v")
    w_all = Window.partitionBy("grp")
    ranked = vals.withColumn("rn", F.row_number().over(w_rn)).withColumn(
        "n", F.count("*").over(w_all)
    )
    exact = (
        ranked.select(
            "grp", "v", "rn", "n",
            F.explode(F.array(*[F.lit(int(q)) for q in qs])).alias("q"),
        )
        .where(F.col("rn") == F.expr("(q * n + 99) div 100"))
        .select("grp", "q", F.col("v").alias("exact_len"))
    )
    return bounds.join(exact, ["grp", "q"]).select(
        "grp", "q", "n_docs", "est_lo", "est_hi", F.col("exact_len").cast("long")
    )


# ---------------------------------------------------------------------------
# Bloom filter (membership sketch) — the decontamination pre-filter
# ---------------------------------------------------------------------------

_BLOOM_M = 16384  # bits; size to ~4-5 bits per expected key (see stats fn)
_BLOOM_K = 3  # hash functions, from the shared deterministic family


def _bloom_positions(k: int, m: int):
    """The k bit positions of the key hash in column ``h``: hash d maps
    to (a_d*h + b_d) % P % m with the shared deterministic pairwise
    family. The SINGLE source of this arithmetic — build (`bloom_bits`)
    and probe (`bloom_decontam_stats`) both consume it, so they cannot
    drift apart and silently break the no-false-negative law."""
    from dr_source_spark.training.dedup import _MINHASH_P

    return F.array(
        *[
            ((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MINHASH_P) % m).cast("int")
            for a, b in minhash_family(k)
        ]
    )


def bloom_bits(keys: DataFrame, k: int = _BLOOM_K, m: int = _BLOOM_M) -> DataFrame:
    """(pos) — the set bit positions of a Bloom filter over a column
    ``h`` of 32-bit key hashes (positions from `_bloom_positions`).
    ≤ m rows regardless of key count — always broadcastable. Mergeable
    by union-distinct (`bloom_merge`): the OR of two filters IS the
    filter of the union."""
    return keys.select(F.explode(_bloom_positions(k, m)).alias("pos")).distinct()


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR two Bloom filters: bloom_merge(bits(A), bits(B)) ==
    bits(A ∪ B) exactly (pytest law) — bit-set union is union-distinct
    on positions."""
    return a.unionByName(b).distinct()


def _gram_stream(df: DataFrame, n: int) -> DataFrame:
    """(lang, gram) distinct word n-grams per document language — the
    key stream both decontamination sides share (text.ngram_overlap uses
    the same slice/concat shape)."""
    g = F.expr(
        f"CASE WHEN size(_toks) >= {n} THEN"
        f" transform(sequence(1, size(_toks) - {n - 1}),"
        f" i -> concat_ws(' ', slice(_toks, i, {n})))"
        f" ELSE array() END"
    )
    # drop the [''] artifact splitting a NULL/empty text produces —
    # without this, n=1 would emit an empty-string gram for token-free
    # docs (and register empty corpus/benchmark docs as mutual
    # "contamination"), diverging from text.ngram_overlap's key stream
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    return (
        df.withColumn("_toks", toks)
        .select("lang", F.explode(g).alias("gram"))
        .distinct()
    )


def bloom_decontam_stats(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    k: int = _BLOOM_K,
    m: int = _BLOOM_M,
) -> DataFrame:
    """(grp, n_grams, n_bloom_pass, n_member, n_false_pos) per corpus
    language: what a Bloom pre-filter saves the exact decontamination
    join (text.ngram_overlap). The benchmark's distinct n-grams build a
    Bloom (≤ m rows, broadcast); every corpus gram probes it (k modular
    position computations + a broadcast join — no shuffle of the gram
    stream); only Bloom-positive grams would continue to the exact join.

    Invariants the oracle checks cell-for-cell: n_member ≤ n_bloom_pass
    (a Bloom filter has NO false negatives — every true member passes),
    and n_false_pos = n_bloom_pass - n_member is the exact-join work the
    filter could not save. Sizing rule: FPR ≈ (1 - e^(-k·n_keys/m))^k —
    keep m ≥ ~5 bits per expected benchmark gram.

    Scale shape: the corpus gram stream is never shuffled — positions
    explode k-fold, hit the broadcast bit table, and collapse back in
    one map-side-combined groupBy; the per-language stats are 5 narrow
    integer columns."""
    bench_keys = (
        _gram_stream(benchmark, n)
        .select("gram")
        .distinct()
        .select("gram", _minhash_base(F.col("gram")).alias("h"))
    )
    bits = bloom_bits(bench_keys, k=k, m=m)
    probe = _gram_stream(corpus, n).select(
        "lang", "gram", _minhash_base(F.col("gram")).alias("h")
    )
    hits = (
        probe.select("lang", "gram", F.explode(_bloom_positions(k, m)).alias("pos"))
        .join(F.broadcast(bits.withColumn("_set", F.lit(1))), "pos", "left")
        .groupBy("lang", "gram")
        .agg((F.count("_set") == k).alias("bloom_pass"))
    )
    member = bench_keys.select("gram").withColumn("_member", F.lit(1))
    flagged = hits.join(F.broadcast(member), "gram", "left")
    return (
        flagged.groupBy(F.col("lang").alias("grp"))
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.col("bloom_pass").cast("long")).cast("long").alias("n_bloom_pass"),
            F.count("_member").cast("long").alias("n_member"),
            (F.sum(F.col("bloom_pass").cast("long")) - F.count("_member"))
            .cast("long")
            .alias("n_false_pos"),
        )
    )
