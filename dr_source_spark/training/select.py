"""Data-selection operators: hashed importance scoring (DSIR-style) and
domain-mixture budgeting — the two decisions a training-data pipeline
makes after cleaning: WHICH raw documents to keep, and HOW MUCH of each
domain to sample.

Both are exact-integer by construction so a DuckDB oracle reproduces
every cell: the importance weights are smoothed frequency ratios in
fixed-point (integer div), never log-space floats, and the mixture plan
is pure integer arithmetic over per-group token counts.

References (public papers, not code): Xie et al. 2023, "Data Selection
for Language Models via Importance Resampling" (DSIR) — hashed n-gram
features, importance = target/raw likelihood ratio; DoReMi (Xie et al.
2023) motivates explicit per-domain mixture weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import _minhash_base

_FP_SCALE = 65536  # fixed-point 2^16: weight = SCALE * ratio, integer


def _gram_stream(documents: DataFrame) -> DataFrame:
    """(doc_id, w): token OCCURRENCES (not distinct) — importance scoring
    weights a document by its full token mass, unlike the set-semantics
    dedup pipeline."""
    toks = F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda w: w != "")
    return documents.withColumn("_t", toks).select(
        "doc_id", F.explode("_t").alias("w")
    )


def importance_weights(
    target_docs: DataFrame, raw_docs: DataFrame, buckets: int = 256
) -> DataFrame:
    """(bucket, n_target, n_raw, weight): DSIR-style hashed-feature
    importance weights. Token occurrences hash into ``buckets`` buckets
    (the paper's hashed n-gram features — collisions are part of the
    estimator, not a bug). The weight is the add-one-smoothed TARGET/RAW
    FREQUENCY ratio in 2^16 fixed point — each side's count is
    normalized by its own corpus token mass, so the estimator is
    invariant to the (usually enormous) size imbalance between a small
    curated target set and the raw pool (DSIR's ratio is of
    probabilities, not counts — unnormalized counts would reject
    everything whenever the raw pool dwarfs the target):

        p_t = (n_target + 1) / (t_total + buckets)
        p_r = (n_raw   + 1) / (r_total + buckets)
        weight ~= FP_SCALE * p_t / p_r

    computed as staged exact-integer division (target frequency first,
    then the raw side), keeping every intermediate inside int64 for raw
    pools up to ~1.4e14 tokens (FP_SCALE * r_total must fit in int64):

        weight = ((FP_SCALE * (n_target+1)) div (t_total+buckets))
                 * (r_total+buckets) div (n_raw+1)

    Buckets the target favors relative to the raw pool score above
    FP_SCALE; buckets dominated by raw-pool mass score below. The first
    div quantizes the target frequency to 1/FP_SCALE, a <= 0.01%
    absolute granularity — negligible against the hashing noise of the
    estimator itself.

    Scale shape: two map-side-combinable counts over the gram streams,
    then a ``buckets``-row table (totals are sums OVER that tiny table,
    not extra corpus scans) — always broadcastable, built once per
    target definition and reused across every scoring batch."""
    bucket = (_minhash_base(F.col("w")) % buckets).cast("int").alias("bucket")
    tc = _gram_stream(target_docs).select(bucket).groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_target")
    )
    rc = _gram_stream(raw_docs).select(bucket).groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_raw")
    )
    tt = tc.agg(F.coalesce(F.sum("n_target"), F.lit(0)).cast("long").alias("t_total"))
    rt = rc.agg(F.coalesce(F.sum("n_raw"), F.lit(0)).cast("long").alias("r_total"))
    all_buckets = (
        target_docs.sparkSession.range(buckets)
        .select(F.col("id").cast("int").alias("bucket"))
    )
    return (
        all_buckets.join(tc, "bucket", "left")
        .join(rc, "bucket", "left")
        .na.fill({"n_target": 0, "n_raw": 0})
        .join(F.broadcast(tt))
        .join(F.broadcast(rt))
        .withColumn(
            "weight",
            F.expr(
                f"((CAST({_FP_SCALE} AS BIGINT) * (n_target + 1))"
                f" div (t_total + {buckets}))"
                f" * (r_total + {buckets}) div (n_raw + 1)"
            ),
        )
        .select("bucket", "n_target", "n_raw", "weight")
    )


def importance_select(target_docs: DataFrame, raw_docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, score, avg_weight, verdict): score every RAW
    document by the mean importance weight of its token occurrences and
    select the ones that look more target-like than raw-like.

    avg_weight = sum(weight over gram occurrences) div n_grams — in the
    same 2^16 fixed point as the weights, so the default threshold
    (FP_SCALE, i.e. ratio 1.0) selects documents whose hashed token
    distribution tilts toward the target corpus. Token-free raw docs
    (NULL/empty text) still get a verdict row: n_grams = 0, NULL score
    columns, 'rejected' (no evidence is not target evidence).

    Scale shape: the ``buckets``-row weight table broadcasts onto the
    raw gram stream (map-side join, no corpus shuffle), then ONE per-doc
    aggregate. At 100 TB the weights are built once from a small curated
    target set and every ingest batch scores against the broadcast."""
    buckets = 256
    threshold = _FP_SCALE
    w = importance_weights(target_docs, raw_docs, buckets).select("bucket", "weight")
    grams = _gram_stream(raw_docs).select(
        "doc_id", (_minhash_base(F.col("w")) % buckets).cast("int").alias("bucket")
    )
    scored = (
        grams.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("weight").cast("long").alias("score"),
        )
        .withColumn("avg_weight", F.expr("score div n_grams"))
    )
    return (
        raw_docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .na.fill({"n_grams": 0})
        .withColumn(
            "verdict",
            F.when(F.col("avg_weight") >= threshold, F.lit("selected")).otherwise(
                F.lit("rejected")
            ),
        )
    )


def mix_plan(documents: DataFrame, token_budget: int) -> DataFrame:
    """(grp, n_docs, n_tokens, quota, rate_ppm, epochs): per-domain
    sampling plan for an equal-share token mixture — the DoReMi-shaped
    decision ("how much of each domain goes into the run") reduced to
    its deterministic budgeting arithmetic.

    The ``token_budget`` splits equally across the observed groups
    (quota = budget div n_groups). A group with more tokens than its
    quota downsamples at rate_ppm = 1e6 * quota div n_tokens parts per
    million; a smaller group repeats: epochs = ceil(quota / n_tokens)
    with rate_ppm pinned to 1e6. Pure integers end to end.

    Scale shape: one groupBy over (group, token count) — the token count
    itself is a map-side-combinable size() aggregate; the group list is
    tiny. NULL-text docs count 0 tokens but still count as docs."""
    toks = F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda w: w != "")
    per_grp = (
        documents.select(F.col("lang").alias("grp"), F.size(toks).alias("_n"))
        .withColumn("_n", F.greatest(F.col("_n"), F.lit(0)))  # size(NULL) = -1
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_n").cast("long").alias("n_tokens"),
        )
    )
    n_groups = per_grp.agg(F.count("*").cast("long").alias("_g"))
    return (
        per_grp.join(F.broadcast(n_groups))
        .withColumn("quota", F.expr(f"CAST({token_budget} AS BIGINT) div _g"))
        .withColumn(
            "rate_ppm",
            F.when(F.col("n_tokens") <= 0, F.lit(0).cast("long")).otherwise(
                F.least(
                    F.lit(1000000).cast("long"),
                    F.expr("CAST(1000000 * quota AS BIGINT) div n_tokens"),
                )
            ),
        )
        .withColumn(
            "epochs",
            F.when(F.col("n_tokens") <= 0, F.lit(0).cast("long")).otherwise(
                F.greatest(
                    F.lit(1).cast("long"),
                    F.expr("CAST(quota + n_tokens - 1 AS BIGINT) div n_tokens"),
                )
            ),
        )
        .select("grp", "n_docs", "n_tokens", "quota", "rate_ppm", "epochs")
    )


def weighted_bernoulli_sample(
    documents: DataFrame,
    weight_col: str = "n_chars",
    target: int = 500,
) -> DataFrame:
    """Deterministic weight-proportional Bernoulli sample: include each
    doc with probability weight_i · target / Σweight (so the EXPECTED
    sample size is ``target`` and big documents are proportionally more
    likely — the size-biased sample you want when auditing by bytes,
    not by row). The coin is the salted md5 of the doc id mapped to a
    32-bit integer u, and the inclusion test is pure integer
    arithmetic: u · Σw < 2³² · w_i · target, carried in decimal(38,0)
    so the product cannot overflow at any corpus size. Same doc id +
    salt ⇒ same coin on every engine, every retry, every backfill —
    the md5-threshold discipline of the stratified sampler, extended
    with a per-row weight.

    One global 1-row aggregate (map-side combinable) broadcast back
    over the table; no shuffle of the wide text column — the filter
    runs on (doc_id, weight) and the text rides along in the same
    scan. Docs with weight ≥ Σw/target are included with probability
    1 (the standard Bernoulli-sampling saturation).
    """
    tot = documents.agg(
        F.sum(F.col(weight_col)).cast("decimal(38,0)").alias("_tot")
    )
    u = _minhash_base(
        F.concat(F.lit("wbs1" + ":"), F.col("doc_id").cast("string"))
    )
    return (
        documents.crossJoin(F.broadcast(tot))
        .withColumn("_u", u.cast("decimal(38,0)"))
        .filter(
            F.col("_u") * F.col("_tot")
            < F.lit(4294967296).cast("decimal(38,0)")
            * F.col(weight_col).cast("decimal(38,0)")
            * F.lit(target).cast("decimal(38,0)")
        )
        .select(
            "doc_id",
            "lang",
            F.col(weight_col).cast("long").alias("weight"),
            F.col("_u").cast("long").alias("u32"),
        )
    )
