"""Record-level entity resolution / linking: blocking → pairwise
verification → transitive merge over an arbitrary (mention_id, text)
mention table.

This generalizes the engine's two existing linking surfaces — finding
canonicalization (operators/canonicalize.py, exact composite keys) and
document near-dup clustering (training/dedup.py, word-token sets) — to
DIRTY RECORD STRINGS, the classic entity-linking shape: one real-world
entity appears under typo'd / truncated / reformatted variants and every
variant must receive one canonical id. The reference has no record-ER
surface (its linking is the finding-level dedup this repo's
canonicalize.py reimplements, dr_source/core/scanner.py); this extends
the engine along the KG-construction axis of the brief.

Stages, each its own composable function:

1. ``mention_grams`` — normalized (lower, alnum-only) character-trigram
   sets, hashed with the dedup stack's shared 32-bit base hash so the
   DuckDB oracles reuse ``_duck_minhash_base``.
2. ``er_blocking_keys`` — per mention, the ``b`` smallest hashes of its
   NON-STOP trigrams (min-wise LSH on the trigram set). Stop-grams —
   trigrams whose document frequency exceeds ``df_cap_pct`` percent of
   mentions — are excluded from BLOCKING (they stay in scoring): a
   shared prefix like ``Customer#00000`` would otherwise put one
   globally-minimal trigram hash into every mention's key set and
   funnel the whole table into a single bucket. This is the ER analogue
   of removing 'smith' from a name-blocking key, made deterministic
   (document frequency is data-derived, no stopword list).
3. ``er_candidate_pairs`` — equi-join within blocking buckets; viral
   buckets are capped COUNT-FIRST with non-silent ``observe`` drop
   metrics (the LSH-cap pattern from training/dedup.py — the count
   pre-pass bounds the per-group id array BEFORE it is built).
4. ``er_verified_pairs`` — exact integer trigram-Jaccard
   ``100*|∩| div |∪|`` over the FULL gram sets (stop-grams included —
   they discriminate fine at scoring time, only blocking degenerates)
   at ``min_pct``.
5. ``er_entities`` — connected components over the verified pairs
   (operators/graph.alternating_star_components), ``entity_id`` = the
   component's minimum mention_id; unmatched mentions keep their own id
   so the output covers every input mention.

Scale shape: no all-pairs join anywhere — pairs exist only inside
blocking buckets, bucket size is hard-capped, the verify join is
pair × gram equi-joins on narrow keys, and the component step is the
same O(log n)-round star machinery every other clustering surface uses.
All arithmetic is integer (hash, df threshold, Jaccard pct), so the
driver query's DuckDB oracle reproduces every cell.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dr_source_spark.training.dedup import _minhash_base

_ER_OBS_SEQ = itertools.count()


def normalize_mention(col: Column) -> Column:
    """Lowercase, alnum-only view of a mention string — the
    normalization both the gram extraction and the SQL oracle apply."""
    return F.regexp_replace(F.lower(col), "[^a-z0-9]", "")


def mention_grams(
    mentions: DataFrame, id_col: str = "mention_id", text_col: str = "name"
) -> DataFrame:
    """(mention_id, h): the DISTINCT hashed character trigrams of each
    normalized mention. Mentions shorter than one trigram after
    normalization vanish here and resurface in ``er_entities`` as
    singletons (nothing to block or score on)."""
    norm = normalize_mention(F.col(text_col))
    return (
        mentions.select(F.col(id_col).alias("mention_id"), norm.alias("_t"))
        .where(F.length("_t") >= 3)
        .select(
            "mention_id",
            F.explode(
                F.expr("transform(sequence(1, length(_t) - 2), i -> substring(_t, i, 3))")
            ).alias("_g"),
        )
        .select("mention_id", _minhash_base(F.col("_g")).alias("h"))
        .distinct()
    )


def er_blocking_keys(
    grams: DataFrame, b: int = 4, df_cap_pct: int = 5
) -> DataFrame:
    """(mention_id, h): each mention's ``b`` smallest non-stop trigram
    hashes — its blocking-bucket memberships.

    The document-frequency screen and the mention total are both
    aggregates in-plan (broadcast 1-row total, narrow groupBy(h) for
    df) — no driver action, no sampling. ``df * 100 <= cap * n`` keeps
    the comparison integer-exact in both engines."""
    df_per_gram = grams.groupBy("h").agg(F.count("*").alias("_df"))
    total = grams.agg(F.countDistinct("mention_id").alias("_nm"))
    rare = (
        grams.join(df_per_gram, "h")
        .crossJoin(F.broadcast(total))
        .where(F.col("_df") * 100 <= F.lit(df_cap_pct) * F.col("_nm"))
        .select("mention_id", "h")
    )
    w = Window.partitionBy("mention_id").orderBy("h")
    return (
        rare.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= b)
        .select("mention_id", "h")
    )


def er_candidate_pairs(
    grams: DataFrame, b: int = 4, df_cap_pct: int = 5, max_bucket: int = 64
) -> DataFrame:
    """(ia, ib) with ia < ib: distinct candidate mention pairs sharing a
    blocking bucket. Buckets larger than ``max_bucket`` are dropped
    COUNT-FIRST (before any id array exists) with observe metrics
    ``er_cap_drops_*``: n_oversized_buckets / n_keys_in_oversized — the
    non-silent cap contract every other LSH surface here honors."""
    keys = er_blocking_keys(grams, b, df_cap_pct)
    counts = keys.groupBy("h").agg(F.count("*").alias("_n"))
    oversized = F.col("_n") > max_bucket
    counts = counts.observe(
        f"er_cap_drops_{next(_ER_OBS_SEQ)}",
        F.sum(F.when(oversized, 1).otherwise(0)).alias("n_oversized_buckets"),
        F.sum(F.when(oversized, F.col("_n")).otherwise(0)).alias("n_keys_in_oversized"),
    )
    keys = keys.join(counts.filter(~oversized).select("h"), "h")
    groups = keys.groupBy("h").agg(
        F.sort_array(F.collect_list("mention_id")).alias("_ids"),
        F.count("*").alias("_n"),
    )
    return (
        groups.filter(F.col("_n") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(_ids, (x, i) -> "
                    "transform(slice(_ids, i + 2, size(_ids)), y -> "
                    "struct(x AS ia, y AS ib))))"
                )
            ).alias("p")
        )
        .select("p.ia", "p.ib")
        .distinct()
    )


def er_verified_pairs(
    grams: DataFrame, pairs: DataFrame, min_pct: int = 60
) -> DataFrame:
    """(ia, ib, n_common, n_union, jaccard_pct) for candidate pairs whose
    exact integer trigram-Jaccard percentage clears ``min_pct``. Scoring
    uses the FULL gram sets — the stop-gram screen only applies to
    blocking, where high-frequency grams destroy bucket selectivity; at
    scoring time they contribute valid overlap evidence like any other
    gram."""
    # every join side here scales with the corpus (gram table, per-
    # mention sizes) — broadcast is never the intended strategy, but
    # Catalyst's size estimate undershoots at mid scale and the
    # resulting broadcast build OOM'd the driver at the 450 k-mention
    # census (round 6: "Not enough memory to build and broadcast the
    # table", reproduced twice). SHUFFLE_HASH pins the scale-correct
    # strategy; locally it is a hash join either way.
    sizes = grams.groupBy("mention_id").agg(F.count("*").alias("_sz")).hint("shuffle_hash")
    ga = grams.select(F.col("mention_id").alias("ia"), "h").hint("shuffle_hash")
    gb = grams.select(F.col("mention_id").alias("ib"), "h").hint("shuffle_hash")
    inter = (
        pairs.join(ga, "ia")
        .join(gb, ["ib", "h"])
        .groupBy("ia", "ib")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("mention_id", "ia").withColumnRenamed("_sz", "_sa"), "ia")
        .join(sizes.withColumnRenamed("mention_id", "ib").withColumnRenamed("_sz", "_sb"), "ib")
        .select(
            "ia",
            "ib",
            "n_common",
            (F.col("_sa") + F.col("_sb") - F.col("n_common")).cast("long").alias("n_union"),
        )
        .withColumn("jaccard_pct", F.expr("(n_common * 100) div n_union").cast("long"))
        .where(F.col("jaccard_pct") >= min_pct)
    )


def er_entities(
    mentions: DataFrame,
    b: int = 4,
    df_cap_pct: int = 5,
    max_bucket: int = 64,
    min_pct: int = 60,
) -> DataFrame:
    """(mention_id, entity_id): every input mention labeled with its
    canonical entity — the component minimum over the verified-match
    graph; mentions with no verified match (including too-short-to-gram
    mentions) keep their own id."""
    max_rounds = 50
    from dr_source_spark.operators.graph import _label_components

    grams = mention_grams(mentions, "mention_id", "name")
    pairs = er_candidate_pairs(grams, b, df_cap_pct, max_bucket)
    verified = er_verified_pairs(grams, pairs, min_pct)
    return _label_components(
        mentions.select(F.col("mention_id").cast("long").alias("node")),
        verified.select(F.col("ia").cast("long").alias("src"), F.col("ib").cast("long").alias("dst")),
        max_rounds=max_rounds,
    ).select(F.col("node").alias("mention_id"), F.col("component").cast("long").alias("entity_id"))


def er_blocking_quality(
    mentions: DataFrame,
    truth_key: Column,
    b: int = 4,
    df_cap_pct: int = 5,
    max_bucket: int = 64,
) -> DataFrame:
    """Blocking-quality report — the two numbers every record-linkage
    paper quotes, computed exactly against a ground-truth key: **pair
    completeness** (share of true same-entity pairs that survive into
    the candidate set — blocking recall; what the cap/stop-gram screens
    may have cost) and **reduction ratio** (share of the all-pairs
    comparison space the blocking eliminated — why blocking exists at
    all), plus candidate precision (share of candidates that are true
    pairs). All in truncated basis points over DECIMAL(38,0) pair
    counts (n(n−1)/2 at 10¹² mentions overflows int64; decimal38
    doesn't).

    ``truth_key`` maps a mention row to its true entity (for a planted
    benchmark, e.g. mention_id div 4). Scale shape: true-pair counts
    come from a groupBy(truth_key) on the mention table (c·(c−1)/2 per
    entity — never materializing truth pairs); matched counts label the
    candidate pairs via two slim equi-joins on the (mention_id, key)
    projection; the three 1-row aggregates cross-join at the end.
    """
    cand = er_candidate_pairs(
        mention_grams(mentions), b=b, df_cap_pct=df_cap_pct, max_bucket=max_bucket
    )
    return blocking_quality_report(mentions, truth_key, cand)


def blocking_quality_report(
    mentions: DataFrame, truth_key: Column, cand: DataFrame
) -> DataFrame:
    """The metric core of ``er_blocking_quality``, factored out so EVERY
    blocking strategy (token/stop-gram, sorted-neighborhood, ...) reports
    the same exact-bp completeness / precision / reduction numbers over
    the same planted truth — head-to-head comparable by construction.
    ``cand`` is any (ia, ib) candidate-pair table."""
    keyed = mentions.select(
        F.col("mention_id"), truth_key.cast("long").alias("_tk")
    )
    d38 = "decimal(38,0)"
    truth = keyed.groupBy("_tk").agg(
        F.count(F.lit(1)).cast(d38).alias("_c")
    ).agg(
        F.sum("_c").alias("_nm"),
        F.sum(F.expr(f"(_c * (_c - 1)) div 2")).alias("_truth"),
    )
    ka = keyed.select(F.col("mention_id").alias("ia"), F.col("_tk").alias("_ta"))
    kb = keyed.select(F.col("mention_id").alias("ib"), F.col("_tk").alias("_tb"))
    cstats = (
        cand.join(ka, "ia").join(kb, "ib")
        .agg(
            F.count(F.lit(1)).cast(d38).alias("_ncand"),
            F.sum((F.col("_ta") == F.col("_tb")).cast("long")).cast(d38).alias("_matched"),
        )
    )
    return (
        truth.crossJoin(cstats)
        .select(
            F.col("_nm").cast("long").alias("n_mentions"),
            F.col("_truth").cast("long").alias("n_truth_pairs"),
            F.col("_ncand").cast("long").alias("n_candidate_pairs"),
            F.coalesce(F.col("_matched"), F.lit(0)).cast("long").alias("n_matched"),
            F.when(
                F.col("_truth") > 0,
                F.expr("(coalesce(_matched, 0) * 10000) div _truth").cast("long"),
            ).alias("pair_completeness_bp"),
            F.when(
                F.col("_ncand") > 0,
                F.expr("(coalesce(_matched, 0) * 10000) div _ncand").cast("long"),
            ).alias("candidate_precision_bp"),
            F.when(
                F.col("_nm") >= 2,
                F.lit(10000).cast("long")
                - F.expr(
                    "(_ncand * 10000) div ((_nm * (_nm - 1)) div 2)"
                ).cast("long"),
            ).alias("reduction_ratio_bp"),
        )
    )


def er_fs_weights(
    mentions: DataFrame,
    truth: Column,
    b: int = 4,
    df_cap_pct: int = 5,
    max_bucket: int = 64,
) -> DataFrame:
    """Fellegi-Sunter agreement weights learned from labeled candidates:
    for each comparison feature, m = P(agree | true match) and
    u = P(agree | true non-match) over the CANDIDATE pairs (the
    population a production matcher actually scores — blocking already
    removed the trivially-unlike pairs, exactly as in a real FS fit),
    plus the likelihood-ratio proxy lr_x100 = (m_bp·100) div max(u_bp,1)
    — the integer-exact form of the classic log(m/u) match weight (the
    log is read-time cosmetic, the PMI rule). Features: full-gram
    Jaccard ≥ ``jaccard_agree_pct``, equal 4-char prefix, length
    difference ≤ 1. ``truth`` is the planted entity id expression
    evaluated over ``mention_id``.

    Shape: the candidate chain is er_candidate_pairs verbatim (same
    caps, same observe metrics), one gram equi-join for the exact
    intersections, two broadcast-size joins for names/truth, a 3-way
    stack and one tiny groupBy. Nothing here is all-pairs.
    """
    jaccard_agree_pct = 70
    grams = mention_grams(mentions)
    cand = er_candidate_pairs(grams, b=b, df_cap_pct=df_cap_pct, max_bucket=max_bucket)
    # corpus-scaling join sides pinned to SHUFFLE_HASH — same driver-OOM
    # rationale as er_verified_pairs (round 6)
    sizes = grams.groupBy("mention_id").agg(F.count("*").alias("_sz")).hint("shuffle_hash")
    ga = grams.select(F.col("mention_id").alias("ia"), "h").hint("shuffle_hash")
    gb = grams.select(F.col("mention_id").alias("ib"), "h").hint("shuffle_hash")
    inter = (
        cand.join(ga, "ia")
        .join(gb, ["ib", "h"])
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("_nc"))
    )
    info = mentions.select(
        F.col("mention_id"),
        F.col("name").alias("_name"),
        truth.alias("_ent"),
    ).hint("shuffle_hash")
    ia_info = info.select(
        F.col("mention_id").alias("ia"),
        F.col("_name").alias("_na"),
        F.col("_ent").alias("_ea"),
    )
    ib_info = info.select(
        F.col("mention_id").alias("ib"),
        F.col("_name").alias("_nb"),
        F.col("_ent").alias("_eb"),
    )
    feat = (
        inter.join(
            sizes.select(F.col("mention_id").alias("ia"), F.col("_sz").alias("_sa")), "ia"
        )
        .join(
            sizes.select(F.col("mention_id").alias("ib"), F.col("_sz").alias("_sb")), "ib"
        )
        .join(ia_info, "ia")
        .join(ib_info, "ib")
        .select(
            (F.col("_ea") == F.col("_eb")).alias("is_match"),
            (
                F.expr("(_nc * 100) div (_sa + _sb - _nc)")
                >= F.lit(jaccard_agree_pct)
            ).alias(f"f_jaccard{jaccard_agree_pct}"),
            (
                F.substring("_na", 1, 4) == F.substring("_nb", 1, 4)
            ).alias("f_prefix4"),
            (
                F.abs(F.length("_na") - F.length("_nb")) <= 1
            ).alias("f_len1"),
        )
    )
    fnames = [f"f_jaccard{jaccard_agree_pct}", "f_prefix4", "f_len1"]
    stacked = feat.select(
        "is_match",
        F.expr(
            "stack({n}, {cells}) as (feature, agree)".format(
                n=len(fnames),
                cells=", ".join(f"'{f[2:]}', {f}" for f in fnames),
            )
        ),
    )
    return (
        stacked.groupBy("feature")
        .agg(
            F.sum(F.when(F.col("is_match"), 1).otherwise(0)).cast("long").alias("n_match"),
            F.sum(F.when(~F.col("is_match"), 1).otherwise(0)).cast("long").alias("n_nonmatch"),
            F.sum(F.when(F.col("is_match") & F.col("agree"), 1).otherwise(0))
            .cast("long").alias("n_agree_match"),
            F.sum(F.when(~F.col("is_match") & F.col("agree"), 1).otherwise(0))
            .cast("long").alias("n_agree_nonmatch"),
        )
        .select(
            "feature",
            "n_match",
            "n_nonmatch",
            F.expr(
                "cast(case when n_match > 0 then (10000 * n_agree_match) div n_match end as long)"
            ).alias("m_bp"),
            F.expr(
                "cast(case when n_nonmatch > 0 then (10000 * n_agree_nonmatch) div n_nonmatch end as long)"
            ).alias("u_bp"),
            F.expr(
                "cast(case when n_match > 0 and n_nonmatch > 0 then"
                " (((10000 * n_agree_match) div n_match) * 100)"
                " div greatest((10000 * n_agree_nonmatch) div n_nonmatch, 1)"
                " end as long)"
            ).alias("lr_x100"),
        )
    )


def snm_candidate_pairs(mentions: DataFrame, window: int = 4) -> DataFrame:
    """Sorted-neighborhood candidate generation — the second classic
    blocking paradigm next to the token/stop-gram blocking above: rank
    every mention by (normalized name, mention_id) and emit each pair
    within rank distance < ``window``. Catches the typo class token
    blocking structurally misses (a corrupted first trigram moves a
    mention OUT of its token buckets but barely moves it in sort order)
    and vice versa — which is why production linkage runs both and
    unions the candidates; `blocking_quality_report` makes the two
    strategies head-to-head comparable on the same planted truth.

    Scale shape: candidates are found with ONE equi-join — each rank
    lands in block rank div window, the probe side duplicates each row
    into its own and the PREVIOUS block, and the (0 < rank gap < window)
    filter runs inside the join; every qualifying pair is produced
    exactly once (same-block via the identity key, boundary-crossing via
    the previous-block key), never an all-pairs or inequality-only join.
    The global rank itself is the one ordered step: here a window over
    the narrow (name, mention_id) projection; at extreme scale assign it
    with a range-partitioned sort + per-partition offsets (the
    global_prefix_sum pattern), which preserves exactly these ranks."""
    ranked = mentions.select(
        "mention_id",
        F.row_number()
        .over(Window.orderBy(F.asc("name"), F.asc("mention_id")))
        .cast("long")
        .alias("rk"),
    )
    left = ranked.select(
        F.col("mention_id").alias("ia"),
        F.col("rk").alias("ra"),
        F.expr(f"rk div {int(window)}").alias("blk"),
    )
    right = ranked.select(
        F.col("mention_id").alias("ib"),
        F.col("rk").alias("rb"),
        F.explode(
            F.array(
                F.expr(f"rk div {int(window)}"),
                F.expr(f"rk div {int(window)} - 1"),
            )
        ).alias("blk"),
    )
    return (
        left.join(right, "blk")
        .filter(
            (F.col("rb") > F.col("ra"))
            & (F.col("rb") - F.col("ra") < int(window))
        )
        .select("ia", "ib")
    )
