"""Exact model-evaluation metrics over score/label columns: AUC
(tie-corrected Mann-Whitney), precision/recall threshold sweeps, and
Cohen's kappa inter-rater agreement.

A training-data pipeline grades its own heuristics constantly — "is
this quality score actually predictive?", "where should the keep
threshold sit?", "do two labeling rules agree beyond chance?" — and the
float implementations of these metrics are notoriously
non-reproducible (tie handling, rank averaging, division order). Every
metric here is exact-integer end to end (DECIMAL(38,0) sums,
basis-point results by truncating cross-multiplied division), so any
engine reproduces the numbers cell-for-cell.

The reference has no evaluation surface (its output is findings, not
scored corpora — dr_source/core/scanner.py); this extends the engine
along the pipeline-analytics axis of the brief.

Scale shape — the key trick is shared: NOTHING windows over the row
table. Each metric first collapses rows to the per-(group, score)
count table (one map-side-combinable groupBy), then ranks / cumulates
over THAT table, whose cardinality is #distinct scores — for any real
quality score, orders of magnitude below the corpus. AUC over 100 TB
is one shuffle on (group, score) plus a window over the distinct-score
table; no global row sort anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_D38 = "decimal(38,0)"


def _score_counts(
    df: DataFrame, group_col: str, score_col: "F.Column", label_col: "F.Column"
) -> DataFrame:
    """Collapse rows to (grp, score) -> (n_total, n_positive).

    NULL scores are excluded up front: a NULL cannot be ranked, and the
    two engines would otherwise disagree silently (Spark windows sort
    NULLS FIRST, DuckDB NULLS LAST), shifting every cumulative count.
    """
    return df.select(
        F.col(group_col).alias("grp"),
        score_col.cast("long").alias("_s"),
        label_col.cast("long").alias("_y"),
    ).filter(F.col("_s").isNotNull()).groupBy("grp", "_s").agg(
        F.count(F.lit(1)).cast(_D38).alias("_nt"),
        F.sum("_y").cast(_D38).alias("_np"),
    )


def auc_by_group(
    df: DataFrame, group_col: str, score_col: "F.Column", label_col: "F.Column"
) -> DataFrame:
    """Exact ROC AUC per group, ties handled by midrank (the
    Mann-Whitney U convention scikit-learn and R's pROC implement in
    floats): AUC = (Σ_positives midrank − n₁(n₁+1)/2) / (n₁·n₀).

    Integer form: rows with score s share midrank (2·below_s + n_s +
    1)/2, so 2·R₁ = Σ_s np_s·(2·below_s + nt_s + 1) is integral and
    auc_bp = 10000·(2R₁ − n₁(n₁+1)) div (2·n₁·n₀), truncated. Groups
    with no positives or no negatives emit NULL (AUC undefined).
    Perfectly anti-correlated scores give 0, random ≈ 5000, perfect
    10000.
    """
    sc = _score_counts(df, group_col, score_col, label_col)
    w = (
        Window.partitionBy("grp")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = sc.withColumn(
        "_below", F.coalesce(F.sum("_nt").over(w), F.lit(0).cast(_D38))
    )
    agg = ranked.groupBy("grp").agg(
        F.sum("_nt").alias("_n"),
        F.sum("_np").alias("_n1"),
        F.sum(
            F.col("_np") * (F.lit(2).cast(_D38) * F.col("_below") + F.col("_nt") + 1)
        ).alias("_r1x2"),
    )
    return agg.select(
        "grp",
        F.col("_n1").cast("long").alias("n_pos"),
        (F.col("_n") - F.col("_n1")).cast("long").alias("n_neg"),
        F.when(
            (F.col("_n1") > 0) & (F.col("_n") - F.col("_n1") > 0),
            F.expr(
                "((_r1x2 - _n1 * (_n1 + 1)) * 10000)"
                " div (2 * _n1 * (_n - _n1))"
            ).cast("long"),
        ).alias("auc_bp"),
    )



def _global_score_cum(
    df: DataFrame, score_col: "F.Column", label_col: "F.Column"
) -> DataFrame:
    """Ungrouped distinct-score cumulative table shared by the
    threshold-based metrics: (_s, _nt, _np, _below, _tot, _tot_pos).
    NULL scores are excluded (unrankable; engines disagree on NULL
    window order)."""
    sc = (
        df.select(score_col.cast("long").alias("_s"), label_col.cast("long").alias("_y"))
        .filter(F.col("_s").isNotNull())
        .groupBy("_s")
        .agg(
            F.count(F.lit(1)).cast(_D38).alias("_nt"),
            F.sum("_y").cast(_D38).alias("_np"),
        )
    )
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    return (
        sc.withColumn("_below", F.coalesce(F.sum("_nt").over(w), F.lit(0).cast(_D38)))
        .withColumn("_tot", F.sum("_nt").over(Window.partitionBy()))
        .withColumn("_tot_pos", F.sum("_np").over(Window.partitionBy()))
    )


def _order_stat_thresholds(cum: DataFrame, n_cuts: int) -> DataFrame:
    """(cut, _th): threshold k (1..n_cuts) = the score of ascending row
    index (k·N) div (n_cuts+1) + 1, located by cumulative counts — the
    ONE definition pr_at_thresholds and calibration_curve share (a
    drift between them would silently desynchronize the two metrics)."""
    cuts = F.sequence(F.lit(1), F.lit(int(n_cuts)))
    return (
        cum.select("_s", "_below", "_nt", "_tot", F.explode(cuts).alias("cut"))
        .filter(
            (F.expr(f"(cut * _tot) div {int(n_cuts) + 1}") + 1 > F.col("_below"))
            & (
                F.expr(f"(cut * _tot) div {int(n_cuts) + 1}") + 1
                <= F.col("_below") + F.col("_nt")
            )
        )
        .select(F.col("cut").cast("long").alias("cut"), F.col("_s").alias("_th"))
    )


def pr_at_thresholds(df: DataFrame, score_col: "F.Column", label_col: "F.Column") -> DataFrame:
    """Global precision/recall/F1 sweep at exact decile (default)
    order-statistic thresholds of the score: threshold k (k = 1..n_cuts)
    is the score of ascending row number (k·N) div (n_cuts+1), and a row
    predicts positive iff score ≥ threshold. All three metrics in
    truncated basis points; F1 avoids the P+R denominator entirely via
    F1 = 2TP / (2TP + FP + FN), which stays integral.

    Thresholds are order statistics of the SCORE-COUNT table (cumulative
    counts locate the k-th row without sorting rows); TP/FP at each cut
    come from the same cumulative table joined against the ≤ n_cuts
    threshold rows — no per-row window, no global row sort. Duplicate
    decile boundaries (heavy ties) legitimately repeat thresholds; the
    output keys on cut index, so the sweep stays n_cuts rows.
    """
    n_cuts = 9
    cum = _global_score_cum(df, score_col, label_col)
    th = _order_stat_thresholds(cum, n_cuts)
    # predicted positive = score >= threshold: TP/FP from the suffix sums
    joined = (
        cum.crossJoin(F.broadcast(th))
        .filter(F.col("_s") >= F.col("_th"))
        .groupBy("cut", "_th")
        .agg(
            F.sum("_np").alias("_tp"),
            F.sum(F.col("_nt") - F.col("_np")).alias("_fp"),
            F.max("_tot_pos").alias("_pos"),
        )
    )
    return joined.select(
        "cut",
        F.col("_th").alias("threshold"),
        F.col("_tp").cast("long").alias("tp"),
        F.col("_fp").cast("long").alias("fp"),
        (F.col("_pos") - F.col("_tp")).cast("long").alias("fn"),
        F.expr("(_tp * 10000) div (_tp + _fp)").cast("long").alias("precision_bp"),
        F.when(
            F.col("_pos") > 0, F.expr("(_tp * 10000) div _pos").cast("long")
        ).alias("recall_bp"),
        F.expr(
            "(2 * _tp * 10000) div (2 * _tp + _fp + (_pos - _tp))"
        ).cast("long").alias("f1_bp"),
    )


def cohens_kappa(
    df: DataFrame,
    group_col: str,
    rater_a: "F.Column",
    rater_b: "F.Column",
) -> DataFrame:
    """Cohen's kappa between two binary raters, per group, in truncated
    basis points: κ = (pₒ − pₑ)/(1 − pₑ) with pₒ the observed agreement
    and pₑ the chance agreement from the raters' marginals. Integer
    form: κ_bp = 10000·(N·agree − Σ_c a_c·b_c) div (N² − Σ_c a_c·b_c)
    where a_c/b_c are each rater's class-c marginal counts. Negative
    when agreement is below chance. N² − Σ a_c·b_c = 0 (a rater is
    constant and both marginals coincide) emits NULL — κ is undefined
    there, not zero.

    One groupBy over a 3-column projection; everything downstream
    operates on per-group scalars.
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        rater_a.cast("long").alias("_a"),
        rater_b.cast("long").alias("_b"),
    )
    agg = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast(_D38).alias("_n"),
        F.sum((F.col("_a") == F.col("_b")).cast("long")).cast(_D38).alias("_agree"),
        F.sum("_a").cast(_D38).alias("_a1"),
        F.sum("_b").cast(_D38).alias("_b1"),
    )
    # pe numerator: a1*b1 + a0*b0
    pe = F.col("_a1") * F.col("_b1") + (F.col("_n") - F.col("_a1")) * (
        F.col("_n") - F.col("_b1")
    )
    return agg.withColumn("_pe", pe).select(
        "grp",
        F.col("_n").cast("long").alias("n_rows"),
        F.col("_agree").cast("long").alias("n_agree"),
        F.expr("(_agree * 10000) div _n").cast("long").alias("agree_bp"),
        F.when(
            F.col("_n") * F.col("_n") - F.col("_pe") != 0,
            # sign factored out of the division so trunc-div and
            # floor-div engines agree on below-chance (negative) kappa
            (
                F.when(F.col("_n") * F.col("_agree") - F.col("_pe") < 0, F.lit(-1))
                .otherwise(F.lit(1))
                .cast("long")
                * F.expr(
                    "(abs(_n * _agree - _pe) * 10000) div (_n * _n - _pe)"
                ).cast("long")
            ),
        ).alias("kappa_bp"),
    )


def calibration_curve(df: DataFrame, score_col: "F.Column", label_col: "F.Column") -> DataFrame:
    """Reliability diagram in exact integers: rows are bucketed by the
    same decile order-statistic thresholds pr_at_thresholds uses
    (bucket = 1 + #{thresholds strictly below the score}, so ties land
    wholly in one bucket — sizes uneven under heavy ties but
    deterministic), and each bucket reports its observed positive rate
    in truncated basis points. A well-calibrated score shows pos_rate
    rising monotonically with bucket; a score that only RANKS well
    (high AUC) but is miscalibrated shows flat-then-spike shapes.

    Same scale shape as the rest of the family: thresholds and bucket
    assignment live on the distinct-score count table; no row windows.
    """
    n_cuts = 9
    cum = _global_score_cum(df, score_col, label_col)
    th = _order_stat_thresholds(cum, n_cuts).select("_th")
    bucketed = (
        cum.crossJoin(F.broadcast(th))
        .groupBy("_s", "_nt", "_np")
        .agg(F.sum((F.col("_s") > F.col("_th")).cast("long")).alias("_nabove"))
        .withColumn("bucket", (F.col("_nabove") + 1).cast("long"))
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.sum("_nt").alias("_n"),
            F.sum("_np").alias("_p"),
            F.min("_s").cast("long").alias("score_lo"),
            F.max("_s").cast("long").alias("score_hi"),
        )
        .select(
            "bucket",
            "score_lo",
            "score_hi",
            F.col("_n").cast("long").alias("n_rows"),
            F.col("_p").cast("long").alias("n_pos"),
            F.expr("(_p * 10000) div _n").cast("long").alias("pos_rate_bp"),
        )
    )
