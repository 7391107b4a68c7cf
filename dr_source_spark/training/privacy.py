"""Privacy-audit operators: k-anonymity and l-diversity reports.

A corpus that trains a model is also a corpus that leaks: before
releasing or training on user-derived tables, a pipeline audits
re-identification risk. The two standard screens are k-anonymity
(every quasi-identifier combination is shared by at least k rows) and
l-diversity (within each quasi-identifier group the sensitive
attribute takes at least l distinct values — a k-anonymous group whose
members all share one sensitive value still leaks it).

Both are pure hash aggregates over the quasi-identifier key — one
map-side-combined shuffle each, no joins, no UDFs — so they run at any
scale the groupBy runs. The reports return EVERY group with its size /
diversity and an ``exposed`` verdict rather than only the failing
groups: the audit artifact a reviewer signs off is the full census,
and the failing subset is a filter away.

These complement the content-side PII heuristics (the detector tiers'
PII rules and training/text.py's scrubber): those find identifier
VALUES in text; these measure identifier STRUCTURE in tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def k_anonymity_report(
    df: DataFrame, quasi_cols: list[str | Column], k: int
) -> DataFrame:
    """Group size per quasi-identifier combination with the k-anonymity
    verdict: ``exposed`` is true iff fewer than ``k`` rows share the
    combination (those rows are re-identifiable to within < k
    candidates)."""
    return df.groupBy(*quasi_cols).agg(
        F.count("*").cast("long").alias("group_n"),
        (F.count("*") < k).alias("exposed"),
    )


def l_diversity_report(
    df: DataFrame,
    quasi_cols: list[str | Column],
    sensitive_col: str | Column,
    l: int,  # noqa: E741 - the metric's canonical name
) -> DataFrame:
    """Distinct sensitive values per quasi-identifier group with the
    l-diversity verdict: ``exposed`` is true iff the group's sensitive
    attribute takes fewer than ``l`` distinct values (count-distinct
    expands to the standard two-phase aggregate; the shuffle key is
    still the narrow quasi tuple)."""
    return df.groupBy(*quasi_cols).agg(
        F.count("*").cast("long").alias("group_n"),
        F.countDistinct(sensitive_col).cast("long").alias("n_sensitive"),
        (F.countDistinct(sensitive_col) < l).alias("exposed"),
    )


def t_closeness_report(
    df: DataFrame,
    quasi_cols: list[str | Column],
    sensitive_bin: Column,
) -> DataFrame:
    """t-closeness — the third screen of the privacy triad (k-anonymity:
    group size; l-diversity: value variety; t-closeness: value
    DISTRIBUTION): a group whose sensitive distribution diverges from
    the table's reveals information even when large and diverse. For an
    ORDERED sensitive attribute (binned to integers by
    ``sensitive_bin``), the canonical distance is the ordered Earth
    Mover's Distance, t = Σᵢ|CumP(i) − CumQ(i)| / (m−1) over the m
    global bins — exact by cross-multiplication:
    t_bp = 10000·Σᵢ|cumPᵢ·N − cumQᵢ·N_g| div ((m−1)·N_g·N), so every
    engine emits the same basis points. ``exposed`` is true iff t_bp >
    ``t_bp_limit`` (the paper's t=0.2 default ↔ 2000 bp). m < 2 (one
    global bin) makes t undefined — such tables emit t_bp NULL and
    exposed false.

    Output: one row per quasi group — (quasi..., group_n, t_bp,
    exposed). Scale shape: one groupBy(quasi, bin) over the row table;
    the densify (groups × global-bin grid), cumulative windows, and
    final aggregate all run on that tiny grid.
    """
    t_bp_limit = 2000
    base = df.select(*quasi_cols, sensitive_bin.cast("long").alias("_bin"))
    qnames = base.columns[:-1]
    cell = base.groupBy(*qnames, "_bin").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_cg")
    )
    gbin = cell.groupBy("_bin").agg(F.sum("_cg").alias("_cq"))
    grid = (
        cell.select(*qnames).distinct()
        .crossJoin(gbin.select("_bin"))
        .join(cell, [*qnames, "_bin"], "left")
        .withColumn("_cg", F.coalesce("_cg", F.lit(0).cast("decimal(38,0)")))
        .join(F.broadcast(gbin), "_bin")
    )
    from pyspark.sql.window import Window

    wq = Window.partitionBy(*qnames).orderBy("_bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(*qnames)
    cum = (
        grid.withColumn("_cum_g", F.sum("_cg").over(wq))
        .withColumn("_cum_q", F.sum("_cq").over(wq))
        .withColumn("_ng", F.sum("_cg").over(wall))
        .withColumn("_nq", F.sum("_cq").over(wall))
        .withColumn("_m", F.count(F.lit(1)).over(wall))
    )
    agg = cum.groupBy(*qnames).agg(
        F.max("_ng").alias("_ng"),
        F.max("_nq").alias("_nq"),
        F.max("_m").cast("long").alias("_m"),
        F.sum(
            F.abs(F.col("_cum_g") * F.col("_nq") - F.col("_cum_q") * F.col("_ng"))
        ).alias("_emd_num"),
    )
    t_bp = F.expr("(_emd_num * 10000) div ((_m - 1) * _ng * _nq)").cast("long")
    return agg.select(
        *qnames,
        F.col("_ng").cast("long").alias("group_n"),
        F.when(F.col("_m") >= 2, t_bp).alias("t_bp"),
        F.when(F.col("_m") >= 2, t_bp > int(t_bp_limit)).otherwise(F.lit(False)).alias("exposed"),
    )
