"""Exact-arithmetic statistical profiling operators.

A 100 TB curation pipeline audits its corpus with statistics — robust
center/spread per group, feature covariance, concentration (inequality)
of the size distribution — and those audits must be REPRODUCIBLE: the
same number on every engine, every retry, every backfill. Floating
aggregates don't give that (summation order changes the low bits), so
every operator here is integer/decimal-exact:

* ``mad_profile`` — median / median-absolute-deviation via explicit
  ORDER-STATISTIC selection (row_number against the partition count),
  not percentile interpolation. The lower median with a unique-key
  tie-break is the same row on any engine; ``3 * MAD`` outlier flags
  follow by pure integer comparison.
* ``cov_pairs`` — the exact pairwise sample-covariance numerator
  ``n·Σxy − Σx·Σy`` in DECIMAL(38,0) (sums of cent-scaled products
  overflow int64 past ~1e18; decimal38 carries to ~1e38, enough for
  10^12 rows of cent² products), truncated toward zero on division so
  both engines agree on negative covariances (DuckDB ``//`` floors,
  Java ``div`` truncates — sign is factored out explicitly).
* ``gini_by_group`` — the Gini coefficient from the closed form over
  ascending ranks, ``G = (2·Σ r·x − (n+1)·Σx) / (n·Σx)``, in exact
  basis points. Rank ties broken by the row key so a duplicated size
  cannot make the coefficient nondeterministic.

Scale shape: every operator is one narrow-column shuffle per grouped
pass — ``mad_profile`` two sort-window passes over (group, value),
``cov_pairs`` a single global aggregate (map-side partials, one row
out), ``gini_by_group`` one window pass. No UDFs, no collects.

Reference: the reference engine has no statistics surface (findings go
straight to a SQLite store, dr_source/core/db.py); these are the audit
operators its output table would need at lake scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_D38 = "decimal(38,0)"


def mad_profile(df: DataFrame, group_col: str, value_col: str, id_col: str) -> DataFrame:
    """Per-group robust profile: lower median, MAD, and |x−med| > k·MAD
    outlier count, all on integer values.

    The lower median is the row at ``row_number == (n+1) div 2`` under
    ``ORDER BY (value, id)`` — an exact order statistic both engines
    select identically (percentile functions interpolate differently
    between engines for even n). MAD repeats the same selection on the
    absolute deviations.
    """
    k = 3
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("long").alias("v"),
        F.col(id_col).alias("rid"),
    )
    w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("rid"))
    ranked = base.select(
        "grp", "v", "rid",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("_n"),
    )
    med = (
        ranked.filter(F.col("_rn") == F.expr("(_n + 1) div 2"))
        .select("grp", F.col("v").alias("med_v"))
    )
    dev = ranked.join(F.broadcast(med), "grp").select(
        "grp", "v", "rid", "_n", F.abs(F.col("v") - F.col("med_v")).alias("dv"),
        "med_v",
    )
    w2 = Window.partitionBy("grp").orderBy(F.asc("dv"), F.asc("rid"))
    dev_ranked = dev.withColumn("_rn2", F.row_number().over(w2))
    mad = (
        dev_ranked.filter(F.col("_rn2") == F.expr("(_n + 1) div 2"))
        .select("grp", F.col("dv").alias("mad_v"))
    )
    return (
        dev.join(F.broadcast(mad), "grp")
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.first("med_v").cast("long").alias("med_v"),
            F.first("mad_v").cast("long").alias("mad_v"),
            F.sum(
                (F.col("dv") > F.lit(int(k)) * F.col("mad_v")).cast("long")
            ).cast("long").alias("n_outliers"),
            F.max("dv").cast("long").alias("max_abs_dev"),
        )
    )


def cov_pairs(df: DataFrame, metrics: dict[str, "F.Column"]) -> DataFrame:
    """Exact pairwise sample covariance over integer-scaled metrics.

    One global aggregate computes Σx per metric and Σxy per ordered
    pair (x ≤ y lexicographically) plus the common row count; the
    covariance ``(n·Σxy − Σx·Σy) / (n·(n−1))`` is then evaluated on the
    single result row in DECIMAL(38,0) and truncated toward zero with
    the sign factored out, so engines with floor-division semantics
    (DuckDB ``//``) and trunc-division semantics (Spark ``div``) emit
    the same integer. Diagonal pairs are the exact sample variances.

    Output: (var_x, var_y, n, cov) — cov in the product of the two
    metrics' integer units (e.g. cent² for price×price).
    """
    names = sorted(metrics)
    aggs = [F.count(F.lit(1)).cast(_D38).alias("_n")]
    for nm in names:
        aggs.append(F.sum(metrics[nm].cast(_D38)).alias(f"_s_{nm}"))
    for i, a in enumerate(names):
        for b in names[i:]:
            aggs.append(
                F.sum((metrics[a].cast(_D38) * metrics[b].cast(_D38))).alias(f"_p_{a}_{b}")
            )
    row = df.agg(*aggs)
    pair_structs = [
        F.struct(
            F.lit(a).alias("var_x"),
            F.lit(b).alias("var_y"),
            (
                F.col("_n") * F.col(f"_p_{a}_{b}") - F.col(f"_s_{a}") * F.col(f"_s_{b}")
            ).alias("num"),
        )
        for i, a in enumerate(names)
        for b in names[i:]
    ]
    den = (F.col("_n") * (F.col("_n") - F.lit(1).cast(_D38))).alias("_den")
    exploded = row.select(den, F.explode(F.array(*pair_structs)).alias("p"))
    num = F.col("p.num")
    sign = F.when(num < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    return exploded.select(
        F.col("p.var_x").alias("var_x"),
        F.col("p.var_y").alias("var_y"),
        (sign * F.expr("abs(p.num) div _den").cast("long")).cast("long").alias("cov"),
    )


def gini_by_group(
    df: DataFrame, group_col: str, size_col: str, id_col: str
) -> DataFrame:
    """Per-group Gini coefficient of a nonnegative integer size column,
    in exact basis points.

    Closed form over ascending ranks r = 1..n (ties broken by the row
    key): ``gini_bp = (2·Σ r·x − (n+1)·Σx) · 10000 div (n·Σx)``. All
    products carried in DECIMAL(38,0) so 10^12-row groups of 64-bit
    sizes cannot overflow. Groups with zero total size emit NULL (a
    concentration of nothing is undefined, not zero).
    """
    w = Window.partitionBy(group_col).orderBy(F.asc(size_col), F.asc(id_col))
    ranked = df.select(
        F.col(group_col).alias("grp"),
        F.col(size_col).cast(_D38).alias("x"),
        F.row_number().over(w).cast(_D38).alias("r"),
    )
    agg = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast(_D38).alias("_n"),
        F.sum("x").alias("_s"),
        F.sum(F.col("r") * F.col("x")).alias("_rs"),
    )
    return agg.select(
        "grp",
        F.col("_n").cast("long").alias("n"),
        F.col("_s").cast("long").alias("total_size"),
        F.when(F.col("_s") > 0, F.expr(
            "(cast(2 as decimal(38,0)) * _rs - (_n + 1) * _s) * 10000 div (_n * _s)"
        ).cast("long")).alias("gini_bp"),
    )


def ols_slope_by_group(
    df: DataFrame,
    group_cols: list[str],
    x_col: "F.Column",
    y_col: "F.Column",
) -> DataFrame:
    """Per-group exact OLS regression slope, ``scale``-scaled and
    truncated toward zero: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    on integer-scaled x and y, all sums in DECIMAL(38,0). Groups with
    zero x-variance (the denominator) emit NULL — there is no line to
    fit, not a zero slope. Sign factored out of the division so
    trunc-div and floor-div engines agree on negative slopes.

    One map-side-combinable aggregate; no second pass, no window.
    """
    scale = 10000
    g = [F.col(c) for c in group_cols]
    agg = df.groupBy(*g).agg(
        F.count(F.lit(1)).cast(_D38).alias("_n"),
        F.sum(x_col.cast(_D38)).alias("_sx"),
        F.sum(y_col.cast(_D38)).alias("_sy"),
        F.sum((x_col.cast(_D38) * y_col.cast(_D38))).alias("_sxy"),
        F.sum((x_col.cast(_D38) * x_col.cast(_D38))).alias("_sxx"),
    )
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    sign = F.when(num < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    return agg.select(
        *group_cols,
        F.col("_n").cast("long").alias("n"),
        F.when(
            den > 0,
            sign
            * F.expr(
                f"abs(_n * _sxy - _sx * _sy) * {int(scale)}"
                " div (_n * _sxx - _sx * _sx)"
            ).cast("long"),
        ).cast("long").alias(f"slope_x{scale}"),
    )


def simpson_index(
    df: DataFrame, group_col: str, cat_col: str
) -> DataFrame:
    """Per-group Simpson concentration index over a categorical column,
    in exact truncated basis points: λ = Σ nᵢ(nᵢ−1) / (N(N−1)) — the
    probability two draws WITHOUT replacement share a category. 0 =
    maximally diverse, 10000 = a single category. Groups with N < 2
    emit NULL (the index is undefined, not zero). Diversity score
    (1−λ, the Gini-Simpson form) is a read-time complement.

    All products carried in DECIMAL(38,0); nᵢ ≤ N ≤ 10¹⁸ stays exact.
    Scale shape: two map-side-combinable groupBys (group×category, then
    group) — the second aggregates the CATEGORY-COUNT table, already
    tiny. No window over the row table, no join.
    """
    cat_counts = df.groupBy(
        F.col(group_col).alias("grp"), F.col(cat_col).alias("_cat")
    ).agg(F.count(F.lit(1)).cast(_D38).alias("_n"))
    return (
        cat_counts.groupBy("grp")
        .agg(
            F.sum("_n").alias("_N"),
            F.sum(F.col("_n") * (F.col("_n") - 1)).alias("_pairs"),
            F.count(F.lit(1)).cast("long").alias("n_categories"),
        )
        .select(
            "grp",
            F.col("_N").cast("long").alias("n_rows"),
            "n_categories",
            F.when(
                F.col("_N") >= 2,
                F.expr("(_pairs * 10000) div (_N * (_N - 1))").cast("long"),
            ).alias("simpson_bp"),
        )
    )


def drift_chi2(df: DataFrame, cat_col: str) -> DataFrame:
    """Categorical-distribution drift between the first and second half
    of a table's time range, as the exact scaled chi-square contingency
    statistic: rows split at the epoch-microsecond midpoint
    (min+max) div 2 — a pure function of the data, no clock — and each
    category contributes χ²ᵢ·10⁴ = Σ_period (N·O − r·c)²·10⁴ div
    (N·r·c), truncated per cell so any engine sums identically. A
    category absent from one period still contributes (O = 0 is a
    legitimate cell); categories with a zero column total can't occur
    (they'd have no rows).

    Output per category: (cat, n_early, n_late, chi2_x10000). The table
    statistic is the read-time sum; d.o.f. = categories − 1. Scale
    shape: one min/max aggregate (map-side-combinable), one
    groupBy(cat, period) count, then arithmetic on the tiny
    category×2 table.
    """
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = df.agg(
        F.min(ep).alias("_lo"), F.max(ep).alias("_hi")
    )
    counts = (
        df.crossJoin(F.broadcast(bounds))
        .select(
            F.col(cat_col).alias("cat"),
            (ep > F.expr("(_lo + _hi) div 2")).cast("int").alias("_late"),
        )
        .groupBy("cat", "_late")
        .agg(F.count(F.lit(1)).cast(_D38).alias("_o"))
    )
    # densify: a category missing from one period is an O=0 cell
    cats = counts.select("cat").distinct()
    periods = counts.sparkSession.range(2).select(F.col("id").cast("int").alias("_late"))
    full = (
        cats.crossJoin(F.broadcast(periods))
        .join(counts, ["cat", "_late"], "left")
        .withColumn("_o", F.coalesce("_o", F.lit(0).cast(_D38)))
    )
    wc = Window.partitionBy("cat")
    wp = Window.partitionBy("_late")
    wall = Window.partitionBy()
    cells = (
        full.withColumn("_r", F.sum("_o").over(wp))
        .withColumn("_c", F.sum("_o").over(wc))
        .withColumn("_N", F.sum("_o").over(wall))
    )
    contrib = cells.withColumn(
        "_chi",
        F.when(
            (F.col("_r") > 0) & (F.col("_c") > 0),
            F.expr(
                "((_N * _o - _r * _c) * (_N * _o - _r * _c) * 10000)"
                " div (_N * _r * _c)"
            ),
        ).otherwise(F.lit(0).cast(_D38)),
    )
    return (
        contrib.groupBy("cat")
        .agg(
            F.sum(F.when(F.col("_late") == 0, F.col("_o"))).cast("long").alias("n_early"),
            F.sum(F.when(F.col("_late") == 1, F.col("_o"))).cast("long").alias("n_late"),
            F.sum("_chi").cast("long").alias("chi2_x10000"),
        )
    )


# Benford first-digit expectations log10(1 + 1/d), truncated basis
# points — public constants, hardcoded identically in the DuckDB oracle
_BENFORD_BP = {1: 3010, 2: 1760, 3: 1249, 4: 969, 5: 791, 6: 669, 7: 579, 8: 511, 9: 457}


def benford_profile(df: DataFrame, amount_col: "F.Column") -> DataFrame:
    """First-significant-digit profile of a positive amount column vs
    Benford's law — the classic bulk-data fabrication screen (organic
    multiplicative amounts follow log10(1+1/d); synthetic or capped
    data doesn't). The digit is taken arithmetically-safely as the
    first character of the integer amount's decimal string (amounts are
    floored to integer units first); non-positive amounts are excluded
    and reported via the read-time row-count delta.

    Output per digit 1-9: (digit, n_rows, share_bp, benford_bp, dev_bp
    = share − expectation, both already-truncated so the subtraction is
    engine-stable). One groupBy on a derived single-char key.
    """
    amt = F.floor(amount_col).cast(_D38)
    digit = F.substring(F.col("_amt").cast("string"), 1, 1).cast("long")
    counts = (
        df.select(amt.alias("_amt"))
        .filter(F.col("_amt") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast(_D38).alias("_n"))
    )
    exp_map = F.create_map(
        *[F.lit(x) for kv in _BENFORD_BP.items() for x in kv]
    )
    return (
        counts.withColumn("_tot", F.sum("_n").over(Window.partitionBy()))
        .select(
            "digit",
            F.col("_n").cast("long").alias("n_rows"),
            F.expr("(_n * 10000) div _tot").cast("long").alias("share_bp"),
            exp_map[F.col("digit")].cast("long").alias("benford_bp"),
        )
        .withColumn("dev_bp", F.col("share_bp") - F.col("benford_bp"))
    )


def tv_distance_pairs(
    df: DataFrame, group_col: str, cat_col: str
) -> DataFrame:
    """Pairwise total-variation distance between groups' categorical
    distributions, exact truncated basis points:
    TV(P,Q) = ½ Σ_c |p_c − q_c| → tv_bp = 10000·Σ_c |n1_c·N2 − n2_c·N1|
    div (2·N1·N2), all in DECIMAL(38,0) (cross-multiplication instead
    of normalizing — no float shares anywhere). TV = 0 for identical
    distributions, 10000 for disjoint support; it upper-bounds every
    event-probability difference, making it the distribution-drift
    number that needs no calibration. One row per unordered pair
    (grp_a < grp_b).

    Scale shape: rows collapse to the (group × category) count grid —
    densified with explicit zeros so one-sided categories contribute
    |n·N2 − 0| — then a self-join ON CATEGORY of that tiny grid.
    Nothing pairwise ever touches the row table.
    """
    counts = df.groupBy(
        F.col(group_col).alias("grp"), F.col(cat_col).alias("cat")
    ).agg(F.count(F.lit(1)).cast(_D38).alias("cnt"))
    grid = (
        counts.select("grp").distinct()
        .crossJoin(counts.select("cat").distinct())
        .join(counts, ["grp", "cat"], "left")
        .withColumn("cnt", F.coalesce("cnt", F.lit(0).cast(_D38)))
        .withColumn("tot", F.sum("cnt").over(Window.partitionBy("grp")))
    )
    a, b = grid.alias("ga"), grid.alias("gb")
    return (
        a.join(b, F.col("ga.cat") == F.col("gb.cat"))
        .filter(F.col("ga.grp") < F.col("gb.grp"))
        .select(
            F.col("ga.grp").alias("grp_a"),
            F.col("gb.grp").alias("grp_b"),
            F.col("ga.cnt").alias("_cnt_a"),
            F.col("gb.cnt").alias("_cnt_b"),
            F.col("ga.tot").alias("_tot_a"),
            F.col("gb.tot").alias("_tot_b"),
        )
        .groupBy("grp_a", "grp_b")
        .agg(
            F.max("_tot_a").cast("long").alias("n_rows_a"),
            F.max("_tot_b").cast("long").alias("n_rows_b"),
            F.sum(F.abs(F.col("_cnt_a") * F.col("_tot_b") - F.col("_cnt_b") * F.col("_tot_a"))).alias("_num"),
            F.max(F.col("_tot_a") * F.col("_tot_b")).alias("_den"),
        )
        .select(
            "grp_a", "grp_b", "n_rows_a", "n_rows_b",
            F.expr("(_num * 10000) div (2 * _den)").cast("long").alias("tv_bp"),
        )
    )


def kendall_tau_grid(
    df: DataFrame, x_col: "F.Column", y_col: "F.Column"
) -> DataFrame:
    """Exact Kendall tau-a rank correlation between two LOW-CARDINALITY
    integer metrics — monotonicity without Pearson's linearity
    assumption or Spearman's square root: tau_a = (C − D) / (n(n−1)/2)
    with C/D the concordant/discordant pair counts, ties counting as
    neither. The inversion-counting formulation doesn't distribute;
    this one does BECAUSE the metrics are discrete: rows collapse to
    the joint-distribution grid (one map-side-combinable groupBy), and
    C/D come from the grid's self-join — |X|·|Y| cells, so the pair
    work is grid², independent of the row count. Use only for metrics
    with bounded distinct values (quantities, bucketed scores); a
    billion rows of 50×11 values is still a 550-cell grid.

    Output: a single row (n_rows, n_cells, concordant, discordant,
    tau_a_bp) — tau in truncated basis points, sign factored out.
    """
    cells = df.select(
        x_col.cast("long").alias("x"), y_col.cast("long").alias("y")
    ).groupBy("x", "y").agg(F.count(F.lit(1)).cast(_D38).alias("cnt"))
    a, b = cells.alias("ca"), cells.alias("cb")
    pairs = (
        a.join(b, F.col("ca.x") < F.col("cb.x"))
        .select(
            (F.col("ca.cnt") * F.col("cb.cnt")).alias("_w"),
            F.signum((F.col("cb.y") - F.col("ca.y")).cast("double")).cast("long").alias("_s"),
        )
        .agg(
            F.sum(F.when(F.col("_s") == 1, F.col("_w")).otherwise(F.lit(0).cast(_D38))).alias("_c"),
            F.sum(F.when(F.col("_s") == -1, F.col("_w")).otherwise(F.lit(0).cast(_D38))).alias("_d"),
        )
    )
    totals = cells.agg(
        F.sum("cnt").alias("_n"), F.count(F.lit(1)).cast("long").alias("n_cells")
    )
    out = totals.crossJoin(F.broadcast(pairs))
    sign = F.when(F.col("_c") - F.col("_d") < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    return out.select(
        F.col("_n").cast("long").alias("n_rows"),
        "n_cells",
        F.col("_c").cast("long").alias("concordant"),
        F.col("_d").cast("long").alias("discordant"),
        F.when(
            F.col("_n") >= 2,
            sign
            * F.expr("(abs(_c - _d) * 10000) div ((_n * (_n - 1)) div 2)").cast("long"),
        ).alias("tau_a_bp"),
    )


def json_field_profile(
    df: DataFrame,
    json_col: str,
    field_path: str,
    group_col: str,
) -> DataFrame:
    """Semi-structured field profile: per group, the fill rate and
    exact min/max/sum of one integer field inside a JSON string column
    — the schema-drift screen for the `props`-style catch-all columns
    every event table grows. Extraction uses the engine's native JSON
    path (`get_json_object`), then accepts ONLY integral strings via an
    explicit ^-?\\d+$ guard before the cast: missing keys, nulls,
    non-numeric values, and non-integral numerics all count as
    unfilled. The regex guard (not try_cast) is deliberate — engines
    disagree on lossy casts (Spark try_cast('12.5' as long) is NULL;
    DuckDB TRY_CAST rounds to 13), so the guard is the only
    engine-stable definition of "filled", and the oracle applies the
    identical regex.

    One groupBy over a 2-column projection; extraction stays JVM-side
    (no Python in the row path).
    """
    raw = F.get_json_object(F.col(json_col), field_path)
    v = F.when(raw.rlike(r"^-?\d+$"), raw.cast("long"))
    return (
        df.select(F.col(group_col).alias("grp"), v.alias("_v"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("_v").cast("long").alias("n_filled"),
            F.expr("(cast(count(_v) as decimal(38,0)) * 10000)"
                   " div count(1)").cast("long").alias("fill_bp"),
            F.min("_v").cast("long").alias("min_val"),
            F.max("_v").cast("long").alias("max_val"),
            F.sum("_v").cast("long").alias("sum_val"),
        )
    )


def trimmed_mean_by_group(
    df: DataFrame,
    group_col: str,
    value_col: "F.Column",
    id_col: str,
    trim_bp: int = 1000,
) -> DataFrame:
    """Per-group trimmed mean: drop the k = (n·trim_bp) div 10⁴
    smallest and k largest values by exact rank (ties broken by the row
    id, so a duplicated value can't make membership nondeterministic)
    and report the truncated integer mean of the rest — the robust
    center that, unlike mad_profile's median, still uses every retained
    value. Groups where 2k ≥ n emit NULL (nothing survives the trim).

    One rank window per group over (value, id) plus a single aggregate;
    the trim boundary is pure integer arithmetic on the group count.
    """
    w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("rid"))
    ranked = (
        df.select(
            F.col(group_col).alias("grp"),
            value_col.cast("long").alias("v"),
            F.col(id_col).alias("rid"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("grp")))
        .withColumn("_k", F.expr(f"(_n * {int(trim_bp)}) div 10000"))
    )
    kept = ranked.filter(
        (F.col("_rn") > F.col("_k")) & (F.col("_rn") <= F.col("_n") - F.col("_k"))
    )
    return (
        ranked.groupBy("grp")
        .agg(F.max("_n").cast("long").alias("n"), F.max("_k").cast("long").alias("n_trimmed_each_side"))
        .join(
            kept.groupBy("grp").agg(
                F.count(F.lit(1)).cast("long").alias("n_kept"),
                F.sum(F.col("v").cast(_D38)).alias("_s"),
            ),
            "grp",
            "left",
        )
        .select(
            "grp",
            "n",
            "n_trimmed_each_side",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.when(
                F.col("n_kept") > 0,
                (
                    F.when(F.col("_s") < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
                    * F.expr("abs(_s) div n_kept").cast("long")
                ),
            ).alias("trimmed_mean"),
        )
    )


def wape_backtest(
    df: DataFrame,
    group_col: str,
    period_col: "F.Column",
    amount_col: "F.Column",
    lag: int = 12,
) -> DataFrame:
    """Naive-seasonal forecast backtest: per group, actuals are the
    per-period amount sums and the forecast for period t is the actual
    at t − ``lag`` (the naive seasonal baseline every real forecaster
    must beat). Error is WAPE — Σ|A − F| / ΣA — in truncated basis
    points: exact, scale-free, and defined without per-point division
    (MAPE explodes on small actuals; WAPE doesn't). Periods are integer
    indexes (e.g. year·12+month); only periods with a forecast
    (lag-th predecessor PRESENT at exactly t − lag) are scored. Groups
    with no scored periods are absent from the output (there is nothing
    to backtest); a zero actual total emits NULL wape.

    Output: (grp, n_periods_scored, actual_total, abs_err_total,
    wape_bp). Scale shape: one groupBy (group, period) over the row
    table; the lag join and aggregate run on the per-period table.
    """
    per = df.select(
        F.col(group_col).alias("grp"),
        period_col.cast("long").alias("per"),
        amount_col.cast(_D38).alias("amt"),
    ).groupBy("grp", "per").agg(F.sum("amt").alias("a"))
    fc = per.select(
        "grp", (F.col("per") + int(lag)).alias("per"), F.col("a").alias("f")
    )
    scored = per.join(fc, ["grp", "per"])
    return (
        scored.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_periods_scored"),
            F.sum("a").alias("_at"),
            F.sum(F.abs(F.col("a") - F.col("f"))).alias("_et"),
        )
        .select(
            "grp",
            "n_periods_scored",
            F.col("_at").cast("long").alias("actual_total"),
            F.col("_et").cast("long").alias("abs_err_total"),
            F.when(
                F.col("_at") > 0,
                F.expr("(_et * 10000) div _at").cast("long"),
            ).alias("wape_bp"),
        )
    )


def runs_test_by_group(
    df: DataFrame,
    group_col: str,
    value_col: "F.Column",
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Wald-Wolfowitz runs audit per group: is the sequence of values
    (in (ts, id) order) randomly shuffled around its median, or does it
    trend/cluster? Classifies each element as above (>) or not-above
    the group's exact lower median (order statistic, ties-to-below —
    deterministic), counts the observed RUNS of equal classification,
    and reports the expected run count under randomness, E[R] = 1 +
    2·n₁·n₀/n, as a ×100 integer ((100·n + 200·n₁·n₀) div n). Observed
    far below expected ⇒ trending/clustered; far above ⇒ oscillating.
    The z-denominator needs a square root, so the variance-normalized
    score is left to the reader — observed vs expected carries the
    signal and stays exact.

    Two windows per group (median rank over (value, id), lag over
    (ts, id)) plus one aggregate; all narrow columns.
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        value_col.cast("long").alias("v"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_rid"),
    )
    wm = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("_rid"))
    ranked = base.withColumn("_rn", F.row_number().over(wm)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("grp"))
    )
    med = ranked.filter(F.col("_rn") == F.expr("(_n + 1) div 2")).select(
        "grp", F.col("v").alias("_med")
    )
    ws = Window.partitionBy("grp").orderBy(F.asc("_ts"), F.asc("_rid"))
    seq = (
        base.join(F.broadcast(med), "grp")
        .withColumn("_hi", (F.col("v") > F.col("_med")).cast("int"))
        .withColumn("_prev", F.lag("_hi").over(ws))
    )
    return (
        seq.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_hi").cast("long").alias("n_above"),
            F.sum(F.lit(1) - F.col("_hi")).cast("long").alias("n_below"),
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        F.col("_prev").isNotNull() & (F.col("_hi") != F.col("_prev")), 1
                    ).otherwise(0)
                )
            ).cast("long").alias("n_runs"),
        )
        .withColumn(
            "expected_runs_x100",
            F.expr(
                "cast((cast(100 as decimal(38,0)) * n + 200 * n_above * n_below)"
                " div n as long)"
            ),
        )
    )


def acf_by_group(df: DataFrame, group_col: str, ts_col: str) -> DataFrame:
    """Exact integer autocorrelation of the per-bucket event count
    series, per group — the seasonality/burstiness audit for an event
    stream (lag-1 high ⇒ bursty ingestion, lag-24 high on hourly
    buckets ⇒ daily cycle). The series is DENSIFIED first (a missing
    bucket is a zero observation, exactly the gap_fill_hourly fact),
    then the centered products are computed in integers by scaling
    deviations by n: with d_t = n·x_t − Σx, acf(k) =
    (Σ_t d_t·d_{t+k}) / (Σ_t d_t²) — identical to the float estimator,
    but every intermediate is a BIGINT so any ANSI engine agrees
    bit-for-bit. Reported as signed basis points with truncation
    toward zero (sign factored out of the div, the cov_pairs rule).

    Scale shape: the event table only ever aggregates (one narrow
    groupBy per (group, bucket)); the dense frame is the tiny
    calendar × group product (n buckets per group, independent of row
    count), and the lag windows run over that small frame. Magnitudes:
    d ≤ n·max_count, den ≤ n·d² — decimal(38,0) carries the products
    so a year of hourly buckets at 10^9 events/bucket cannot overflow.

    Reference: no time-series surface in the reference engine; this is
    the scan-cadence audit its findings stream would need at scale.
    """
    lags = (1, 2, 3)
    bucket = "hour"
    counts = (
        df.select(
            F.col(group_col).alias("grp"),
            F.date_trunc(bucket, F.col(ts_col)).alias("b"),
        )
        .groupBy("grp", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    bounds = counts.groupBy("grp").agg(
        F.min("b").alias("mn"), F.max("b").alias("mx"), F.sum("x").alias("s")
    )
    step = {"hour": "interval 1 hour", "day": "interval 1 day"}[bucket]
    dense = (
        bounds.select(
            "grp",
            "s",
            F.explode(F.expr(f"sequence(mn, mx, {step})")).alias("b"),
            (
                F.expr(
                    f"cast((unix_timestamp(mx) - unix_timestamp(mn)) div "
                    f"{3600 if bucket == 'hour' else 86400} as long)"
                )
                + 1
            ).alias("n"),
        )
        .join(counts, ["grp", "b"], "left")
        .select(
            "grp",
            "b",
            "n",
            (
                F.col("n").cast(_D38) * F.coalesce(F.col("x"), F.lit(0)).cast(_D38)
                - F.col("s").cast(_D38)
            ).alias("d"),
        )
    )
    w = Window.partitionBy("grp").orderBy(F.asc("b"))
    leads = dense.select(
        "grp",
        "n",
        "d",
        *[F.lead("d", k).over(w).alias(f"d{k}") for k in lags],
    )
    agg = leads.groupBy("grp").agg(
        F.first("n").alias("n_buckets"),
        F.sum(F.col("d") * F.col("d")).alias("den"),
        *[
            F.sum(F.col("d") * F.col(f"d{k}")).alias(f"num{k}")
            for k in lags
        ],
    )
    stacked = agg.select(
        "grp",
        F.col("n_buckets").cast("long").alias("n_buckets"),
        "den",
        F.expr(
            "stack({n}, {cells}) as (lag, num)".format(
                n=len(lags),
                cells=", ".join(f"cast({k} as long), num{k}" for k in lags),
            )
        ),
    )
    return stacked.select(
        "grp",
        "lag",
        "n_buckets",
        F.when(F.col("den") <= 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr(
                "cast((case when num < 0 then -1 else 1 end)"
                " * ((abs(num) * 10000) div den) as long)"
            )
        )
        .alias("acf_bp"),
    )


def mann_whitney_grid(
    df: DataFrame,
    side_col: "F.Column",
    value_col: "F.Column",
) -> DataFrame:
    """Exact Mann-Whitney U between two samples identified by a boolean
    side column, over a DISCRETE value grid — "did this cohort's metric
    distribution shift against that one's" without any normality
    assumption (the nonparametric sibling of drift_chi2's categorical
    test). Rows collapse to per-(side, value) cells first, so the pair
    enumeration is grid_a × grid_b, independent of row count — the
    kendall_tau_grid discipline. Ties are handled exactly by counting
    2·U in half-units: u2 = Σ 2·[v_a > v_b] + [v_a = v_b] over all
    cross pairs. Reported effect sizes stay integer: u_bp =
    (10000·u2) div (2·n_a·n_b) is the common-language effect size
    P(A > B) + ½P(A = B) in basis points; rank-biserial rb_bp =
    (u2 − n_a·n_b) scaled, sign factored out before the div.

    One narrow groupBy over the fact table, then a grid² broadcast
    cross join (≤ a few thousand cells) and a 1-row aggregate.
    """
    cells = (
        df.select(side_col.alias("side"), value_col.cast("long").alias("v"))
        .filter(F.col("side").isNotNull() & F.col("v").isNotNull())
        .groupBy("side", "v")
        .agg(F.count(F.lit(1)).cast(_D38).alias("cnt"))
    )
    a = cells.filter(F.col("side")).select(F.col("v").alias("va"), F.col("cnt").alias("ca"))
    b = cells.filter(~F.col("side")).select(F.col("v").alias("vb"), F.col("cnt").alias("cb"))
    cross = a.join(F.broadcast(b))
    return (
        cross.agg(
            F.sum(F.when(F.col("va") > F.col("vb"), F.lit(2).cast(_D38) * F.col("ca") * F.col("cb")).otherwise(F.lit(0).cast(_D38))).alias("_gt2"),
            F.sum(F.when(F.col("va") == F.col("vb"), F.col("ca") * F.col("cb")).otherwise(F.lit(0).cast(_D38))).alias("_eq"),
        )
        .crossJoin(
            F.broadcast(
                cells.agg(
                    F.sum(F.when(F.col("side"), F.col("cnt"))).alias("na"),
                    F.sum(F.when(~F.col("side"), F.col("cnt"))).alias("nb"),
                )
            )
        )
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            (F.col("_gt2") + F.col("_eq")).cast("long").alias("u2_a"),
            F.expr(
                "cast(((_gt2 + _eq) * 10000) div (2 * na * nb) as long)"
            ).alias("u_bp"),
            F.expr(
                "cast((case when _gt2 + _eq < na * nb then -1 else 1 end)"
                " * ((abs(_gt2 + _eq - na * nb) * 10000) div (na * nb)) as long)"
            ).alias("rb_bp"),
        )
    )


def rolling_band_outliers(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_cents: "F.Column",
    window: int = 24,
    k: int = 2,
) -> DataFrame:
    """Trailing Bollinger-band outlier flags over the per-bucket value
    series, per group, with the square root ELIMINATED so the test is
    exact: x is an outlier against its trailing window of w buckets
    (current bucket excluded — the forecast-residual convention) iff
    (x − μ)² > k²σ², which in integers is (w·x − S)² > k²·(w·Q − S²)
    with S = Σx, Q = Σx² over the window. Every term is decimal(38,0)
    so both sides agree bit-for-bit; only FULL windows are scored (a
    short window has a different variance, not a smaller one). Unlike
    the global zscore screen this is LOCAL: a level shift re-baselines
    after w buckets instead of poisoning the rest of the month.

    Scale shape: one narrow (group, bucket) aggregate over the fact
    table, then two running-sum windows over the tiny per-group series.
    The window is over OBSERVED buckets (documented contract): the
    trailing w observed buckets, which equals trailing w wall-clock
    buckets whenever the series is dense.
    """
    hourly = (
        df.select(
            F.col(group_col).alias("grp"),
            F.date_trunc("hour", F.col(ts_col)).alias("b"),
            value_cents.alias("xc"),
        )
        .groupBy("grp", "b")
        .agg(F.sum("xc").cast(_D38).alias("x"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy(F.asc("b"))
        .rowsBetween(-window, -1)
    )
    scored = hourly.select(
        "grp",
        "b",
        "x",
        F.count(F.lit(1)).over(w).alias("wn"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("q"),
    ).filter(F.col("wn") == window)
    wd = F.lit(window).cast(_D38)
    # the squares themselves grow past int64 at ~$1.3M/hour buckets, so
    # they stay decimal38 internals and only BOUNDED columns come out
    # (review fix): the exact outlier flag plus how far outside the
    # band in bp (truncating div, clamped at 100x)
    staged = scored.select(
        "grp",
        F.col("b").alias("bucket"),
        F.col("x").cast("long").alias("value_cents"),
        (
            (wd * F.col("x") - F.col("s")) * (wd * F.col("x") - F.col("s"))
        ).alias("_dev2"),
        (
            F.lit(k * k).cast(_D38)
            * (wd * F.col("q") - F.col("s") * F.col("s"))
        ).alias("_band2"),
    )
    return staged.select(
        "grp",
        "bucket",
        "value_cents",
        (F.col("_dev2") > F.col("_band2")).alias("is_outlier"),
        F.expr(
            "cast(least((_dev2 * 10000) div greatest(_band2, 1), 1000000) as long)"
        ).alias("excess_bp"),
    )


def cohort_matrix(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    revenue_cents: "F.Column",
) -> DataFrame:
    """Cohort retention/revenue matrix: entities are assigned to the
    calendar month of their FIRST event, and every later event lands in
    (cohort_month, month_offset) — the standard "of the January
    signups, how many were still ordering in April, and for how much"
    triangle. month_offset is exact calendar arithmetic
    ((y₂−y₁)·12 + (m₂−m₁)), never float months_between. Counts and
    cent sums are plain integers.

    Two shuffles: a (entity → first month) aggregate joined back
    (broadcast when the entity dimension is small; at 10^12 scale the
    join is a narrow-key sort-merge on the already-hashed entity id),
    then the (cohort, offset) groupBy — both map-side combinable.
    """
    base = df.select(
        F.col(entity_col).alias("ent"),
        F.year(ts_col).alias("_y"),
        F.month(ts_col).alias("_m"),
        revenue_cents.alias("rc"),
    )
    firsts = base.groupBy("ent").agg(
        F.min(F.col("_y") * 12 + F.col("_m") - 1).alias("c0")
    )
    joined = base.join(firsts, "ent").select(
        "ent",
        "rc",
        F.col("c0"),
        (F.col("_y") * 12 + F.col("_m") - 1 - F.col("c0")).alias("month_offset"),
    )
    return (
        joined.groupBy("c0", "month_offset")
        .agg(
            F.countDistinct("ent").cast("long").alias("n_active"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("rc").cast("long").alias("revenue_cents"),
        )
        .select(
            F.format_string(
                "%04d-%02d",
                F.expr("cast(c0 div 12 as int)"),
                F.expr("cast(c0 % 12 + 1 as int)"),
            ).alias("cohort_month"),
            F.col("month_offset").cast("long").alias("month_offset"),
            "n_active",
            "n_events",
            "revenue_cents",
        )
    )


def cusum_changepoint(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_cents: "F.Column",
) -> DataFrame:
    """Exact CUSUM changepoint LOCALIZATION per group: where did the
    level of the per-bucket series shift? (drift_chi2 answers "did the
    distribution drift"; this answers "at which bucket"). The series is
    densified (a missing bucket is a zero), and the classic CUSUM
    statistic C_t = Σ_{i≤t}(x_i − μ) is carried scaled by n so it stays
    integer: n·C_t = n·P_t − t·S with P_t the prefix sum and S the
    total. The changepoint estimate is the argmax of |n·C_t| over
    t = 1..n−1 (C_n ≡ 0 is excluded; ties break to the EARLIEST bucket
    — a deterministic order statistic, not a float argmax). pre/post
    sums are reported so the caller reads the magnitude of the shift in
    plain cents.

    One narrow (group, bucket) aggregate, a tiny dense calendar frame,
    one prefix-sum window and one row_number selection per group.
    """
    per = (
        df.select(
            F.col(group_col).alias("grp"),
            F.date_trunc("day", F.col(ts_col)).alias("b"),
            value_cents.alias("xc"),
        )
        .groupBy("grp", "b")
        .agg(F.sum("xc").cast("long").alias("x"))
    )
    bounds = per.groupBy("grp").agg(
        F.min("b").alias("mn"), F.max("b").alias("mx"), F.sum("x").alias("s")
    )
    step = "interval 1 day"
    dense = (
        bounds.select(
            "grp",
            "s",
            F.explode(F.expr(f"sequence(mn, mx, {step})")).alias("b"),
        )
        .join(per, ["grp", "b"], "left")
        .select("grp", "b", "s", F.coalesce("x", F.lit(0)).alias("x"))
    )
    wo = Window.partitionBy("grp").orderBy(F.asc("b"))
    wall = Window.partitionBy("grp")
    scored = (
        dense.withColumn("t", F.row_number().over(wo))
        .withColumn("p", F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", F.count(F.lit(1)).over(wall))
        .filter(F.col("t") < F.col("n"))
        .withColumn(
            "c",
            F.abs(
                F.col("n").cast(_D38) * F.col("p").cast(_D38)
                - F.col("t").cast(_D38) * F.col("s").cast(_D38)
            ),
        )
    )
    pick = Window.partitionBy("grp").orderBy(F.desc("c"), F.asc("b"))
    return (
        scored.withColumn("_rk", F.row_number().over(pick))
        .filter(F.col("_rk") == 1)
        .select(
            "grp",
            F.col("n").cast("long").alias("n_buckets"),
            F.col("t").cast("long").alias("cp_index"),
            F.col("b").alias("cp_bucket"),
            F.col("c").cast("long").alias("cusum_scaled"),
            F.col("p").cast("long").alias("pre_cents"),
            (F.col("s") - F.col("p")).cast("long").alias("post_cents"),
        )
    )


def interarrival_profile(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """Purchase/event cadence audit: the gaps (in whole days) between
    an entity's consecutive events, profiled per group with EXACT order
    statistics — n_gaps, lower median, lower p90 (rank
    (9·n + 9) div 10), and max. Gap ordering ties break on
    (entity, ts, id) so the selected row is the same on every engine —
    the mad_profile selection discipline, applied to the lag-diff
    stream instead of the raw values.

    Two windows: a per-entity lag over (ts, id) to form gaps, then a
    per-group rank over (gap, entity, id) for the order statistics;
    all narrow columns.
    """
    we = Window.partitionBy("ent").orderBy(F.asc("_ts"), F.asc("_id"))
    gaps = (
        df.select(
            F.col(entity_col).alias("ent"),
            F.col(ts_col).alias("_ts"),
            F.col(id_col).alias("_id"),
            F.col(group_col).alias("grp"),
        )
        .withColumn("_prev", F.lag("_ts").over(we))
        .filter(F.col("_prev").isNotNull())
        .select(
            "grp",
            "ent",
            "_id",
            F.datediff(F.col("_ts"), F.col("_prev")).cast("long").alias("gap_days"),
        )
    )
    wr = Window.partitionBy("grp").orderBy(
        F.asc("gap_days"), F.asc("ent"), F.asc("_id")
    )
    ranked = gaps.withColumn("_rn", F.row_number().over(wr)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("grp"))
    )
    return (
        ranked.filter(
            (F.col("_rn") == F.expr("(_n + 1) div 2"))
            | (F.col("_rn") == F.expr("(9 * _n + 9) div 10"))
            | (F.col("_rn") == F.col("_n"))
        )
        .groupBy("grp")
        .agg(
            F.max("_n").cast("long").alias("n_gaps"),
            F.max(
                F.when(F.col("_rn") == F.expr("(_n + 1) div 2"), F.col("gap_days"))
            ).cast("long").alias("median_gap_days"),
            F.max(
                F.when(F.col("_rn") == F.expr("(9 * _n + 9) div 10"), F.col("gap_days"))
            ).cast("long").alias("p90_gap_days"),
            F.max(
                F.when(F.col("_rn") == F.col("_n"), F.col("gap_days"))
            ).cast("long").alias("max_gap_days"),
        )
    )


def isqrt_expr(x: "F.Column") -> "F.Column":
    """Exact integer square root of a non-negative decimal(38,0)
    column at ANY decimal38 magnitude, engine-stable. Two traps shaped
    this implementation (both caught by the 10³⁶-10³⁸ pytest sweep):
    (1) the float seed's absolute error reaches hundreds of units at
    10³⁷ (relative 2⁻⁵²), so the first design's fixed ±2 pin was wrong
    above ~10³² — two Newton steps r ← (r + x/r)/2 in decimal
    arithmetic (any division rounding is fine; quadratic convergence
    lands within a couple of units) repair the seed before an eight-
    comparison exact pin; (2) ``floor(double)`` returns a LONG, which
    SATURATES at 2⁶³ ≈ 9.22·10¹⁸ — above x ≈ 8.5·10³⁷ the floored
    seed was silently clamped 7 % low, so the seed casts the double
    straight to decimal instead. Pin candidates above 10¹⁹−1 (the
    decimal38 root ceiling) are filtered out before the c² product can
    overflow. The pin runs in pure integer arithmetic, so two engines
    whose float sqrt or division rounding differ still agree on the
    final value.

    A third trap shaped the current FORM (round 5): the original
    build-out unrolled the Newton steps and the pin as one nested
    column expression — the repair value appeared ~30× and each copy
    inlined its own copy of the argument, so at call sites where the
    expression fused into a join-consume method (item_cosine,
    mann_kendall) janino hit its 64 KB method limit and Spark silently
    fell back to interpreting the WHOLE stage. The higher-order-
    function form below gives real let-bindings: ``aggregate`` iterates
    Newton with the repair value bound once as the accumulator, and the
    pin is one ``filter``+``array_max`` over an 11-candidate window
    with the candidate lambda-bound — the expression tree stays
    constant-sized, whole-stage codegen survives (HOFs are expression-
    level fallbacks, not stage-level), and the 10³⁶–10³⁸ pytest sweep
    pins value identity with the unrolled original.
    """
    # 10^19-1 exceeds int64, so the literal rides in as a string
    lim = F.lit(str(10**19 - 1)).cast(_D38)
    r0 = F.greatest(F.sqrt(x.cast("double")).cast(_D38), F.lit(1).cast(_D38))
    # two Newton steps (quadratic convergence repairs the float seed's
    # hundreds-of-units error at 10^37); any division rounding is fine —
    # the exact pin below decides
    r2 = F.aggregate(
        F.sequence(F.lit(1), F.lit(2)),
        r0,
        lambda acc, _: F.least(((acc + x / acc) / 2).cast(_D38), lim),
    )
    # exact pin: the true root lies within ±5 of the repaired seed; take
    # the largest candidate whose square does not exceed x (candidates
    # above the decimal38 root ceiling are filtered before squaring)
    cands = F.array(*[r2 + F.lit(k).cast(_D38) for k in range(-5, 6)])
    ok = F.filter(cands, lambda c: (c >= 0) & (c <= lim) & (c * c <= x))
    return F.array_max(ok)


def spearman_rho_grid(
    df: DataFrame,
    x_col: "F.Column",
    y_col: "F.Column",
) -> DataFrame:
    """Spearman rank correlation over a DISCRETE value grid with exact
    tie handling: rows collapse to per-value cells (the
    kendall_tau_grid discipline), average ranks are carried DOUBLED so
    ties stay integer (r2(v) = 2·cnt_below + cnt_v + 1), and Pearson on
    the doubled ranks uses the closed form Σw·r2 = n(n+1) for both
    margins, leaving three exact sums: cov_num = n·Σw·r2x·r2y − T²,
    var_num = n·Σw·r2² − T². The only irrational step — √(vx·vy) —
    is carried as isqrt(vx)·isqrt(vy), each factor an EXACT integer
    root via ``isqrt_expr``: forming vx·vy directly overflows
    decimal38/HUGEINT at ~75 000 rows (vx ≈ n⁴/3 — the first shipped
    design did exactly that and was rejected in review), while the
    per-factor roots hold to n ≈ 4·10⁹ rows. The product
    UNDERESTIMATES the true denominator by < (g+h+1)/(g·h) relative
    (~10⁻⁹ at n = 10⁵), deterministically on every engine, so rho_bp
    is clamped to [−10000, 10000] — perfect monotone data scores
    exactly ±10000 and interior values match the true floor except
    within that 10⁻⁹ band (deterministic either way).

    Shape: one narrow groupBy to the grid, one window per margin for
    cnt_below (over the ≤ few-thousand-cell grid), a grid-sized join,
    and a 1-row aggregate.
    """
    cells = (
        df.select(x_col.cast("long").alias("x"), y_col.cast("long").alias("y"))
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    mx = cells.groupBy("x").agg(F.sum("w").alias("cx"))
    my = cells.groupBy("y").agg(F.sum("w").alias("cy"))
    wx = Window.orderBy(F.asc("x")).rowsBetween(Window.unboundedPreceding, -1)
    wy = Window.orderBy(F.asc("y")).rowsBetween(Window.unboundedPreceding, -1)
    rx = mx.select(
        "x",
        (
            F.lit(2) * F.coalesce(F.sum("cx").over(wx), F.lit(0)) + F.col("cx") + 1
        ).cast(_D38).alias("r2x"),
    )
    ry = my.select(
        "y",
        (
            F.lit(2) * F.coalesce(F.sum("cy").over(wy), F.lit(0)) + F.col("cy") + 1
        ).cast(_D38).alias("r2y"),
    )
    j = cells.join(F.broadcast(rx), "x").join(F.broadcast(ry), "y")
    agg = j.agg(
        F.sum("w").cast(_D38).alias("n"),
        F.sum(F.col("w").cast(_D38) * F.col("r2x") * F.col("r2y")).alias("sxy"),
        F.sum(F.col("w").cast(_D38) * F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("w").cast(_D38) * F.col("r2y") * F.col("r2y")).alias("syy"),
    )
    t2 = (F.col("n") * (F.col("n") + 1)) * (F.col("n") * (F.col("n") + 1))
    mid = agg.select(
        "n",
        (F.col("n") * F.col("sxy") - t2).alias("cov"),
        (F.col("n") * F.col("sxx") - t2).alias("vx"),
        (F.col("n") * F.col("syy") - t2).alias("vy"),
    ).withColumn("den", isqrt_expr(F.col("vx")) * isqrt_expr(F.col("vy")))
    # only bounded columns come out: the raw cov/var numerators grow
    # like n^4 (past int64 at ~10^5 rows), so they stay decimal38
    # internals; rho_bp is in [-10000, 10000] by construction.
    return mid.select(
        F.col("n").cast("long").alias("n_rows"),
        F.expr(
            "cast(case when den <= 0 then null else"
            " (case when cov < 0 then -1 else 1 end)"
            " * least((abs(cov) * 10000) div den, 10000) end as long)"
        ).alias("rho_bp"),
    )


def seasonal_residual_anomalies(
    df: DataFrame,
    ts_col: str,
    top_k: int = 20,
) -> DataFrame:
    """Two-way additive seasonal decomposition of the (date × hour-of-
    day) event-count grid with EXACT scaled residuals — "this hour on
    this day was anomalous even after accounting for the daily cycle
    and the per-day level". The grid is densified (every date in range
    × all 24 hours; a missing cell is a zero), and the residual
    r = x − rowmean(date) − colmean(hour) + grandmean is carried
    multiplied by R·C (R dates, C = 24 hours) so it stays integer:
    r_scaled = R·C·x − C·S_date − R·S_hour + T. Global z-scoring flags
    busy hours; THIS flags hours that break the weekly texture (a 3 am
    spike on a quiet day) — the additive-model audit.

    Returns the ``top_k`` cells by |r_scaled| (ties broken (date,
    hour) ascending — a deterministic order statistic). Shape: one
    narrow (date, hour) aggregate, the tiny dense calendar grid, two
    marginal joins and one top-k window over ≤ R·24 rows.
    """
    cells = (
        df.select(
            F.to_date(ts_col).alias("d"),
            F.hour(ts_col).alias("h"),
        )
        .groupBy("d", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    bounds = cells.agg(
        F.min("d").alias("mn"), F.max("d").alias("mx"), F.sum("x").alias("t")
    )
    dense = (
        bounds.select(
            "t",
            F.explode(F.expr("sequence(mn, mx, interval 1 day)")).alias("d"),
            (F.datediff("mx", "mn") + 1).cast("long").alias("r"),
        )
        .select("t", "r", "d", F.explode(F.expr("sequence(0, 23)")).alias("h"))
        .join(cells, ["d", "h"], "left")
        .select("t", "r", "d", "h", F.coalesce("x", F.lit(0)).alias("x"))
    )
    sd = dense.groupBy("d").agg(F.sum("x").alias("s_date"))
    sh = dense.groupBy("h").agg(F.sum("x").alias("s_hour"))
    scored = (
        dense.join(F.broadcast(sd), "d")
        .join(F.broadcast(sh), "h")
        .withColumn(
            "resid_scaled",
            (
                F.col("r").cast(_D38) * 24 * F.col("x").cast(_D38)
                - F.lit(24).cast(_D38) * F.col("s_date").cast(_D38)
                - F.col("r").cast(_D38) * F.col("s_hour").cast(_D38)
                + F.col("t").cast(_D38)
            ).cast("long"),
        )
    )
    w = Window.orderBy(F.abs(F.col("resid_scaled")).desc(), F.asc("d"), F.asc("h"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("d").alias("date"),
            F.col("h").cast("long").alias("hour"),
            F.col("x").alias("n_events"),
            "resid_scaled",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def gini_best_split(df: DataFrame, feature: "F.Column", label: "F.Column") -> DataFrame:
    """Exact decision-stump split search: for every candidate threshold
    t on a LOW-CARDINALITY integer feature, the weighted Gini impurity
    of the binary split (feature ≤ t vs > t) against a boolean label —
    the CART/XGBoost inner loop as an auditable, engine-reproducible
    query. The weighted Gini cost

        cost(t) = n_L·gini_L + n_R·gini_R,   gini = 1 − p₁² − p₀²

    is carried as the SCALED TRUNCATED integer
    ``scale·(n² − pos² − neg²) div n`` summed over the two sides (each
    side floored independently, fixed order — deterministic on any
    engine). Since (n² − pos² − neg²)/n ≤ n, the emitted cost is
    bounded by n_total·scale and fits BIGINT up to ~9·10^12 rows at
    the default scale; intermediates ride DECIMAL(38,0).

    Output: one row per candidate threshold (the max feature value is
    excluded — its right side is empty) with the side counts, the
    scaled cost, and rk = 1 marking the best split (cost asc, threshold
    asc tie-break).

    Scale shape: rows collapse to the per-value grid first (one
    map-side-combinable groupBy, |distinct values| rows), then
    cumulative sums ride a window over the AGGREGATED grid — the
    bounded SinglePartition pattern of kendall_tau_grid/equi-depth; the
    fact table shuffles once, on the grid key.
    """
    scale = 1_000_000
    grid = (
        df.select(
            feature.cast("long").alias("v"),
            F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("y"),
        )
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).cast(_D38).alias("n"),
            F.sum("y").cast(_D38).alias("pos"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = grid.select(
        F.col("v").alias("threshold"),
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("pl"),
        F.sum("n").over(full).alias("nt"),
        F.sum("pos").over(full).alias("pt"),
    ).filter(F.col("nl") < F.col("nt"))
    cost = F.expr(
        f"(cast({scale} as {_D38}) * (nl * nl - pl * pl - (nl - pl) * (nl - pl))) div nl"
        f" + (cast({scale} as {_D38}) * ((nt - nl) * (nt - nl) - (pt - pl) * (pt - pl)"
        f"   - ((nt - nl) - (pt - pl)) * ((nt - nl) - (pt - pl)))) div (nt - nl)"
    )
    k = c.select(
        "threshold",
        F.col("nl").cast("long").alias("n_left"),
        F.col("pl").cast("long").alias("pos_left"),
        (F.col("nt") - F.col("nl")).cast("long").alias("n_right"),
        (F.col("pt") - F.col("pl")).cast("long").alias("pos_right"),
        cost.cast("long").alias("cost_scaled"),
    )
    rk = Window.orderBy(F.asc("cost_scaled"), F.asc("threshold"))
    return k.withColumn("rk", F.row_number().over(rk).cast("long"))


def theil_sen_by_group(
    df: DataFrame,
    group_col: "F.Column",
    ts_col: "F.Column",
    value_cents: "F.Column",
) -> DataFrame:
    """Theil-Sen robust trend per group: the MEDIAN of all pairwise
    slopes of the per-day total series — the estimator that shrugs off
    the outlier days that drag an OLS slope (ols_slope_by_group is the
    fragile sibling; this is the 29%-breakdown one). Each pairwise
    slope is the engine-stable truncated integer

        slope_bp = sign(Δvalue) · (10000·|Δvalue| div Δdays)

    (sign factored out — DuckDB // floors, Java div truncates; the
    median is then the LOWER order statistic over integer slopes, the
    mad_profile selection discipline, so every emitted cell is exact).
    Days without observations simply contribute no point (a gap is not
    a zero); groups with fewer than two observed days emit no row.

    Scale shape: rows collapse to the per-(group, day) aggregate first
    — pair enumeration is over the AGGREGATED daily grid (d days →
    d(d−1)/2 pairs per group, independent of the row count), the
    kendall_tau_grid discipline; the join on the group key is a hash
    join with the i<j residual, never a Cartesian.
    """
    per = (
        df.select(
            group_col.alias("grp"),
            F.datediff(ts_col.cast("date"), F.lit("1970-01-01").cast("date")).alias("t"),
            value_cents.cast("long").alias("x"),
        )
        .groupBy("grp", "t")
        .agg(F.sum("x").cast("long").alias("x"))
    )
    a, b = per.alias("pa"), per.alias("pb")
    dy = F.col("pb.x") - F.col("pa.x")
    dt = F.col("pb.t") - F.col("pa.t")
    sign = F.when(dy < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    pairs = a.join(
        b, (F.col("pa.grp") == F.col("pb.grp")) & (F.col("pa.t") < F.col("pb.t"))
    ).select(
        F.col("pa.grp").alias("grp"),
        (sign * F.expr("(abs(pb.x - pa.x) * cast(10000 as bigint)) div (pb.t - pa.t)"))
        .cast("long")
        .alias("slope_bp"),
    )
    days = per.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    w = Window.partitionBy("grp").orderBy(F.asc("slope_bp"))
    full = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pairs.select(
        "grp",
        "slope_bp",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(full).alias("_m"),
        F.min("slope_bp").over(full).alias("slope_bp_min"),
        F.max("slope_bp").over(full).alias("slope_bp_max"),
    )
    med = ranked.filter(
        F.col("_rn") == F.expr("(_m + 1) div 2")
    ).select(
        "grp",
        F.col("_m").cast("long").alias("n_pairs"),
        F.col("slope_bp").alias("slope_bp_med"),
        "slope_bp_min",
        "slope_bp_max",
    )
    return med.join(days, "grp").select(
        "grp", "n_days", "n_pairs", "slope_bp_med", "slope_bp_min", "slope_bp_max"
    )


_BENFORD_X10000 = [3010, 1761, 1249, 969, 792, 669, 580, 512, 458]


def benford_audit(df: DataFrame, value_cents) -> DataFrame:
    """First-significant-digit audit against Benford's law: per digit 1-9
    the observed count, the observed share in exact basis-points-of-10000,
    the Benford expectation (log10(1+1/d) as the standard published x10000
    integer constants — no runtime logarithm), and the signed deviation.
    The classic fabricated-data / unit-mixing screen for monetary columns:
    genuine multiplicative amounts lean on 1 and 2, uniform or invented
    ones do not.

    Non-positive values carry no leading significant digit and are
    excluded (their count is visible as sum(n_obs) vs the table count).
    One map-side-combinable groupBy over a 9-value key + a 1-row
    broadcast; pure integer arithmetic end to end."""
    obs = (
        df.select(value_cents.cast("long").alias("_v"))
        .filter(F.col("_v") > 0)
        .select(F.substring(F.col("_v").cast("string"), 1, 1).cast("long").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    total = obs.agg(F.sum("n_obs").alias("_n"))
    exp = F.element_at(
        F.array(*[F.lit(v).cast("long") for v in _BENFORD_X10000]), F.col("digit").cast("int")
    )
    return (
        obs.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            F.expr("CAST(10000 * n_obs div _n AS BIGINT)").alias("obs_x10000"),
            exp.alias("exp_x10000"),
            (
                F.expr("CAST(10000 * n_obs div _n AS BIGINT)") - exp
            ).cast("long").alias("dev_x10000"),
        )
    )


def bowley_skew_by_group(
    df: DataFrame, group_col, value_col, id_col
) -> DataFrame:
    """Bowley (quartile) skewness per group in exact scaled integers:
    (grp, n, q1, q2, q3, bowley_x10000) with
    bowley_x10000 = 10000 * (q1 + q3 - 2*q2) / (q3 - q1), sign-factored
    truncated division so every engine floors the same way; NULL when the
    interquartile range is zero (the statistic is undefined, not 0).
    The robust asymmetry screen that, unlike a moment skew, needs no
    square root and shrugs at outliers — reads next to the mad/trimmed
    family.

    Quartiles are the exact lower order statistics at ranks
    (n-1)*p div 100 + 1 under (value, id) order — the engine-pinned
    selection convention of the length-quantiles family. One ranking
    window per group over narrow columns, then a single conditional-max
    aggregate."""
    base = df.select(
        F.col(group_col).alias("grp") if isinstance(group_col, str) else group_col.alias("grp"),
        (F.col(value_col) if isinstance(value_col, str) else value_col).cast("long").alias("v"),
        (F.col(id_col) if isinstance(id_col, str) else id_col).alias("_id"),
    )
    w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("_id"))
    ranked = base.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("grp"))
    )
    picks = ranked.groupBy("grp").agg(
        F.max("_n").cast("long").alias("n"),
        *[
            F.max(
                F.when(
                    F.col("_rn") == F.expr(f"((_n - 1) * {p}) div 100 + 1"),
                    F.col("v"),
                )
            ).alias(name)
            for p, name in ((25, "q1"), (50, "q2"), (75, "q3"))
        ],
    )
    num = F.col("q1") + F.col("q3") - 2 * F.col("q2")
    den = F.col("q3") - F.col("q1")
    bowley = F.when(
        den > 0,
        F.when(num < 0, F.lit(-1)).otherwise(F.lit(1))
        * F.expr("CAST(10000 * abs(q1 + q3 - 2 * q2) div (q3 - q1) AS BIGINT)"),
    ).cast("long")
    return picks.select("grp", "n", "q1", "q2", "q3", bowley.alias("bowley_x10000"))


def join_cardinality_estimate(
    a: DataFrame, b: DataFrame, key_a: str, key_b: str, n_buckets: int = 16
) -> DataFrame:
    """Optimizer observability: the TEXTBOOK equi-join cardinality
    estimate — per key-hash bucket, est = n_a * n_b div max(d_a, d_b)
    (uniform-frequency assumption over the bucket's distinct keys) —
    next to the EXACT join size (sum of per-key count products, computed
    from two count tables, never by materializing the join), and the
    signed error in basis points. This is the arithmetic a cost-based
    planner runs on catalog histograms; surfacing it as a query makes
    mis-estimation auditable: a bucket whose err_bp explodes is exactly
    where a skewed key is hiding from uniform-assumption planning.

    Buckets are ``key % n_buckets`` (pmod, engine-portable on integral
    keys) — deterministic, no sampled boundaries. Scale shape: each side
    collapses to a per-key count table first (map-side combinable), so
    the "exact" arm is a narrow-key equi-join of two aggregates; nothing
    ever fans out to join-result size."""
    ka = (
        a.select(F.col(key_a).cast("long").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn("bucket", F.pmod(F.col("k"), F.lit(n_buckets)).cast("long"))
    )
    kb = (
        b.select(F.col(key_b).cast("long").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn("bucket", F.pmod(F.col("k"), F.lit(n_buckets)).cast("long"))
    )
    side_a = ka.groupBy("bucket").agg(
        F.sum("c").cast("long").alias("n_a"),
        F.count(F.lit(1)).cast("long").alias("d_a"),
    )
    side_b = kb.groupBy("bucket").agg(
        F.sum("c").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("d_b"),
    )
    exact = (
        ka.select("bucket", "k", F.col("c").alias("c_a"))
        .join(kb.select("k", F.col("c").alias("c_b")), "k")
        .groupBy("bucket")
        .agg(F.sum(F.col("c_a") * F.col("c_b")).cast("long").alias("exact_rows"))
    )
    est = F.expr("CAST(n_a * n_b div greatest(d_a, d_b) AS BIGINT)")
    err = F.expr(
        "CAST(CASE WHEN exact_rows > 0 THEN"
        " (CASE WHEN n_a * n_b div greatest(d_a, d_b) - exact_rows < 0"
        "       THEN -1 ELSE 1 END)"
        " * (10000 * abs(n_a * n_b div greatest(d_a, d_b) - exact_rows)"
        "    div exact_rows) END AS BIGINT)"
    )
    return (
        side_a.join(side_b, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("d_a", F.lit(0)).cast("long").alias("d_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
            F.coalesce("d_b", F.lit(0)).cast("long").alias("d_b"),
        )
        .join(exact, "bucket", "left")
        .select(
            "bucket", "n_a", "d_a", "n_b", "d_b",
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0), est
            ).otherwise(F.lit(0)).cast("long").alias("est_rows"),
            F.coalesce("exact_rows", F.lit(0)).cast("long").alias("exact_rows"),
            err.alias("err_bp"),
        )
    )


def analyze_table_stats(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """The ANALYZE TABLE statistics collector as a query: per column one
    row (column, n_rows, n_nulls, n_distinct, avg_len_x100) — exact NDV,
    null count, and the average rendered width (length of the value cast
    to string, x100 truncated) that a cost-based planner keys row-size
    and selectivity estimates on. Read next to
    ``join_cardinality_estimate``: these are the catalog numbers its
    bucket histogram refines.

    Scale shape: ONE aggregate pass computes every column's counters
    side by side (count_distinct per column inside a single groupBy-less
    agg — Spark expands to one partial+final pass with distinct
    aggregates); the per-column rows come from exploding a literal
    struct array, not a second scan. Exact NDV is a deliberate choice
    over HLL here (the sketch family already provides the approximate
    path); at extreme cardinality swap in hll_registers per column."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"_nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"_nd_{c}"))
        aggs.append(
            F.sum(F.length(F.col(c).cast("string"))).cast("long").alias(f"_sl_{c}")
        )
    one = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows"),
            F.col(f"_nn_{c}").alias("n_nulls"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            F.expr(
                f"CAST(CASE WHEN n_rows - _nn_{c} > 0 THEN"
                f" 100 * _sl_{c} div (n_rows - _nn_{c}) END AS BIGINT)"
            ).alias("avg_len_x100"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*structs)).alias("s")).select(
        "s.col_name", "s.n_rows", "s.n_nulls", "s.n_distinct", "s.avg_len_x100"
    )


def decile_lift(
    df: DataFrame, entity_col: str, value_cents, n_tiles: int = 10
) -> DataFrame:
    """Cumulative-lift table — the marketing/prioritization chart "the
    top 10% of customers carry X% of revenue" in exact integers: entities
    ranked by total cents (desc, entity asc for engine-stable ties),
    tile = (rank-1)*n div N + 1, and per tile the entity count, revenue,
    share_bp, cumulative share_bp, and lift_x10000 = cumulative share
    over the uniform expectation (tile/n). lift at tile 1 is the
    concentration headline; lift at tile n is exactly 10000 by
    construction (a built-in self-check the oracle re-proves).

    Scale shape: rows collapse to one row per entity first (map-side
    combinable); the rank rides a window over the (entity, cents)
    aggregate — swap for the range-partitioned prefix pattern at extreme
    entity counts; the tile table is n rows."""
    per = df.groupBy(F.col(entity_col).alias("ent")).agg(
        F.sum(value_cents).cast("long").alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), F.asc("ent"))
    ranked = per.withColumn("rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    tiles = (
        ranked.withColumn(
            "tile", F.expr(f"(rn - 1) * {n_tiles} div _n + 1").cast("long")
        )
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )
    tot = tiles.agg(F.sum("revenue_cents").alias("_tot"))
    wcum = Window.orderBy("tile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tiles.crossJoin(F.broadcast(tot))
        .withColumn("share_bp", F.expr("CAST(10000 * revenue_cents div _tot AS BIGINT)"))
        .withColumn(
            "_cum", F.sum("revenue_cents").over(wcum).cast("long")
        )
        .select(
            "tile",
            "n_entities",
            "revenue_cents",
            "share_bp",
            F.expr("CAST(10000 * _cum div _tot AS BIGINT)").alias("cum_share_bp"),
            F.expr(
                f"CAST((10000 * _cum div _tot) * {n_tiles} div tile AS BIGINT)"
            ).alias("lift_x10000"),
        )
    )


def best_run_by_group(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_cents: "F.Column",
) -> DataFrame:
    """Maximum-subarray ("hot streak") per group, exactly, as window
    algebra: the consecutive-day span whose summed deviation from the
    group's mean daily value is maximal. Kadane's scan is sequential;
    the distributed identity is best(t) = P_t − min(P_0..P_{t−1}) with
    P the prefix sum and P_0 = 0 — one cumulative-min window instead of
    a loop. Deviations are carried scaled by n (dev = n·x − S, the CUSUM
    trick) so the mean subtraction stays integer; the reported
    best_sum_scaled is in n·cents units.

    Series are densified (a missing day is a zero-revenue day —
    deviation −S·n/n, i.e. below mean, so dead gaps correctly break
    streaks). Ties: earliest end day, then earliest start day — exact
    order statistics. Output: (grp, n_days, start_day, end_day,
    run_len, best_sum_scaled).

    Shape: one narrow (grp, day) aggregate, a dense calendar frame, two
    windows (prefix sum + preceding-min), one row_number pick, and one
    narrow self-join of the daily grid to recover the run's start (the
    earliest prefix row hitting P_end − best)."""
    per = (
        df.select(
            F.col(group_col).alias("grp"),
            F.to_date(F.col(ts_col)).alias("d"),
            value_cents.alias("xc"),
        )
        .groupBy("grp", "d")
        .agg(F.sum("xc").cast("long").alias("x"))
    )
    bounds = per.groupBy("grp").agg(
        F.min("d").alias("mn"), F.max("d").alias("mx"), F.sum("x").alias("s")
    )
    dense = (
        bounds.select(
            "grp",
            "s",
            F.explode(F.expr("sequence(mn, mx, interval 1 day)")).alias("d"),
        )
        .join(per, ["grp", "d"], "left")
        .select("grp", "d", "s", F.coalesce("x", F.lit(0)).alias("x"))
    )
    wo = Window.partitionBy("grp").orderBy(F.asc("d"))
    wall = Window.partitionBy("grp")
    g = (
        dense.withColumn("n", F.count(F.lit(1)).over(wall))
        .withColumn("dev", F.col("n").cast(_D38) * F.col("x").cast(_D38) - F.col("s").cast(_D38))
        .withColumn("t", F.row_number().over(wo))
        .withColumn("p", F.sum("dev").over(wo.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn(
            "mprev",
            F.least(
                F.lit(0).cast(_D38),
                F.coalesce(
                    F.min("p").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
                    F.lit(0).cast(_D38),
                ),
            ),
        )
        .withColumn("best", F.col("p") - F.col("mprev"))
        .localCheckpoint(eager=True)
    )
    pick = Window.partitionBy("grp").orderBy(F.desc("best"), F.asc("d"))
    ends = (
        g.withColumn("_rk", F.row_number().over(pick))
        .filter(F.col("_rk") == 1)
        .select(
            "grp",
            F.col("n").cast("long").alias("n_days"),
            F.col("d").alias("end_day"),
            F.col("t").alias("_end_t"),
            F.col("best").alias("_best"),
            (F.col("p") - F.col("best")).alias("_target"),
        )
    )
    starts = (
        g.select(
            "grp",
            "t",
            "d",
            F.coalesce(
                F.lag("p").over(wo), F.lit(0).cast(_D38)
            ).alias("_pprev"),
        )
        .join(ends, "grp")
        .filter((F.col("t") <= F.col("_end_t")) & (F.col("_pprev") == F.col("_target")))
        .groupBy("grp")
        .agg(F.min("d").alias("start_day"))
    )
    return (
        ends.join(starts, "grp")
        .select(
            "grp",
            "n_days",
            "start_day",
            "end_day",
            (F.datediff("end_day", "start_day") + 1).cast("long").alias("run_len"),
            F.col("_best").cast("long").alias("best_sum_scaled"),
        )
    )


def _contingency_cells(df: DataFrame, x_col: str, y_col: str):
    """Shared contingency core for the chi-square family: the FULL r×c
    grid (zero cells densified via the level-product of the two tiny
    level-total frames) plus the one-row totals frame. Returns
    (cells[x, y, obs, rt, ct], tot[n, r, c]) — all counts decimal(38,0),
    NULL x/y rows excluded (no category). One narrow groupBy(x, y)
    shuffle over the raw rows; everything after is broadcast-sized."""
    obs = (
        df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast(_D38).alias("obs"))
    )
    rt = obs.groupBy("x").agg(F.sum("obs").cast(_D38).alias("rt"))
    ct = obs.groupBy("y").agg(F.sum("obs").cast(_D38).alias("ct"))
    cells = (
        rt.join(F.broadcast(ct), F.lit(True))
        .join(obs, ["x", "y"], "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0).cast(_D38)))
    )
    tot = obs.agg(
        F.sum("obs").cast(_D38).alias("n"),
        F.countDistinct("x").cast(_D38).alias("r"),
        F.countDistinct("y").cast(_D38).alias("c"),
    )
    return cells, tot


def chi2_independence(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, with Cramér's V effect size — the standard "are these two
    labels associated?" audit a curation pipeline runs over its
    categorical metadata (e.g. order status × priority, lang × split).
    One summary row: n, n_levels_x, n_levels_y, dof, chi2_e6 (the
    statistic ×10⁶, per-cell integer-truncated), cramers_v_bp
    (V = sqrt(chi2 / (n·min(r−1, c−1))) in exact basis points via
    ``isqrt_expr``).

    Exact contract: the full r×c contingency (INCLUDING zero cells —
    a zero cell still contributes exp = rt·ct/n to the statistic) is
    built as a broadcast product of the two tiny level-total frames;
    each cell contributes ``((obs·n − rt·ct)² · 10⁶) div (n·rt·ct)``
    in DECIMAL(38,0) — algebraically (obs−exp)²/exp scaled e6 with
    one truncating division per cell, so any engine reproduces the
    sum bit-for-bit. Magnitude bound: (obs·n)²·10⁶ must fit decimal38
    → n ≤ ~5·10⁹ rows; past that, pre-aggregate counts per category
    pair first (the statistic only needs the contingency, so the
    full-scale job feeds this the grouped counts, not raw rows).

    Scale shape: one narrow groupBy(x,y) shuffle over the raw rows;
    everything after runs on ≤ r·c rows (categorical cardinalities —
    broadcast-sized by definition). The level-product join is an
    intentional tiny-side nested loop, same pattern as the IVF
    centroid assignment (training/similarity.py).

    Reference: no statistics surface in the reference engine (findings
    go to SQLite, dr_source/core/db.py); this is the independence
    audit its findings table (severity × language) needs at lake scale.
    """
    cells, tot = _contingency_cells(df, x_col, y_col)
    terms = cells.join(F.broadcast(tot), F.lit(True)).withColumn(
        "term_e6",
        F.expr(
            "CAST((obs * n - rt * ct) * (obs * n - rt * ct)"
            " * CAST(1000000 AS decimal(38,0)) AS decimal(38,0))"
            " div (n * rt * ct)"
        ).cast(_D38),
    )
    agg = terms.groupBy("n", "r", "c").agg(
        F.sum("term_e6").cast(_D38).alias("chi2_e6")
    )
    k = F.least(F.col("r") - 1, F.col("c") - 1).cast(_D38)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("n_levels_x"),
        F.col("c").cast("long").alias("n_levels_y"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.col("chi2_e6").cast("long").alias("chi2_e6"),
        # nullif: a single-level column makes min(r-1, c-1) = 0 — V is
        # undefined there and must surface as NULL, not an ANSI
        # divide-by-zero
        isqrt_expr(
            F.expr(
                "CAST((chi2_e6 * CAST(100 AS decimal(38,0)))"
                " div nullif(n * least(r - 1, c - 1), 0) AS decimal(38,0))"
            )
        ).cast("long").alias("cramers_v_bp"),
    )


def weighted_median_by_group(
    df: DataFrame,
    group_col: str,
    value_col: "F.Column",
    weight_col: "F.Column",
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value v such
    that the cumulative weight of rows with value ≤ v reaches half the
    group's total weight (2·cumw ≥ W — integer form, no halving
    division). The quantity-weighted price a plain median misrepresents:
    a unit-weight median treats a 1-item and a 50-item line identically.

    Exact contract: weights are summed per (group, value) FIRST so tied
    values accumulate atomically (no intra-tie ordering ambiguity
    between engines), then one sort-window per group over the
    aggregated value grid picks the first row crossing the threshold.
    Weights must be non-negative integers (cast upstream); rows with
    NULL value or NULL/zero weight contribute nothing and are dropped.

    Scale shape: one map-side-combinable groupBy(group, value) over the
    raw rows, then a per-group sort-window over the |distinct values|
    grid (bounded by value cardinality, not row count), then rk=1.
    """
    grid = (
        df.select(
            F.col(group_col).alias("grp"),
            value_col.alias("v"),
            weight_col.cast("long").alias("w"),
        )
        .filter(F.col("v").isNotNull() & (F.col("w") > 0))
        .groupBy("grp", "v")
        .agg(F.sum("w").alias("w"))
    )
    cum = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    hit = grid.select(
        "grp",
        "v",
        F.sum("w").over(cum).alias("_cw"),
        F.sum("w").over(full).alias("_W"),
        F.count(F.lit(1)).over(full).alias("_nv"),
    ).filter(F.col("_cw") * 2 >= F.col("_W"))
    pick = Window.partitionBy("grp").orderBy("v")
    return (
        hit.withColumn("_rk", F.row_number().over(pick))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("grp").alias(group_col),
            F.col("_nv").cast("long").alias("n_values"),
            F.col("_W").cast("long").alias("total_weight"),
            F.col("v").alias("weighted_median"),
        )
    )


def chi2_cell_residuals(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-cell drill-down of ``chi2_independence``: WHICH cells drive
    the association. For every (x, y) of the full contingency (zero
    cells included) the observed count, the expected count ×100
    (``exp_x100 = (rt·ct·100) div n``), and the signed Pearson
    standardized residual ×100:
        resid_x100 = sign(obs·n − rt·ct) · isqrt(((obs·n − rt·ct)²·10⁴)
                                                 div (n·rt·ct))
    — exactly |obs−exp|/√exp scaled, one truncating division per cell,
    engine-bit-exact via the shared isqrt contract. |resid| ≳ 2 flags
    the cell as individually significant; the sign says over- vs
    under-represented. Shares ``_contingency_cells`` with the summary
    statistic so the two can never disagree on the grid.

    Scale shape: identical to chi2_independence — one narrow
    groupBy(x, y) shuffle, then arithmetic on ≤ r·c broadcast-sized
    rows.
    """
    cells, tot = _contingency_cells(df, x_col, y_col)
    t = cells.join(F.broadcast(tot), F.lit(True))
    dev = F.expr("obs * n - rt * ct")
    mag = isqrt_expr(
        F.expr(
            "CAST((obs * n - rt * ct) * (obs * n - rt * ct)"
            " * CAST(10000 AS decimal(38,0)) AS decimal(38,0))"
            " div (n * rt * ct)"
        )
    )
    return t.select(
        "x",
        "y",
        F.col("obs").cast("long").alias("obs"),
        F.expr("CAST((rt * ct * 100) div n AS BIGINT)").alias("exp_x100"),
        (F.signum(dev.cast("double")).cast("long") * mag.cast("long")).alias(
            "resid_x100"
        ),
    )


def mann_kendall_by_group(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_expr: "F.Column",
) -> DataFrame:
    """Exact Mann-Kendall monotonic-trend test per group over the DAILY
    series: S = Σ_{i<j} sign(x_j − x_i) over calendar-day totals ordered
    by day, the tie-corrected variance numerator
    N18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (Var(S) = N18/18), and the
    continuity-corrected z ×100:
        z_x100 = sign(S) · isqrt(((|S|−1)²·18·10⁴) div N18)   (|S| ≥ 1)
    — one truncating division, engine-bit-exact; |z_x100| ≥ 196 is the
    5% two-sided trend flag. The nonparametric "is this drifting?"
    audit: no distribution assumed, outlier-robust (only signs of pair
    differences enter), the standard first look before Theil-Sen's
    slope estimate (its sibling here).

    Exact contract: values are the per-day SUM of ``value_expr``
    (pre-scaled to integer by the caller); ties in the day totals feed
    the variance correction. S and N18 are exact integers; z is NULL
    when n < 2 or N18 = 0 (all days tied) or |S| < 1.

    Scale shape: one map-side-combinable groupBy(group, day) collapses
    raw rows to the calendar grid FIRST; the pair enumeration is a
    self-equi-join on the group key over that grid — bounded by days²
    per group (calendar-bounded: ≤ 366² pairs per group-year), never by
    row count. The raw table never self-joins.
    """
    daily = (
        df.select(
            F.col(group_col).alias("grp"),
            F.to_date(F.col(ts_col)).alias("d"),
            value_expr.alias("_v"),
        )
        .groupBy("grp", "d")
        .agg(F.sum("_v").cast("long").alias("x"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(b, (F.col("a.grp") == F.col("b.grp")) & (F.col("a.d") < F.col("b.d")))
        .groupBy(F.col("a.grp").alias("grp"))
        .agg(
            F.sum(
                F.signum((F.col("b.x") - F.col("a.x")).cast("double")).cast("long")
            ).alias("s_stat")
        )
    )
    nd = daily.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    ties = (
        daily.groupBy("grp", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("grp")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("long").alias("tie_term")
        )
    )
    base = (
        nd.join(ties, "grp")
        .join(s, "grp", "left")
        .withColumn("s_stat", F.coalesce("s_stat", F.lit(0)))
        .withColumn(
            "var18",
            (
                F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
                - F.col("tie_term")
            ).cast("long"),
        )
    )
    # the isqrt argument is materialized as its OWN projection column:
    # isqrt_expr references its input ~30× (Newton steps + the exact
    # pin), and inlining a compound expression that many times inside
    # the final hash-aggregate output blew janino's 64 KB method limit
    # (observed: whole-stage codegen fallback). A non-cheap expression
    # used more than once is not collapsed by CollapseProject, so this
    # split survives optimization and each occurrence compiles to one
    # attribute read.
    abs_s = F.abs(F.col("s_stat"))
    staged = base.select(
        "grp",
        "n_days",
        "s_stat",
        "var18",
        # nullif: var18 = 0 (all day totals tied) must yield NULL, not an
        # ANSI divide-by-zero — the when() guard below masks the OUTPUT
        # but this staged column is evaluated eagerly
        F.expr(
            "CAST((abs(s_stat) - 1) * (abs(s_stat) - 1)"
            " * CAST(180000 AS decimal(38,0)) AS decimal(38,0))"
            " div nullif(var18, 0)"
        ).alias("_zsq"),
    )
    return staged.select(
        F.col("grp").alias(group_col),
        "n_days",
        "s_stat",
        "var18",
        F.when(
            (F.col("var18") > 0) & (abs_s >= 1),
            F.signum(F.col("s_stat").cast("double")).cast("long")
            * isqrt_expr(F.col("_zsq")).cast("long"),
        ).alias("z_x100"),
    )


def simpson_reversal_audit(
    df: DataFrame,
    x_expr: "F.Column",
    y_expr: "F.Column",
    seg_col: str,
) -> DataFrame:
    """Aggregation-reversal (Simpson's paradox) audit: does the SIGN of
    the x-y association flip between the pooled data and any segment?
    The classic trap behind "discounts increase volume overall but
    decrease it in every ship mode" — any pipeline that reports pooled
    correlations should run this census first.

    Exact contract: association sign per segment is the sign of the
    covariance numerator C = n·Σxy − Σx·Σy in decimal(38,0) (inputs are
    caller-scaled integers, so C is exact and needs no denominator —
    signs don't). The pooled sign is computed from the SUMS of the
    per-segment sums (one extra broadcast, no second scan).
    ``sign_flipped`` = segment sign · pooled sign = −1; zero-covariance
    segments (including n < 2) never flag.

    Scale shape: one map-side-combinable groupBy(segment) over the raw
    rows; the pooled re-aggregate and the broadcast join run on the
    segment table (segment cardinality rows).
    """
    per = (
        df.select(
            F.col(seg_col).alias("seg"),
            x_expr.cast(_D38).alias("x"),
            y_expr.cast(_D38).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast(_D38).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    cov = F.expr("n * sxy - sx * sy")
    seg_signed = per.withColumn(
        "cov_sign", F.signum(cov.cast("double")).cast("long")
    )
    pooled = per.agg(
        F.sum("n").alias("pn"),
        F.sum("sx").alias("psx"),
        F.sum("sy").alias("psy"),
        F.sum("sxy").alias("psxy"),
    ).select(
        F.signum(
            F.expr("pn * psxy - psx * psy").cast("double")
        ).cast("long").alias("pooled_sign")
    )
    return (
        seg_signed.join(F.broadcast(pooled), F.lit(True))
        .select(
            F.col("seg").alias(seg_col),
            F.col("n").cast("long").alias("n_rows"),
            "cov_sign",
            "pooled_sign",
            (F.col("cov_sign") * F.col("pooled_sign") == -1).alias("sign_flipped"),
        )
    )


def max_drawdown_by_group(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_expr: "F.Column",
) -> DataFrame:
    """Exact maximum drawdown of the DAILY value series per group: the
    largest peak-to-later-trough fall, with the days it happened — the
    pessimist's twin of ``best_run_by_group`` (Kadane finds the hottest
    span; this finds the worst slide a monitoring page-out would have
    ridden). All integer: the caller pre-scales values; missing calendar
    days simply don't exist in the series (a gap is not a zero-revenue
    day for drawdown semantics — this reads the OBSERVED series).

    Exact contract: daily totals x_d; running peak P_d = max(x_1..x_d);
    drawdown_d = P_d − x_d; the answer is max_d drawdown_d with the
    EARLIEST trough day on ties, and peak_day the EARLIEST day achieving
    P_d at or before the trough. A monotone-nondecreasing series
    reports drawdown 0 with peak_day = trough_day = first day.

    Scale shape: one map-side-combinable groupBy(group, day), then two
    sort-windows per group over the daily grid (calendar-bounded), then
    a 1-row-per-group pick.
    """
    daily = (
        df.select(
            F.col(group_col).alias("grp"),
            F.to_date(F.col(ts_col)).alias("d"),
            value_expr.alias("_v"),
        )
        .groupBy("grp", "d")
        .agg(F.sum("_v").cast("long").alias("x"))
    )
    seq = Window.partitionBy("grp").orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = daily.select(
        "grp", "d", "x", F.max("x").over(seq).alias("peak")
    ).withColumn("dd", F.col("peak") - F.col("x"))
    pick = Window.partitionBy("grp").orderBy(F.desc("dd"), F.asc("d"))
    trough = (
        run.withColumn("_rk", F.row_number().over(pick))
        .filter(F.col("_rk") == 1)
        .select(
            "grp",
            F.col("d").alias("trough_day"),
            F.col("peak").alias("_peak"),
            F.col("dd").alias("drawdown"),
        )
    )
    # earliest day achieving the peak value at or before the trough
    peak_pick = (
        run.join(trough, "grp")
        .filter((F.col("x") == F.col("_peak")) & (F.col("d") <= F.col("trough_day")))
        .groupBy("grp", "trough_day", "drawdown")
        .agg(F.min("d").alias("peak_day"))
    )
    n_days = daily.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        n_days.join(peak_pick, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_days",
            "peak_day",
            "trough_day",
            F.col("drawdown").cast("long").alias("drawdown"),
        )
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: "F.Column",
    group_a,
    group_b,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the value
    distributions of two groups: D = max over the pooled value grid of
    |F_a(v) − F_b(v)|, reported WITHOUT floats as
    ``d_bp = (max |c_a·n_b − c_b·n_a|) · 10⁴ div (n_a·n_b)`` — the
    shape-sensitive complement of Mann-Whitney (which only sees rank
    shifts): a variance or tail change moves D even when medians agree.

    Exact contract: counts are pre-aggregated per (group, value), the
    pooled distinct-value grid carries BOTH cumulative counts (a value
    absent from one group still advances the other's CDF — the left
    join + running sum handles it), and ties resolve identically in any
    engine because the grid is the distinct-value set. Also reports
    d_at (the smallest value achieving the max, for the "where do the
    distributions split?" read).

    Scale shape: one groupBy(group, value) over the raw rows, then one
    sort-window over the |distinct values| grid, then a 1-row pick. The
    int64 product c·n holds to ~3·10⁹ rows per side; past that cast the
    counts to decimal(38,0).
    """
    vals = (
        df.select(F.col(group_col).alias("g"), value_col.alias("v"))
        .filter(F.col("v").isNotNull() & F.col("g").isin([group_a, group_b]))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grid = (
        vals.groupBy("v")
        .pivot("g", [group_a, group_b])
        .sum("c")
        .select(
            "v",
            F.coalesce(F.col(f"`{group_a}`"), F.lit(0)).alias("ca"),
            F.coalesce(F.col(f"`{group_b}`"), F.lit(0)).alias("cb"),
        )
    )
    cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scored = grid.select(
        "v",
        F.sum("ca").over(cum).alias("fa"),
        F.sum("cb").over(cum).alias("fb"),
        F.sum("ca").over(full).alias("na"),
        F.sum("cb").over(full).alias("nb"),
    ).withColumn("gap", F.abs(F.col("fa") * F.col("nb") - F.col("fb") * F.col("na")))
    pick = Window.orderBy(F.desc("gap"), F.asc("v"))
    return (
        scored.withColumn("_rk", F.row_number().over(pick))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.col("v").alias("d_at"),
            F.expr("CAST(gap * 10000 div (na * nb) AS BIGINT)").alias("d_bp"),
        )
    )


def hhi_by_group(
    df: DataFrame,
    group_col: str,
    member_col: str,
    weight_expr: "F.Column",
) -> DataFrame:
    """Herfindahl-Hirschman concentration index per group, exact:
    HHI = Σ_members share² with share = member weight / group total,
    reported as ``hhi_bp = (Σ w_i²) · 10⁴ div W²`` — one truncating
    division per GROUP (the member squares sum exactly in
    decimal(38,0)). 10⁴ bp = monopoly; n equal members → 10⁴/n. The
    antitrust-style "is this nation's supply concentrated in one
    supplier?" audit; Simpson diversity is the same statistic read
    upside-down over counts — this one takes arbitrary non-negative
    weights (revenue, capacity).

    Scale shape: one map-side-combinable groupBy(group, member), then a
    per-group sum — two narrow aggregates, no windows, no joins.
    """
    per = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(member_col).alias("m"),
            weight_expr.cast(_D38).alias("w"),
        )
        .filter(F.col("w").isNotNull() & (F.col("w") > 0))
        .groupBy("grp", "m")
        .agg(F.sum("w").alias("w"))
    )
    return (
        per.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("w").alias("_W"),
            F.sum(F.col("w") * F.col("w")).alias("_s2"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_members",
            F.col("_W").cast("long").alias("total_weight"),
            F.expr(
                "CAST(_s2 * CAST(10000 AS decimal(38,0)) div (_W * _W) AS BIGINT)"
            ).alias("hhi_bp"),
        )
    )


def exact_quantiles_bisect(
    df: DataFrame,
    group_col: str,
    value_expr: "F.Column",
    quantiles: "list[float]" = (0.5, 0.9, 0.99),
) -> DataFrame:
    """EXACT per-group quantiles WITHOUT A SORT OR SHUFFLE: parallel
    binary search on the integer value domain. Each round is one
    map-side-combinable full-table aggregate (conditional counts against
    every group×quantile's current midpoint); ~log₂(value range) rounds
    pin every order statistic exactly. This is the scale path for exact
    percentiles over ultra-high-cardinality columns where the
    sort-window approach (length_quantiles and friends) would funnel the
    distinct-value grid through a per-group sort — here NOTHING ever
    shuffles, sorts, or leaves the map side; the driver holds only
    (group × quantile) bisection bounds.

    Exact contract: values must be integral (caller pre-scales, e.g.
    cents); the q-quantile is the LOWER order statistic — the smallest
    value v with count(value ≤ v) ≥ ceil(q·n) — matching the
    sort-window family's convention, so the two methods are
    interchangeable (pytest pins parity). NULL values are excluded from
    both n and the search.

    Scale shape: one pass for (count, min, max) per group, then ≤
    ceil(log₂(max−min+1)) passes, each a single hash aggregate over a
    cached narrow projection with |groups|·|quantiles| conditional-sum
    columns. Job count is bounded by the VALUE RANGE in bits (~24 for
    prices in cents), independent of row count.
    """
    import math

    qs = list(quantiles)
    vals = (
        df.select(F.col(group_col).alias("grp"), value_expr.cast("long").alias("v"))
        .filter(F.col("v").isNotNull())
        .persist()
    )
    try:
        base = {
            r["grp"]: (r["n"], r["lo"], r["hi"])
            for r in vals.groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
            )
            .collect()
        }
        # state per (group, quantile): search window [lo, hi] and target k
        state = {}
        for g, (n, lo, hi) in base.items():
            for q in qs:
                k = max(1, math.ceil(q * n))
                state[(g, q)] = [lo, hi, k]
        while True:
            open_keys = [key for key, (lo, hi, _k) in state.items() if lo < hi]
            if not open_keys:
                break
            aggs = []
            mids = {}
            for i, key in enumerate(open_keys):
                g, q = key
                lo, hi, _k = state[key]
                mid = (lo + hi) // 2
                mids[key] = mid
                aggs.append(
                    F.sum(
                        ((F.col("grp") == g) & (F.col("v") <= mid)).cast("long")
                    ).alias(f"c{i}")
                )
            row = vals.agg(*aggs).collect()[0]
            for i, key in enumerate(open_keys):
                lo, hi, k = state[key]
                if row[f"c{i}"] >= k:
                    state[key][1] = mids[key]  # answer ≤ mid
                else:
                    state[key][0] = mids[key] + 1  # answer > mid
        out_rows = [
            (g, float(q), base[g][0], state[(g, q)][0])
            for g in base
            for q in qs
        ]
        return df.sparkSession.createDataFrame(
            out_rows, f"{group_col} string, q double, n_rows long, value long"
        )
    finally:
        vals.unpersist()


def life_table(events: DataFrame, censor_days: int = 7) -> DataFrame:
    """Kaplan-Meier LIFE TABLE with right-censoring over per-user event
    spans — the survival-analysis audit of "how long does a user stay
    active before churning", computed exactly.

    Each user contributes one observation: duration_days =
    datediff(last event date, first event date). A user whose last
    event falls within ``censor_days`` of the corpus's global last day
    is right-CENSORED (still active at the observation boundary — we
    know only that their true lifetime exceeds the observed span);
    everyone else is an observed churn. At every distinct duration d
    (ascending): n_risk = users with duration ≥ d, n_churn / n_censored
    = users exiting at exactly d, and the product-limit survival
    estimate S(d) = Π_{d'≤d} (n_risk(d') − n_churn(d')) / n_risk(d')
    carried in ``scale``-fixed-point via the truncating recurrence
    s ← (s · (n_risk − n_churn)) div n_risk — bit-exact on any engine
    (censored exits shrink later risk sets but never the product, the
    defining KM property).

    Scale shape: one groupBy(user) min/max aggregate (narrow), a 1-row
    global-max broadcast join, one groupBy(duration) count — then the
    sequential product runs over the DURATION GRID ONLY, whose size is
    bounded by the corpus's day span (the value domain), not by row
    count, so folding it through a single collect_list + F.aggregate
    (JVM-side, no UDF) is as scale-clean as the bisect-quantile driver
    state. Output: (duration_days, n_risk, n_churn, n_censored,
    s_x1e8).
    """
    scale = 10**8
    per_user = events.groupBy(F.col("user_id").alias("u")).agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    gmax = events.agg(F.max(F.col("ts").cast("date")).alias("dmax"))
    obs = per_user.crossJoin(F.broadcast(gmax)).select(
        F.datediff("d1", "d0").alias("d"),
        (F.datediff("dmax", "d1") < F.lit(int(censor_days))).alias("censored"),
    )
    grid = obs.groupBy("d").agg(
        F.sum((~F.col("censored")).cast("long")).alias("n_churn"),
        F.sum(F.col("censored").cast("long")).alias("n_cens"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    ordered = grid.select(
        "d",
        "n_churn",
        "n_cens",
        (
            F.sum(F.col("n_churn") + F.col("n_cens")).over(wall)
            - F.coalesce(
                F.sum(F.col("n_churn") + F.col("n_cens")).over(w), F.lit(0)
            )
        ).alias("n_risk"),
    )
    # fold the (bounded) grid through the exact product-limit recurrence
    packed = ordered.agg(
        F.array_sort(
            F.collect_list(F.struct("d", "n_risk", "n_churn", "n_cens"))
        ).alias("rows")
    )
    elem_t = (
        "array<struct<d:int,n_risk:bigint,n_churn:bigint,"
        "n_cens:bigint,s_fp:bigint>>"
    )
    fold = (
        "aggregate(rows,"
        f" named_struct('s', CAST({int(scale)} AS BIGINT),"
        f" 'out', CAST(array() AS {elem_t})),"
        " (acc, x) -> named_struct("
        "'s', (acc.s * (x.n_risk - x.n_churn)) div x.n_risk,"
        " 'out', array_append(acc.out, named_struct("
        "'d', x.d, 'n_risk', x.n_risk, 'n_churn', x.n_churn,"
        " 'n_cens', x.n_cens,"
        " 's_fp', (acc.s * (x.n_risk - x.n_churn)) div x.n_risk))),"
        " acc -> acc.out)"
    )
    return (
        packed.select(F.explode(F.expr(fold)).alias("r"))
        .select(
            F.col("r.d").alias("duration_days"),
            F.col("r.n_risk").alias("n_risk"),
            F.col("r.n_churn").alias("n_churn"),
            F.col("r.n_cens").alias("n_censored"),
            F.col("r.s_fp").alias("s_x1e8"),
        )
    )


def palma_ratio(
    df: DataFrame, key_col: str, value_expr: "F.Column"
) -> DataFrame:
    """PALMA inequality ratio over a per-key integer value distribution
    — the top-10% share against the bottom-40% share, the inequality
    audit that (unlike Gini) says WHERE the concentration lives. Keys
    are ranked by (value desc, key asc) for the top decile and
    (value asc, key asc) for the bottom two quintiles — both pinned so
    ties cannot flip membership; cohort sizes top_k = n div 10 and
    bottom_k = (4·n) div 10 (truncated, pinned). palma_bp =
    (10⁴ · top_sum) div bottom_sum, NULL when the bottom cohort holds
    nothing (division undefined — the caller sees the degenerate
    distribution explicitly rather than an arbitrary sentinel).

    Scale shape: one groupBy(key) sum over the fact table, then two
    rank windows over the PER-KEY aggregate (key-domain-sized, far
    smaller than the fact table); one global row out. Gini
    (gini_by_group) gives the scalar curve summary; Palma names the
    tails.
    """
    per = df.groupBy(F.col(key_col).alias("k")).agg(
        F.sum(value_expr).cast("long").alias("v")
    )
    wd = Window.orderBy(F.desc("v"), F.asc("k"))
    wa = Window.orderBy(F.asc("v"), F.asc("k"))
    wall = Window.partitionBy()
    ranked = per.select(
        "v",
        F.row_number().over(wd).alias("rd"),
        F.row_number().over(wa).alias("ra"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_keys"),
        F.expr("CAST(max(n) div 10 AS BIGINT)").alias("top_k"),
        F.expr("CAST((4 * max(n)) div 10 AS BIGINT)").alias("bottom_k"),
        F.sum(F.when(F.expr("rd <= n div 10"), F.col("v"))).cast("long")
        .alias("top_sum"),
        F.sum(F.when(F.expr("ra <= (4 * n) div 10"), F.col("v"))).cast("long")
        .alias("bottom_sum"),
    ).select(
        "n_keys",
        "top_k",
        "bottom_k",
        F.coalesce(F.col("top_sum"), F.lit(0)).cast("long").alias("top_sum"),
        F.coalesce(F.col("bottom_sum"), F.lit(0)).cast("long").alias(
            "bottom_sum"
        ),
        F.expr(
            "CASE WHEN coalesce(bottom_sum, 0) > 0 THEN"
            " CAST((10000 * coalesce(top_sum, 0)) div bottom_sum AS BIGINT)"
            " END"
        ).alias("palma_bp"),
    )


def price_index(
    df: DataFrame,
    key_col: str,
    period_expr: "F.Column",
    qty_expr: "F.Column",
    cents_expr: "F.Column",
    base,
    curr,
) -> DataFrame:
    """Exact LASPEYRES / PAASCHE / FISHER price indices between two
    periods over a transaction table — "how much did the same basket
    get more expensive" in basis points, the econometric aggregate a
    revenue dashboard needs beside raw growth (growth confounds price
    and volume; the index isolates price).

    Semantics (pinned): per key present in BOTH periods, the unit
    price p̂ᵗ = Σcents div Σqty (truncating — cents precision is the
    contract, like every money column here); Laspeyres = (10⁴ ·
    Σ p̂¹q⁰) div Σ p̂⁰q⁰ (base-period basket), Paasche with the
    current basket, Fisher = isqrt(L·P) — the geometric mean in exact
    integer arithmetic via ``isqrt_expr``. Keys sold in only one
    period are excluded (no price RELATIVE exists for them —
    the standard matched-sample convention).

    Scale shape: one conditional groupBy(key) aggregate over the fact
    table (map-side combinable, both periods in one pass), the basket
    sums one 1-row aggregate in DECIMAL(38,0); no window, no sort.
    Output: 1 row (n_keys, laspeyres_bp, paasche_bp, fisher_bp).
    """
    in_base = period_expr == F.lit(base)
    in_curr = period_expr == F.lit(curr)
    per = (
        df.filter(in_base | in_curr)
        .groupBy(F.col(key_col).alias("k"))
        .agg(
            F.sum(F.when(in_base, qty_expr)).cast("long").alias("q0"),
            F.sum(F.when(in_base, cents_expr)).cast("long").alias("c0"),
            F.sum(F.when(in_curr, qty_expr)).cast("long").alias("q1"),
            F.sum(F.when(in_curr, cents_expr)).cast("long").alias("c1"),
        )
        .filter(
            F.col("q0").isNotNull()
            & F.col("q1").isNotNull()
            & (F.col("q0") > 0)
            & (F.col("q1") > 0)
        )
        .select(
            "k",
            "q0",
            "q1",
            F.expr("c0 div q0").alias("p0"),
            F.expr("c1 div q1").alias("p1"),
        )
    )
    sums = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.expr("CAST(p1 AS DECIMAL(38,0)) * q0")).alias("l_num"),
        F.sum(F.expr("CAST(p0 AS DECIMAL(38,0)) * q0")).alias("l_den"),
        F.sum(F.expr("CAST(p1 AS DECIMAL(38,0)) * q1")).alias("p_num"),
        F.sum(F.expr("CAST(p0 AS DECIMAL(38,0)) * q1")).alias("p_den"),
    )
    idx = sums.select(
        "n_keys",
        F.expr("CAST((10000 * l_num) div l_den AS BIGINT)").alias(
            "laspeyres_bp"
        ),
        F.expr("CAST((10000 * p_num) div p_den AS BIGINT)").alias(
            "paasche_bp"
        ),
    )
    return idx.select(
        "n_keys",
        "laspeyres_bp",
        "paasche_bp",
        isqrt_expr(
            (F.col("laspeyres_bp") * F.col("paasche_bp")).cast(_D38)
        )
        .cast("long")
        .alias("fisher_bp"),
    )


def holt_linear(
    series: DataFrame,
    idx_col: str = "idx",
    value_col: str = "y",
    horizon: int = 3,
) -> DataFrame:
    """HOLT LINEAR (double exponential) smoothing with exact integer
    arithmetic — the recursive level+trend forecaster, the method
    family the OLS-trend queries can't cover (smoothing adapts to
    recent shifts; a global regression line can't). Fixed smoothing
    constants α = 1/2, β = 3/10 as exact rationals:

        l_t = (y_t + l_{t-1} + b_{t-1}) div 2
        b_t = (3·(l_t − l_{t-1}) + 7·b_{t-1}) div 10

    with div truncating TOWARD ZERO on both engines (the SQL oracle
    factors the sign out of DuckDB's flooring ``//``). Initialization
    pinned: l₁ = y₁ (trend undefined), l₂ = y₂, b₂ = y₂ − y₁;
    recurrences and one-step-ahead fits ŷ_t = l_{t-1} + b_{t-1} from
    t ≥ 3; then ``horizon`` forecast rows ŷ_{T+h} = l_T + h·b_T.
    Gaps in the index are treated as consecutive steps (the OBSERVED
    series — max_drawdown's convention, the opposite of best_run's
    densified one).

    Scale shape: the input is already an aggregated series whose
    length is bounded by the TIME domain (months), so the sequential
    recurrence folds through one collect_list + SQL aggregate()
    (JVM-only, no UDF) exactly like life_table. Output: (month_id,
    kind 'fit'|'forecast', y_cents, level_c, trend_c, yhat_c).
    """
    packed = (
        series.select(
            F.col(idx_col).cast("int").alias("idx"),
            F.col(value_col).cast("long").alias("y"),
        )
        .agg(F.array_sort(F.collect_list(F.struct("idx", "y"))).alias("rows"))
    )
    elem_t = (
        "array<struct<idx:int,y:bigint,level_c:bigint,trend_c:bigint,"
        "yhat_c:bigint>>"
    )
    fold = (
        "aggregate(rows,"
        " named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),"
        " 't', 0, 'last', 0,"
        f" 'out', CAST(array() AS {elem_t})),"
        " (acc, x) -> CASE"
        " WHEN acc.t = 0 THEN named_struct("
        "   'l', x.y, 'b', CAST(0 AS BIGINT), 't', 1, 'last', x.idx,"
        "   'out', array_append(acc.out, named_struct("
        "     'idx', x.idx, 'y', x.y, 'level_c', x.y,"
        "     'trend_c', CAST(NULL AS BIGINT), 'yhat_c', CAST(NULL AS BIGINT))))"
        " WHEN acc.t = 1 THEN named_struct("
        "   'l', x.y, 'b', x.y - acc.l, 't', 2, 'last', x.idx,"
        "   'out', array_append(acc.out, named_struct("
        "     'idx', x.idx, 'y', x.y, 'level_c', x.y,"
        "     'trend_c', x.y - acc.l, 'yhat_c', CAST(NULL AS BIGINT))))"
        " ELSE named_struct("
        "   'l', (x.y + acc.l + acc.b) div 2,"
        "   'b', (3 * ((x.y + acc.l + acc.b) div 2 - acc.l) + 7 * acc.b)"
        "        div 10,"
        "   't', acc.t + 1, 'last', x.idx,"
        "   'out', array_append(acc.out, named_struct("
        "     'idx', x.idx, 'y', x.y,"
        "     'level_c', (x.y + acc.l + acc.b) div 2,"
        "     'trend_c', (3 * ((x.y + acc.l + acc.b) div 2 - acc.l)"
        "                 + 7 * acc.b) div 10,"
        "     'yhat_c', acc.l + acc.b))) END,"
        " acc -> acc)"
    )
    folded = packed.select(F.expr(fold).alias("st")).cache()
    fitted = folded.select(F.explode("st.out").alias("r")).select(
        F.col("r.idx").alias("month_id"),
        F.lit("fit").alias("kind"),
        F.col("r.y").alias("y_cents"),
        F.col("r.level_c").alias("level_c"),
        F.col("r.trend_c").alias("trend_c"),
        F.col("r.yhat_c").alias("yhat_c"),
    )
    fc = folded.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, {int(horizon)}), h -> named_struct("
                "'idx', st.last + h, 'yhat', st.l + h * st.b))"
            )
        ).alias("r")
    ).select(
        F.col("r.idx").alias("month_id"),
        F.lit("forecast").alias("kind"),
        F.lit(None).cast("long").alias("y_cents"),
        F.lit(None).cast("long").alias("level_c"),
        F.lit(None).cast("long").alias("trend_c"),
        F.col("r.yhat").cast("long").alias("yhat_c"),
    )
    return fitted.unionByName(fc)


def eoq_by_key(
    df: DataFrame,
    key_col: str,
    qty_expr: "F.Column",
    order_cost_c: int = 5000,
    holding_c: int = 200,
) -> DataFrame:
    """Economic Order Quantity per key — the classic inventory-policy
    operator, exact: EOQ = √(2·D·S ÷ H) with annual demand D (units),
    order cost S and holding cost H in cents, the square root taken
    over the TRUNCATED integer radicand by ``isqrt_expr`` (engine-
    stable; clamped up to 1 so a tiny-demand key still gets a policy)
    and the replenishment count as the exact CEILING (D + EOQ − 1)
    div EOQ. Fisher-index's isqrt machinery applied to operations
    planning.

    Scale shape: one map-side-combinable groupBy(key) sum, then pure
    per-row column math — no window, no second pass. Keys with zero
    demand are excluded (no policy exists). Output: (key, demand_qty,
    eoq_units, n_orders).
    """
    per = (
        df.groupBy(F.col(key_col).alias("k"))
        .agg(F.sum(qty_expr).cast("long").alias("demand_qty"))
        .filter(F.col("demand_qty") > 0)
    )
    rad = F.expr(
        f"CAST((2 * CAST(demand_qty AS DECIMAL(38,0)) * {int(order_cost_c)})"
        f" div {int(holding_c)} AS DECIMAL(38,0))"
    )
    withq = per.withColumn(
        "eoq_units",
        F.greatest(isqrt_expr(rad).cast("long"), F.lit(1)),
    )
    return withq.select(
        "k",
        "demand_qty",
        "eoq_units",
        F.expr("(demand_qty + eoq_units - 1) div eoq_units")
        .cast("long")
        .alias("n_orders"),
    )


def pareto_cut(orders: DataFrame) -> DataFrame:
    """PARETO-CUT census ("is it really 80/20 here?"): the minimal
    number of customers, taken richest-first, whose order revenue
    covers ≥ cover_pct (default 4/5 = 80%) of the total — exact in
    integer cents, the coverage test kept in cross-multiplied form
    (den·cum ≥ num·total) so no ratio is ever materialized. The
    concentration receipt procurement and account-management planning
    starts from (Gini/HHI/Palma siblings report the curve; this names
    the head-count).

    Semantics (pinned): per-customer revenue = Σ round(o_totalprice·
    100) over that customer's orders; richest-first order with custkey
    asc as the deterministic tiebreak; a customer is IN the cut iff
    the running total BEFORE adding them is still short of the target
    (den·(cum − rev) < num·total) — equivalently the minimal covering
    prefix. Output: 1 row (n_customers, n_cover, cover_share_bp,
    total_cents).

    Scale shape: one narrow per-customer aggregate, then a sort-based
    window cumsum over the (much smaller) customer aggregate — the
    same shape as the decile-lift/quantile family — and a single-row
    final aggregate.
    """
    cover_pct_num = 4
    cover_pct_den = 5
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    w = (
        Window.orderBy(F.desc("rev"), F.asc("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "rev",
        F.sum("rev").over(w).cast("long").alias("cum"),
        F.sum("rev").over(wt).cast("long").alias("tot"),
    )
    num, den = int(cover_pct_num), int(cover_pct_den)
    return cum.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(
            (
                F.lit(den) * (F.col("cum") - F.col("rev"))
                < F.lit(num) * F.col("tot")
            ).cast("long")
        )
        .cast("long")
        .alias("n_cover"),
        F.max("cum").cast("long").alias("total_cents"),
    ).select(
        "n_customers",
        "n_cover",
        F.expr("CAST((10000 * n_cover) div n_customers AS BIGINT)").alias(
            "cover_share_bp"
        ),
        "total_cents",
    )


def month_seasonality(orders: DataFrame) -> DataFrame:
    """Month-of-year SEASONALITY INDEX over order revenue and order
    count, exact truncated bp: idx = 10⁴ · (month total · #months
    observed) div grand total — 10 000 means an average month, the
    ratio carried in cross-multiplied integer form. The calendar
    companion to the Holt forecast and MoM-growth monitors: those
    track the trend, this names the recurring intra-year shape
    (capacity planning's first input).

    Semantics (pinned): months keyed 1-12 by o_orderdate; the index
    denominator uses the number of DISTINCT months observed (a short
    dataset missing some months still centers at 10⁴); revenue in
    exact cents. Output: (o_month, n_orders, rev_cents, rev_index_bp,
    cnt_index_bp), one row per observed month.

    Scale shape: one 12-ary groupBy with map-side combine, totals via
    an unpartitioned window over the 12-row aggregate. Nothing touches
    the fact table twice.
    """
    per = orders.groupBy(
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("o_month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents"),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per.select(
            "o_month",
            "n_orders",
            "rev_cents",
            F.count(F.lit(1)).over(w).cast("long").alias("nm"),
            F.sum("rev_cents").over(w).cast("long").alias("rt"),
            F.sum("n_orders").over(w).cast("long").alias("ct"),
        )
        .select(
            "o_month",
            "n_orders",
            "rev_cents",
            # 10⁴·rev_cents·nm can pass int64 at warehouse scale —
            # carried in DECIMAL(38,0) before the div
            F.expr(
                "CAST((10000 * CAST(rev_cents AS DECIMAL(38,0)) * nm)"
                " div rt AS BIGINT)"
            ).alias("rev_index_bp"),
            F.expr(
                "CAST((10000 * CAST(n_orders AS DECIMAL(38,0)) * nm)"
                " div ct AS BIGINT)"
            ).alias("cnt_index_bp"),
        )
    )


def brand_price_dispersion(part: DataFrame) -> DataFrame:
    """Per-brand QUARTILE price dispersion — the robust pricing-spread
    report (quartile coefficient of dispersion, disp_bp =
    10⁴·(q3−q1) div (q3+q1)): outlier-immune where a variance-based
    spread is not, exact in integer cents end-to-end. The
    assortment-pricing audit ("which brands price tight, which
    sprawl") beside the mean/variance and Bowley families.

    Semantics (pinned): quartile q_k = the cent value at 1-indexed
    rank ((n−1)·k) div 4 + 1 of the (cents asc, p_partkey asc) order —
    the lower-nearest-rank convention, exactly expressible in both
    engines (no interpolation, no floats). Output: (p_brand, n_parts,
    q1_cents, median_cents, q3_cents, iqr_cents, disp_bp).

    Scale shape: one per-brand rank window over the (brand-partitioned)
    part dim + one 25-ary conditional aggregate. Brand cardinality is
    bounded, so the window partitions are balanced by construction.
    """
    cents = part.select(
        "p_brand",
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("c"),
    )
    wb = Window.partitionBy("p_brand").orderBy(F.asc("c"), F.asc("p_partkey"))
    wf = Window.partitionBy("p_brand")
    ranked = cents.select(
        "p_brand",
        "c",
        F.row_number().over(wb).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wf).cast("long").alias("n"),
    )
    pos = lambda k: F.expr(f"((n - 1) * {k}) div 4 + 1")  # noqa: E731
    agg = ranked.groupBy("p_brand").agg(
        F.max("n").cast("long").alias("n_parts"),
        F.max(F.when(F.col("rn") == pos(1), F.col("c")))
        .cast("long")
        .alias("q1_cents"),
        F.max(F.when(F.col("rn") == pos(2), F.col("c")))
        .cast("long")
        .alias("median_cents"),
        F.max(F.when(F.col("rn") == pos(3), F.col("c")))
        .cast("long")
        .alias("q3_cents"),
    )
    return agg.select(
        "p_brand",
        "n_parts",
        "q1_cents",
        "median_cents",
        "q3_cents",
        (F.col("q3_cents") - F.col("q1_cents")).cast("long").alias("iqr_cents"),
        F.expr(
            "CAST((10000 * (q3_cents - q1_cents))"
            " div (q3_cents + q1_cents) AS BIGINT)"
        ).alias("disp_bp"),
    )


def dow_hour_census(events: DataFrame) -> DataFrame:
    """Day-of-week × hour ACTIVITY HEATMAP — the capacity/anomaly
    dashboard behind every ops review: event count per (weekday,
    hour) cell and its exact truncated-bp share of total traffic.
    The weekday convention is pinned to 0 = Monday (Spark
    ``weekday()``, DuckDB ``isodow − 1``) — Spark's ``dayofweek``
    (1 = Sunday) and DuckDB's ``dayofweek`` (0 = Sunday) silently
    disagree, which is exactly the cross-engine trap this pins shut.

    Output: (dow, hour, n_events, share_bp), ≤ 168 rows.

    Scale shape: a 2-column derived projection + one bounded groupBy
    with map-side combine; the total for the share windows over the
    ≤ 168-cell aggregate, never the fact table.
    """
    cells = events.select(
        F.expr("weekday(ts)").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).groupBy("dow", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    return cells.select(
        "dow",
        "hour",
        "n_events",
        F.expr(
            "CAST((10000 * n_events) div (sum(n_events) over ()) AS BIGINT)"
        ).alias("share_bp"),
    )


def discount_audit(lineitem: DataFrame) -> DataFrame:
    """DISCOUNT-POLICY audit per discount level: line count, gross
    revenue, and the discount actually given — both in exact cents —
    plus the realized give-back share in truncated bp. The pricing
    sanity report ("does the 10 % tier really give back ~1000 bp, and
    how much volume rides each tier") and the drilldown behind the
    q19-style disjunctive revenue checks.

    Semantics (pinned): tier key = round(l_discount·100) (the discount
    column is a clean 2-decimal double in this schema); discount_cents
    = Σ round(l_extendedprice·l_discount·100) — the double product is
    IEEE-identical in both engines before the single round, the same
    convention every cents column in this repo uses. Output:
    (disc_pct, n_lines, gross_cents, discount_cents, giveback_bp).

    Scale shape: 2-column projection + one ≤ 11-ary groupBy with
    map-side combine. Nothing else touches the fact table.
    """
    per = lineitem.select(
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("g"),
        F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)
        .cast("long")
        .alias("d"),
    ).groupBy("disc_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("g").cast("long").alias("gross_cents"),
        F.sum("d").cast("long").alias("discount_cents"),
    )
    return per.select(
        "disc_pct",
        "n_lines",
        "gross_cents",
        "discount_cents",
        F.expr(
            "CAST((10000 * discount_cents) div gross_cents AS BIGINT)"
        ).alias("giveback_bp"),
    )


def returns_by_lag(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """RETURN RATE by fulfillment-lag bucket — does slow shipping
    drive returns? Lines bucketed by whole weeks between order and
    ship date; per bucket: volume, returned-line count
    (l_returnflag = 'R'), and the exact truncated-bp return rate.
    The logistics-quality signal table a churn or SLA model trains
    on; the per-supplier scorecard's lag column aggregated along the
    other axis.

    Scale shape: one orderkey equi-join (the scorecard's shape), a
    2-column derived projection, one bounded groupBy with map-side
    combine. Output: (lag_weeks, n_lines, n_returns, return_bp).
    """
    j = lineitem.select("l_orderkey", "l_shipdate", "l_returnflag").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    per = j.select(
        F.expr(
            "CAST(datediff(CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE))"
            " div 7 AS BIGINT)"
        ).alias("lag_weeks"),
        (F.col("l_returnflag") == "R").cast("long").alias("r"),
    ).groupBy("lag_weeks").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("r").cast("long").alias("n_returns"),
    )
    return per.select(
        "lag_weeks",
        "n_lines",
        "n_returns",
        F.expr("CAST((10000 * n_returns) div n_lines AS BIGINT)").alias(
            "return_bp"
        ),
    )


def order_size_histogram(lineitem: DataFrame) -> DataFrame:
    """ORDER-SIZE distribution — lines per order, then orders per
    size: the basket-shape census behind picking/packing capacity
    planning and the sibling of the q13 customer-order distribution
    (that counts orders per customer; this counts lines per order).
    Exact bp share per size bucket.

    Semantics (pinned): only orders observed in the fact table appear
    (a zero-line order has no lines to count). Output: (n_lines,
    n_orders, share_bp).

    Scale shape: one narrow groupBy(orderkey) with map-side combine,
    then a bounded (≤ 7 in TPC-H shapes) second aggregate; the share
    windows over the size histogram only.
    """
    sizes = lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines")
    )
    hist = sizes.groupBy("n_lines").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    return hist.select(
        "n_lines",
        "n_orders",
        F.expr(
            "CAST((10000 * n_orders) div (sum(n_orders) over ()) AS BIGINT)"
        ).alias("share_bp"),
    )


def tax_audit(lineitem: DataFrame) -> DataFrame:
    """TAX-TIER audit — discount_audit's sibling on the other pricing
    lever: per tax level, line volume, the net taxable base
    (extendedprice·(1−discount), the q1 charge convention), the tax
    actually collected — both exact cents, each product rounded once
    — and the realized effective rate in truncated bp (the 8 % tier
    must read ~800 bp; a drift is a pricing-pipeline bug).

    Output: (tax_pct, n_lines, base_cents, tax_cents, effective_bp).

    Scale shape: a 3-column derived projection + one ≤ 9-ary groupBy
    with map-side combine.
    """
    base = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per = lineitem.select(
        F.round(F.col("l_tax") * 100).cast("long").alias("tax_pct"),
        F.round(base * 100).cast("long").alias("b"),
        (
            F.round(base * (1 + F.col("l_tax")) * 100).cast("long")
            - F.round(base * 100).cast("long")
        ).alias("t"),
    ).groupBy("tax_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("b").cast("long").alias("base_cents"),
        F.sum("t").cast("long").alias("tax_cents"),
    )
    return per.select(
        "tax_pct",
        "n_lines",
        "base_cents",
        "tax_cents",
        F.expr("CAST((10000 * tax_cents) div base_cents AS BIGINT)").alias(
            "effective_bp"
        ),
    )


def key_skew_census(events: DataFrame, k: int = 10) -> DataFrame:
    """HOT-KEY census — the skew diagnostic that feeds the salting /
    AQE policy decisions (canonicalize.row_salt) as a human-readable
    report: the k heaviest user keys with exact event counts, each
    key's share of the whole stream, and the running cumulative share
    (both truncated bp). "Three users are 40 % of the stream" is the
    sentence that justifies a salted groupBy before anyone writes
    one.

    Output: (rank, user_id, n_events, share_bp, cum_share_bp), k
    rows. Scale shape: one narrow groupBy(user), a TakeOrdered k-cut,
    then rank/cumsum windows over the K-ROW cut only (the global
    total rides the aggregate via a scalar-free window on the cut
    plus the total carried per row).
    """
    per = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    # total via a 1-row aggregate broadcast onto the k-row cut — an
    # unpartitioned window here would funnel the whole per-user table
    # through one task (the RFM bounds pattern)
    tot = per.agg(F.sum("n_events").cast("long").alias("_tot"))
    top = (
        per.orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(int(k))
        .crossJoin(F.broadcast(tot))
    )
    wr = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return top.select(
        F.row_number().over(wr).cast("long").alias("rank"),
        "user_id",
        "n_events",
        F.expr("CAST((10000 * n_events) div _tot AS BIGINT)").alias("share_bp"),
        F.expr(
            "CAST((10000 * sum(n_events) over (order by n_events desc,"
            " user_id asc rows unbounded preceding)) div _tot AS BIGINT)"
        ).alias("cum_share_bp"),
    )


def size_price_curve(part: DataFrame) -> DataFrame:
    """PRICE-VS-SIZE curve over the part dimension: per p_size, the
    part count and the exact lower-median retail price in cents
    (rank ((n−1)·2) div 4 + 1 — the brand_price_dispersion quartile
    convention at k = 2, so the two reports reconcile cell-for-cell
    on shared groups). The "does bigger cost more" curve a pricing
    analyst eyeballs for monotonicity breaks.

    Output: (p_size, n_parts, median_cents).

    Scale shape: one per-size rank window over the part dim + one
    conditional aggregate; size cardinality is bounded.
    """
    cents = part.select(
        "p_size",
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("c"),
    )
    wb = Window.partitionBy("p_size").orderBy(F.asc("c"), F.asc("p_partkey"))
    wf = Window.partitionBy("p_size")
    ranked = cents.select(
        "p_size",
        "c",
        F.row_number().over(wb).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wf).cast("long").alias("n"),
    )
    return ranked.groupBy("p_size").agg(
        F.max("n").cast("long").alias("n_parts"),
        F.max(
            F.when(F.col("rn") == F.expr("((n - 1) * 2) div 4 + 1"), F.col("c"))
        )
        .cast("long")
        .alias("median_cents"),
    )


def type_burstiness(events: DataFrame) -> DataFrame:
    """Per-type TEMPORAL BURSTINESS — peak-to-mean hourly rate, exact:
    events bucketed to the hour, and each type reports its busiest
    hour's count against its own all-hours mean as burst_bp =
    (10⁴·max_hour·n_hours) div total (10⁴ = perfectly flat; a
    10×-spike type reads ~10⁵). n_hours counts the type's OWN active
    hours, so a sparse type is not flattered by silence. The
    time-axis sibling of the per-word Gopher/burstiness text metrics
    and the load number an ingestion autoscaler keys on.

    Output: (event_type, n_events, n_hours, max_hour_events,
    burst_bp).

    Scale shape: one (type, hour) groupBy with map-side combine, then
    a bounded per-type aggregate. Nothing re-reads the fact table.
    """
    hourly = events.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    per = hourly.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.max("n").cast("long").alias("max_hour_events"),
    )
    return per.select(
        "event_type",
        "n_events",
        "n_hours",
        "max_hour_events",
        F.expr(
            "CAST((10000 * max_hour_events * n_hours) div n_events AS BIGINT)"
        ).alias("burst_bp"),
    )


def balance_buckets(customer: DataFrame) -> DataFrame:
    """Account-balance HISTOGRAM in fixed $500 buckets, negatives
    included — the credit-exposure profile. The bucket key is the
    mathematical FLOOR of cents/bucket (so −0.01 lands in bucket −1,
    not bucket 0): Spark's integer `div` truncates toward zero while
    DuckDB's `//` floors, a silent cross-engine divergence on every
    negative balance — both sides therefore compute floor explicitly
    from non-negative operands only (CASE on sign), which this
    operator pins as the convention.

    Output: (bucket, lo_cents, n_customers, share_bp); lo_cents =
    bucket·bucket_cents is the bucket's inclusive lower edge.

    Scale shape: a 1-column derived projection + one bounded groupBy;
    shares window over the histogram only.
    """
    bucket_cents = 50000
    b = int(bucket_cents)
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    bucket = F.expr(
        f"CAST(CASE WHEN c >= 0 THEN c div {b}"
        f" ELSE -((-c + {b - 1}) div {b}) END AS BIGINT)"
    )
    hist = (
        customer.select(cents.alias("c"))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )
    return hist.select(
        "bucket",
        (F.col("bucket") * b).cast("long").alias("lo_cents"),
        "n_customers",
        F.expr(
            "CAST((10000 * n_customers) div (sum(n_customers) over ())"
            " AS BIGINT)"
        ).alias("share_bp"),
    )


def year_growth(orders: DataFrame) -> DataFrame:
    """YEAR-over-year revenue growth — the board-deck number beside
    the MoM monitor's operational one: per calendar year, order count,
    exact-cent revenue, and growth vs the PREVIOUS year in signed
    truncated bp (cross-multiplied, sign factored so truncation is
    toward zero on both engines; NULL for the first year). A partial
    first/last calendar year shows up as a violent swing — that is
    the honest readout, not a bug, and the report leaves it visible.

    Output: (o_year, n_orders, rev_cents, yoy_bp).

    Scale shape: one ≤ |years|-ary groupBy with map-side combine; the
    lag window runs over the tiny aggregate.
    """
    per = orders.groupBy(
        F.year(F.col("o_orderdate").cast("date")).cast("long").alias("o_year")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents"),
    )
    w = Window.orderBy(F.asc("o_year"))
    return per.select(
        "o_year",
        "n_orders",
        "rev_cents",
        F.lag("rev_cents").over(w).alias("_prev"),
    ).select(
        "o_year",
        "n_orders",
        "rev_cents",
        F.expr(
            "CAST(CASE WHEN _prev > 0 THEN"
            " CASE WHEN rev_cents >= _prev"
            "   THEN (10000 * (rev_cents - _prev)) div _prev"
            "   ELSE -((10000 * (_prev - rev_cents)) div _prev) END"
            " END AS BIGINT)"
        ).alias("yoy_bp"),
    )


def quantity_profile(lineitem: DataFrame) -> DataFrame:
    """QUANTITY-mix profile — the q17 small-quantity drilldown
    generalized to every quantity level: per integer quantity, line
    count, exact-cent revenue, and both the volume share and the
    revenue share in bp. The two shares DISAGREEING (small quantities
    overweight in lines, underweight in revenue) is the shape q17's
    threshold exploits.

    Output: (qty, n_lines, rev_cents, line_share_bp, rev_share_bp).

    Scale shape: a 2-column projection + one ≤ 50-ary groupBy with
    map-side combine; shares window over the profile only.
    """
    per = lineitem.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
    ).groupBy("qty").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("c").cast("long").alias("rev_cents"),
    )
    return per.select(
        "qty",
        "n_lines",
        "rev_cents",
        F.expr(
            "CAST((10000 * n_lines) div (sum(n_lines) over ()) AS BIGINT)"
        ).alias("line_share_bp"),
        F.expr(
            "CAST((10000 * rev_cents) div (sum(rev_cents) over ())"
            " AS BIGINT)"
        ).alias("rev_share_bp"),
    )


def user_diversity(events: DataFrame) -> DataFrame:
    """BEHAVIORAL-DIVERSITY census — users bucketed by how many
    DISTINCT event types they touch, with exact bp shares: the
    engagement-breadth histogram ("most users do one thing" vs
    "the base uses the whole product") that segments single-feature
    users from power users before anyone fits a model.

    Output: (n_types, n_users, share_bp).

    Scale shape: one distinct (user, type) projection, one per-user
    count, one bounded histogram aggregate; shares window over the
    histogram only.
    """
    per = (
        events.select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    )
    hist = per.groupBy("n_types").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    return hist.select(
        "n_types",
        "n_users",
        F.expr(
            "CAST((10000 * n_users) div (sum(n_users) over ()) AS BIGINT)"
        ).alias("share_bp"),
    )


def daily_cycle(events: DataFrame) -> DataFrame:
    """DAILY-CYCLE strength — the lag-24-hour autocorrelation of the
    hourly event-count series, exact: signed r² in truncated bp from
    pure integer sums (num = n·Σxy − Σx·Σy; signed_r2_bp =
    sign(num)·(10⁴·num²) div ((n·Σxx−Σx²)·(n·Σyy−Σy²)), every product
    carried in DECIMAL(38,0)). Near 10⁴ = strong 24-hour rhythm (the
    dow_hour heatmap's single-number summary); near 0 = arrivals
    don't repeat daily. Pairs exist only where BOTH hours have events
    (inner join — silence is absence, not zero, matching the
    burstiness convention).

    Output: 1 row (n_pairs, num_sign, r2_bp).

    Scale shape: one hourly groupBy, a self-equi-join of the (small)
    hourly series shifted 24 h, one 1-row aggregate.
    """
    hourly = events.select(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = hourly.select(F.col("h").alias("ha"), F.col("n").alias("x"))
    b = hourly.select(
        F.expr("h - INTERVAL 24 HOURS").alias("ha"), F.col("n").alias("y")
    )
    pairs = a.join(b, "ha")
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("x").cast(_D38)).alias("sx"),
        F.sum(F.col("y").cast(_D38)).alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    return agg.select(
        "n_pairs",
        F.expr(
            "CAST(CASE WHEN n_pairs * sxy - sx * sy > 0 THEN 1"
            " WHEN n_pairs * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS BIGINT)"
        ).alias("num_sign"),
        F.expr(
            "CAST(CASE WHEN (n_pairs * sxx - sx * sx) > 0"
            " AND (n_pairs * syy - sy * sy) > 0 THEN"
            " CASE WHEN n_pairs * sxy - sx * sy >= 0 THEN"
            "  (10000 * (n_pairs * sxy - sx * sy) * (n_pairs * sxy - sx * sy))"
            "   div ((n_pairs * sxx - sx * sx) * (n_pairs * syy - sy * sy))"
            " ELSE"
            "  -((10000 * (n_pairs * sxy - sx * sy) * (n_pairs * sxy - sx * sy))"
            "   div ((n_pairs * sxx - sx * sx) * (n_pairs * syy - sy * sy)))"
            " END END AS BIGINT)"
        ).alias("r2_bp"),
    )


def priority_speed(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Does URGENT actually ship faster? Fulfillment-lag profile per
    order priority: line volume, exact truncated mean lag in days
    (sum div count — no floats), and the worst lag. The SLA-promise
    audit: a priority tier whose mean matches the others' is a
    label, not a service.

    Output: (o_orderpriority, n_lines, mean_lag_days, max_lag_days).

    Scale shape: one orderkey equi-join (the scorecard shape) + one
    ≤ 5-ary groupBy with map-side combine.
    """
    j = lineitem.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    ).cast("long")
    per = j.select("o_orderpriority", lag.alias("lag")).groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("lag").cast("long").alias("_s"),
        F.max("lag").cast("long").alias("max_lag_days"),
    )
    return per.select(
        "o_orderpriority",
        "n_lines",
        F.expr("CAST(_s div n_lines AS BIGINT)").alias("mean_lag_days"),
        "max_lag_days",
    )


def weekly_actives(events: DataFrame) -> DataFrame:
    """WEEKLY-ACTIVE-USERS trend — the canonical engagement series:
    per ISO week (year taken from the ISO week-numbering year, so the
    Dec/Jan boundary week is one row, not two), distinct active
    users, event volume, and events-per-active in exact truncated
    milli-units. The WAU line every growth dashboard opens with;
    retention/funnel answer who comes back — this answers how many
    are here.

    Output: (iso_year, iso_week, n_active, n_events,
    events_per_active_x1000).

    Scale shape: one (week, user) distinct-count aggregate with
    map-side partials. Nothing else touches the stream.
    """
    per = events.groupBy(
        F.expr("extract(YEAROFWEEK FROM ts)").cast("long").alias("iso_year"),
        F.weekofyear(F.col("ts")).cast("long").alias("iso_week"),
    ).agg(
        F.countDistinct("user_id").cast("long").alias("n_active"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return per.select(
        "iso_year",
        "iso_week",
        "n_active",
        "n_events",
        F.expr("CAST((1000 * n_events) div n_active AS BIGINT)").alias(
            "events_per_active_x1000"
        ),
    )


def type_vocabulary(part: DataFrame) -> DataFrame:
    """DIMENSION-VOCABULARY decomposition of the composite p_type
    string ("STANDARD POLISHED BRASS" = grade + finish + material):
    per (position, token), part count and the token's exact bp share
    of its position — surfacing the hidden 3-attribute schema inside
    the flat label, the profiling step before anyone normalizes the
    dimension. Positions beyond the observed arity simply don't
    appear.

    Output: (pos, token, n_parts, pos_share_bp).

    Scale shape: one posexplode over a bounded-arity split + one
    bounded groupBy; shares window per position over the vocabulary
    table only.
    """
    toks = F.split(F.col("p_type"), " ")
    per = (
        part.select(F.posexplode(toks).alias("pos", "token"))
        .groupBy("pos", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    )
    return per.select(
        F.col("pos").cast("long").alias("pos"),
        "token",
        "n_parts",
        F.expr(
            "CAST((10000 * n_parts)"
            " div (sum(n_parts) over (partition by pos)) AS BIGINT)"
        ).alias("pos_share_bp"),
    )


def segment_balance_dispersion(customer: DataFrame) -> DataFrame:
    """Per-SEGMENT account-balance quartiles — brand_price_dispersion's
    shape on a column that goes NEGATIVE: per market segment, exact
    cent quartiles at the lower-nearest rank convention, the IQR, and
    the quartile coefficient of dispersion guarded NULL when q3+q1
    ≤ 0 (the ratio is meaningless across the sign boundary — a pinned
    semantic the positive-only price version never needed).

    Output: (c_mktsegment, n_customers, q1_cents, median_cents,
    q3_cents, iqr_cents, disp_bp).

    Scale shape: one per-segment rank window over the customer dim +
    one conditional aggregate; segment cardinality is bounded.
    """
    cents = customer.select(
        "c_mktsegment",
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("c"),
    )
    wb = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("c"), F.asc("c_custkey")
    )
    wf = Window.partitionBy("c_mktsegment")
    ranked = cents.select(
        "c_mktsegment",
        "c",
        F.row_number().over(wb).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wf).cast("long").alias("n"),
    )
    pos = lambda k: F.expr(f"((n - 1) * {k}) div 4 + 1")  # noqa: E731
    agg = ranked.groupBy("c_mktsegment").agg(
        F.max("n").cast("long").alias("n_customers"),
        F.max(F.when(F.col("rn") == pos(1), F.col("c"))).cast("long").alias("q1_cents"),
        F.max(F.when(F.col("rn") == pos(2), F.col("c"))).cast("long").alias("median_cents"),
        F.max(F.when(F.col("rn") == pos(3), F.col("c"))).cast("long").alias("q3_cents"),
    )
    return agg.select(
        "c_mktsegment",
        "n_customers",
        "q1_cents",
        "median_cents",
        "q3_cents",
        (F.col("q3_cents") - F.col("q1_cents")).cast("long").alias("iqr_cents"),
        F.expr(
            "CAST(CASE WHEN q3_cents + q1_cents > 0 THEN"
            " (10000 * (q3_cents - q1_cents)) div (q3_cents + q1_cents)"
            " END AS BIGINT)"
        ).alias("disp_bp"),
    )


def weekend_effect(orders: DataFrame) -> DataFrame:
    """WEEKEND-vs-WEEKDAY order profile — the staffing/promo question
    in one table: order count, exact-cent revenue, each side's bp
    share of both, and the truncated mean order value. The weekday
    convention is the dow_hour pin (weekday(): 0 = Monday; weekend =
    5, 6) so the two calendar reports cannot disagree.

    Output: (is_weekend, n_orders, rev_cents, order_share_bp,
    rev_share_bp, avg_order_cents), 2 rows.

    Scale shape: a 2-column projection + one 2-ary groupBy; shares
    window over the 2-row aggregate.
    """
    per = orders.select(
        (F.expr("weekday(CAST(o_orderdate AS DATE))") >= 5).alias("is_weekend"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    ).groupBy("is_weekend").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("c").cast("long").alias("rev_cents"),
    )
    return per.select(
        "is_weekend",
        "n_orders",
        "rev_cents",
        F.expr(
            "CAST((10000 * n_orders) div (sum(n_orders) over ()) AS BIGINT)"
        ).alias("order_share_bp"),
        F.expr(
            "CAST((10000 * rev_cents) div (sum(rev_cents) over ())"
            " AS BIGINT)"
        ).alias("rev_share_bp"),
        F.expr("CAST(rev_cents div n_orders AS BIGINT)").alias(
            "avg_order_cents"
        ),
    )
