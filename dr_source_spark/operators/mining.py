"""Association-rule mining (market-basket analysis) as pure relational
algebra.

The classic Apriori insight — a pair can only be frequent if both its
items are — is exactly a semi-join prefilter, so frequent-pair mining
maps onto Spark as: (1) dedupe (basket, item), (2) keep items whose
basket count clears the support floor (the Apriori prune — this is
what keeps the self-join from exploding at scale), (3) self-equi-join
the pruned stream on the basket key with ``item_a < item_b`` so each
pair appears once, (4) count pairs, (5) emit both rule directions with
confidence and lift in exact basis points:

    conf_bp(a→b) = c_ab · 10000 div c_a
    lift_bp(a→b) = c_ab · N · 10000 div (c_a · c_b)   (symmetric)

Everything is an equi-join or a groupBy on narrow keys; the only
quadratic step is per-basket pair expansion, bounded by the support
prune and by the per-basket item count (a mega-basket is the skew to
watch — the same per-key explosion the LSH band join caps; callers
with pathological baskets should cap items per basket upstream).

Reference: no counterpart in the reference scanner; this is the
co-occurrence analytics its findings table (and any training-data
event log) needs at lake scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def basket_rules(
    transactions: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_support: int = 20,
    min_pair_support: int = 3,
) -> DataFrame:
    """Frequent-pair association rules from a (basket, item) stream.

    Output: one row per directed rule (antecedent, consequent) with
    pair_n, conf_bp, lift_bp — both directions of every surviving
    pair, ordered facts only (no float scores).
    """
    baskets = transactions.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct()
    n_baskets = baskets.select("basket").distinct().count()
    item_counts = baskets.groupBy("item").agg(F.count("*").alias("item_n"))
    frequent = item_counts.filter(F.col("item_n") >= min_item_support)
    pruned = baskets.join(F.broadcast(frequent), "item").select(
        "basket", "item", "item_n"
    )
    left = pruned.select(
        "basket", F.col("item").alias("item_a"), F.col("item_n").alias("n_a")
    )
    right = pruned.select(
        "basket", F.col("item").alias("item_b"), F.col("item_n").alias("n_b")
    )
    pairs = (
        left.join(right, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b", "n_a", "n_b")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair_support)
    )
    # DECIMAL(38,0) through the lift product: pair_n·N·10⁴ overflows
    # int64 once baskets pass ~1e9 — the quotient itself stays small
    nb = F.lit(int(n_baskets)).cast("decimal(38,0)")
    fwd = pairs.withColumn("_nb", nb).select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        F.col("pair_n").cast("long").alias("pair_n"),
        F.expr("(pair_n * 10000) div n_a").cast("long").alias("conf_bp"),
        F.expr(
            "(cast(pair_n as decimal(38,0)) * _nb * 10000) div (cast(n_a as decimal(38,0)) * n_b)"
        ).cast("long").alias("lift_bp"),
    )
    rev = pairs.withColumn("_nb", nb).select(
        F.col("item_b").alias("antecedent"),
        F.col("item_a").alias("consequent"),
        F.col("pair_n").cast("long").alias("pair_n"),
        F.expr("(pair_n * 10000) div n_b").cast("long").alias("conf_bp"),
        F.expr(
            "(cast(pair_n as decimal(38,0)) * _nb * 10000) div (cast(n_a as decimal(38,0)) * n_b)"
        ).cast("long").alias("lift_bp"),
    )
    return fwd.union(rev)


def rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — the
    classic customer-value grid, exact end to end. Per customer:
    recency_days = days from their last order to the corpus max date,
    frequency = order count, monetary = Σ floor(amount·100) cents. Each
    dimension scores 1..n_bins by exact rank position (score = 1 +
    (rank−1)·n_bins div n_customers) with HIGHER score = better:
    recency ranks descending (stalest first → most recent customers
    land in the top bin), frequency and monetary ascending; every rank
    tie-breaks on the customer key, so a duplicated metric value cannot
    make segment membership nondeterministic (ntile() guarantees no
    such order within ties).

    Output: one row per populated (r_score, f_score, m_score) cell —
    (scores, n_customers, total_monetary_cents). Scale shape: one
    map-side-combinable groupBy(customer) over a 3-column projection,
    then three rank windows over the per-CUSTOMER table (already
    aggregated, orders of magnitude below the order table), then one
    tiny groupBy over ≤ n_bins³ cells.
    """
    n_bins = 5
    from pyspark.sql.window import Window

    narrow = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").cast("date").alias("_d"),
        F.floor(F.col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long")
        .alias("_cents"),
    )
    # corpus max date as a 1-row aggregate broadcast onto the rows — an
    # unpartitioned window here would funnel every order through a
    # single task before the groupBy (the drift_chi2 bounds pattern)
    bounds = narrow.agg(F.max("_d").alias("_maxd"))
    per_cust = (
        narrow.crossJoin(F.broadcast(bounds))
        .groupBy("cust")
        .agg(
            F.datediff(F.max("_maxd"), F.max("_d")).cast("long").alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum("_cents").cast("long").alias("monetary_cents"),
        )
    )
    b = int(n_bins)

    def _score(order_sql: str) -> "F.Column":
        # score = 1 + (rank-1)*b div n, rank tie-broken by cust: exact
        # integer quantiles, engine-stable under metric ties
        return F.expr(
            f"1 + (((row_number() over (order by {order_sql}, cust asc)) - 1)"
            f" * {b}) div (count(1) over ())"
        ).cast("long")

    scored = (
        per_cust
        .withColumn("r_score", _score("recency_days desc"))
        .withColumn("f_score", _score("frequency asc"))
        .withColumn("m_score", _score("monetary_cents asc"))
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("total_monetary_cents"),
    )


def item_cosine_pairs(
    baskets: DataFrame,
    min_co: int = 2,
    min_cos_bp: int = 0,
    max_basket: int = 0,
) -> DataFrame:
    """Item-item cosine similarity from co-occurrence — the
    "frequently bought together" / item-based collaborative-filtering
    signal: cos(a, b) = |E_a ∩ E_b| / √(|E_a|·|E_b|) over the sets of
    entities that touched each item. The square root is made exact and
    engine-stable via ``isqrt_expr`` on the single product n_a·n_b
    (the product of two counts fits int64 up to 3·10^9 entities per
    item), so cos_bp = (10000·co) div isqrt(n_a·n_b) is a deterministic
    integer on any engine.

    Scale shape: the (entity, item) incidence is deduplicated first,
    pairs are enumerated ONLY within an entity's basket (self-join at
    the entity key — the wedge discipline; a basket of size d yields
    C(d,2) pairs), and ``max_basket`` drops whale baskets behind the
    same non-silent observe metric as the LSH/jaccard caps (a whale
    contributes quadratic pairs and near-zero per-pair signal).
    ``min_co`` prunes before the count join-back. Note the
    denominators n_a/n_b count the FULL incidence (including whale
    baskets) while n_co counts only surviving evidence — the cap can
    only shrink a score, never inflate it.
    """
    from .graph import _OBS_SEQ
    from .stats import isqrt_expr

    inc = (
        baskets.select(
            F.col("ent"), F.col("item")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_item = inc.groupBy("item").agg(F.count("*").alias("n"))
    if max_basket:
        bsz = inc.groupBy("ent").agg(F.count("*").alias("bd"))
        whale = F.col("bd") > max_basket
        bsz = bsz.observe(
            f"item_cosine_whale_drops_{next(_OBS_SEQ)}",
            F.sum(F.when(whale, 1).otherwise(0)).alias("n_whale_baskets"),
            F.sum(F.when(whale, F.col("bd")).otherwise(0)).alias("n_rows_at_whales"),
        )
        inc = inc.join(bsz.filter(~whale).select("ent"), "ent")
    x, y = inc.alias("x"), inc.alias("y")
    co = (
        x.join(
            y,
            (F.col("x.ent") == F.col("y.ent")) & (F.col("x.item") < F.col("y.item")),
        )
        .groupBy(F.col("x.item").alias("item_a"), F.col("y.item").alias("item_b"))
        .agg(F.count("*").cast("long").alias("n_co"))
        .filter(F.col("n_co") >= min_co)
    )
    return (
        co.join(n_item.select(F.col("item").alias("item_a"), F.col("n").alias("n_a")), "item_a")
        .join(n_item.select(F.col("item").alias("item_b"), F.col("n").alias("n_b")), "item_b")
        # _nn is materialized as its own column before isqrt: isqrt_expr
        # references its input ~30× (Newton steps + exact pin), and with
        # the product expression inlined at every occurrence the fused
        # join-output method blew janino's 64 KB limit (silent
        # whole-stage-codegen fallback, found in the round-5 isqrt-site
        # audit). A non-cheap multi-use expression is not collapsed by
        # CollapseProject, so the split survives optimization.
        .withColumn(
            "_nn",
            F.expr("cast(n_a as decimal(38,0)) * cast(n_b as decimal(38,0))"),
        )
        .withColumn("_den", isqrt_expr(F.col("_nn")))
        .withColumn(
            "cos_bp",
            F.expr("cast((cast(n_co as decimal(38,0)) * 10000) div _den as long)"),
        )
        .filter(F.col("cos_bp") >= min_cos_bp)
        .select(
            "item_a",
            "item_b",
            "n_co",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "cos_bp",
        )
    )


def tier_migration(orders: DataFrame) -> DataFrame:
    """Customer VALUE-TIER MIGRATION matrix — the segment-dynamics
    report RFM's static grid can't show: split the corpus at its
    temporal midpoint, assign every customer an exact spend-quintile
    tier in each half, and count the (tier_from → tier_to) flows.
    Tier 0 is the ABSENT state: (0, t) rows are acquisitions, (t, 0)
    rows churn — the matrix diagonal is retention, above-diagonal is
    growth.

    Pinned: split date = min + (datediff(max, min) div 2) days, first
    half is d ≤ split; tiers use rfm_segments' exact rank convention
    (tier = 1 + (rank−1)·n_bins div n_half, spend ascending, key
    tie-break) computed INDEPENDENTLY per half (each half's quintiles
    are its own population — a shrinking market still fills all
    tiers).

    Scale shape: one conditional groupBy(customer) pass over orders
    (both halves' cents in one aggregate), two rank windows over the
    per-customer halves, a self-outer-join on the customer key, and a
    ≤ (n_bins+1)² cell count. Output: (tier_from, tier_to,
    n_customers, cents_to) — cents_to = second-half spend of the
    cell's customers (0 for churn cells).
    """
    n_bins = 5
    from pyspark.sql.window import Window

    narrow = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.floor(F.col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long")
        .alias("cents"),
    )
    bounds = narrow.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    ).select(
        F.expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))").alias(
            "split"
        )
    )
    halves = (
        narrow.crossJoin(F.broadcast(bounds))
        .groupBy("cust")
        .agg(
            F.sum(F.when(F.col("d") <= F.col("split"), F.col("cents")))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("d") > F.col("split"), F.col("cents")))
            .cast("long")
            .alias("c2"),
        )
    )
    b = int(n_bins)

    def _tiers(col: str, alias: str) -> DataFrame:
        part = halves.filter(F.col(col).isNotNull()).select(
            "cust", F.col(col).alias("v")
        )
        w = Window.orderBy(F.asc("v"), F.asc("cust"))
        wall = Window.partitionBy()
        return part.withColumn(
            "rn", F.row_number().over(w)
        ).withColumn("nh", F.count(F.lit(1)).over(wall)).select(
            "cust",
            F.col("v").alias(f"v_{alias}"),
            F.expr(f"CAST(1 + ((rn - 1) * {b}) div nh AS BIGINT)").alias(
                f"tier_{alias}"
            ),
        )
    t1 = _tiers("c1", "from")
    t2 = _tiers("c2", "to")
    joined = t1.join(t2, "cust", "full_outer").select(
        F.coalesce(F.col("tier_from"), F.lit(0)).cast("long").alias(
            "tier_from"
        ),
        F.coalesce(F.col("tier_to"), F.lit(0)).cast("long").alias("tier_to"),
        F.coalesce(F.col("v_to"), F.lit(0)).cast("long").alias("_c2"),
    )
    return joined.groupBy("tier_from", "tier_to").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("_c2").cast("long").alias("cents_to"),
    )


def overdue_customers(orders: DataFrame) -> DataFrame:
    """CHURN-RISK screen by purchase rhythm: customers whose silence
    since their last order has outlasted ``factor``× their own mean
    inter-order gap — the classic "overdue" reactivation trigger,
    exact in integer days with the comparison kept cross-multiplied
    (days_since_last · n_gaps > factor · span_days, where span div
    n_gaps IS the mean gap) so no ratio is materialized. "Now" is the
    corpus's latest order date (the only clock the dataset carries).

    Semantics (pinned): only customers with ≥ ``min_orders`` orders
    are screened (a one-gap rhythm is noise — the cadence_regularity
    convention); mean_gap_days is the truncated integer mean. Output:
    (o_custkey, n_orders, span_days, mean_gap_days, days_since_last,
    overdue), one row per screened customer.

    Scale shape: one narrow per-customer aggregate (min/max/count —
    map-side combinable), the global clock taken by a window over the
    aggregate, pure column math after.
    """
    factor = 2
    min_orders = 3
    from pyspark.sql.window import Window

    per = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_d"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
    )
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # the corpus clock comes from ALL customers (computed before the
    # min_orders screen — a 1-order customer can still hold the latest
    # order date)
    clocked = per.withColumn("clock", F.max("last_d").over(wt))
    return (
        clocked.filter(F.col("n_orders") >= int(min_orders))
        .select(
            "o_custkey",
            "n_orders",
            F.datediff("last_d", "first_d").cast("long").alias("span_days"),
            (F.col("n_orders") - 1).cast("long").alias("n_gaps"),
            F.datediff(F.col("clock"), F.col("last_d"))
            .cast("long")
            .alias("days_since_last"),
        )
        .select(
            "o_custkey",
            "n_orders",
            "span_days",
            F.expr("CAST(span_days div n_gaps AS BIGINT)").alias(
                "mean_gap_days"
            ),
            "days_since_last",
            (
                F.col("days_since_last") * F.col("n_gaps")
                > F.lit(int(factor)) * F.col("span_days")
            ).alias("overdue"),
        )
    )


def monthly_streaks(orders: DataFrame) -> DataFrame:
    """Per-customer MONTHLY-ACTIVITY STREAKS — the loyalty-run report:
    for each customer, how many calendar months saw ≥ 1 order, how
    many maximal runs of CONSECUTIVE active months those form, and the
    longest run. The classic gaps-and-islands shape on the month
    index (12·year + month), islands keyed by month_idx − row_number
    (constant within a consecutive run), exact integers end-to-end.
    The rhythm companion to overdue_customers (which watches silence;
    this names the habit being broken).

    Scale shape: one distinct (customer, month) projection of the
    fact table, one per-customer rank window over the (≤ months-
    observed)-sized distinct set, two narrow aggregates. Output:
    (o_custkey, n_active_months, n_streaks, max_streak_months).
    """
    from pyspark.sql.window import Window

    months = orders.select(
        "o_custkey",
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
        )
        .cast("long")
        .alias("midx"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy(F.asc("midx"))
    islands = months.select(
        "o_custkey",
        "midx",
        (F.col("midx") - F.row_number().over(w)).alias("isl"),
    )
    runs = islands.groupBy("o_custkey", "isl").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return runs.groupBy("o_custkey").agg(
        F.sum("run_len").cast("long").alias("n_active_months"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("run_len").cast("long").alias("max_streak_months"),
    )


def gap_histogram(orders: DataFrame) -> DataFrame:
    """Customer PURCHASE-RHYTHM histogram — the population view over
    the same per-customer mean inter-order gap overdue_customers
    screens individually: customers bucketed by mean gap in whole
    weeks (span div n_gaps div 7, truncated — the shared integer-mean
    convention), with exact bp shares. The capacity/planning shape
    ("most of the base reorders every N weeks") behind reactivation
    cadence choices.

    Output: (mean_gap_weeks, n_customers, share_bp).

    Scale shape: one narrow per-customer aggregate, one bounded
    histogram aggregate; shares window over the histogram only.
    """
    min_orders = 3
    per = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_d"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
    )
    hist = (
        per.filter(F.col("n_orders") >= int(min_orders))
        .select(
            F.expr(
                "CAST(datediff(last_d, first_d) div (n_orders - 1) div 7"
                " AS BIGINT)"
            ).alias("mean_gap_weeks")
        )
        .groupBy("mean_gap_weeks")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )
    return hist.select(
        "mean_gap_weeks",
        "n_customers",
        F.expr(
            "CAST((10000 * n_customers) div (sum(n_customers) over ())"
            " AS BIGINT)"
        ).alias("share_bp"),
    )


def new_vs_repeat(orders: DataFrame) -> DataFrame:
    """NEW-vs-REPEAT revenue split per year — the acquisition-vs-
    retention decomposition every growth review starts with: each
    order is 'new' iff its year equals its customer's FIRST order
    year; per year, both revenues in exact cents and the new share in
    truncated bp. A business sustained by its base and one re-buying
    its base every year look identical in total revenue — this is the
    column that separates them.

    Output: (o_year, new_rev_cents, repeat_rev_cents, new_share_bp).

    Scale shape: the first-order year is one narrow per-customer
    aggregate equi-joined back (no window over the fact table), then
    one ≤|years| aggregate.
    """
    base = orders.select(
        "o_custkey",
        F.year(F.col("o_orderdate").cast("date")).cast("long").alias("y"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    first = base.groupBy("o_custkey").agg(F.min("y").alias("first_y"))
    per = (
        base.join(first, "o_custkey")
        .groupBy(F.col("y").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("y") == F.col("first_y"), F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("new_rev_cents"),
            F.sum(F.when(F.col("y") != F.col("first_y"), F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("repeat_rev_cents"),
        )
    )
    return per.select(
        "o_year",
        "new_rev_cents",
        "repeat_rev_cents",
        F.expr(
            "CAST((10000 * new_rev_cents)"
            " div (new_rev_cents + repeat_rev_cents) AS BIGINT)"
        ).alias("new_share_bp"),
    )


def spend_volatility(orders: DataFrame) -> DataFrame:
    """Per-customer SPEND VOLATILITY — cadence_regularity's monetary
    sibling: squared coefficient of variation of ORDER VALUES in
    exact 10⁸ fixed point, CV² = (n·Σc² − (Σc)²) div (Σc)² over
    integer cents with DECIMAL(38,0) sums. A subscription-like
    customer (same basket every time) sits near 0; past
    ``volatile_cv2_fp`` (default 10⁸ ≈ exponential-spread) the
    customer buys erratically — different upsell treatment, different
    revenue forecast error.

    Output: (o_custkey, n_orders, mean_cents, cv2_x1e8, volatile),
    one row per customer with ≥ ``min_orders`` orders.

    Scale shape: one narrow per-customer aggregate; pure column math
    after.
    """
    min_orders = 3
    volatile_cv2_fp = 100000000
    per = orders.select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    ).groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0))")).alias("sc"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("scc"),
    )
    return (
        per.filter(
            (F.col("n_orders") >= int(min_orders)) & (F.col("sc") > 0)
        )
        .select(
            "o_custkey",
            "n_orders",
            F.expr("CAST(sc div n_orders AS BIGINT)").alias("mean_cents"),
            F.expr(
                "CAST((100000000 * (n_orders * scc - sc * sc))"
                " div (sc * sc) AS BIGINT)"
            ).alias("cv2_x1e8"),
        )
        .withColumn("volatile", F.col("cv2_x1e8") > int(volatile_cv2_fp))
    )


def first_value_matrix(orders: DataFrame) -> DataFrame:
    """Does a big FIRST order predict a big LIFETIME? The
    cohort-quality contingency every acquisition team wants: each
    customer's first-order value (earliest order, ties broken by
    orderkey — deterministic) and lifetime revenue are quartiled
    independently (score = 1 + (rank−1)·bins div n, rank tie-broken
    by custkey — the RFM exact-quantile convention), and the 4×4 cell
    counts with exact bp shares say whether the diagonal dominates
    (first value predicts) or the matrix is flat (it doesn't).

    Output: (first_q, lifetime_q, n_customers, share_bp), ≤ bins²
    rows.

    Scale shape: one per-customer window for the first order + one
    aggregate; the quartile rank windows run over the per-CUSTOMER
    table (orders of magnitude below the fact table — the RFM
    precedent), cells are a bounded aggregate.
    """
    n_bins = 4
    from pyspark.sql.window import Window

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = orders.select(
        "o_custkey", "o_orderkey", "o_orderdate", cents.alias("c")
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    per = (
        base.withColumn("_rn", F.row_number().over(w))
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("_rn") == 1, F.col("c"))).alias("first_c"),
            F.sum("c").cast("long").alias("life_c"),
        )
    )
    b = int(n_bins)

    def _q(order_sql: str) -> "F.Column":
        return F.expr(
            f"1 + (((row_number() over (order by {order_sql}, o_custkey asc))"
            f" - 1) * {b}) div (count(1) over ())"
        ).cast("long")

    scored = per.withColumn("first_q", _q("first_c asc")).withColumn(
        "lifetime_q", _q("life_c asc")
    )
    cells = scored.groupBy("first_q", "lifetime_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    return cells.select(
        "first_q",
        "lifetime_q",
        "n_customers",
        F.expr(
            "CAST((10000 * n_customers) div (sum(n_customers) over ())"
            " AS BIGINT)"
        ).alias("share_bp"),
    )
