"""Relational / TPC-H-style queries over the TPC-H tables, parts,
customers, search and evaluation tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.analyze import ensure_min_parallelism
from ..operators.entity_link import (
    blocking_quality_report,
    er_blocking_quality,
    er_entities,
    er_fs_weights,
    normalize_mention,
    snm_candidate_pairs,
)
from ..operators.forensics import near_duplicate_payments, round_number_bias, structuring_census
from ..operators.graph import (
    bipartite_core,
    degree_mixing_stats,
    ktruss_edges,
    transitivity_global,
)
from ..operators.layout import snake_shard_plan
from ..operators.merge import classify_merge, maintain_group_agg
from ..operators.mining import (
    basket_rules,
    first_value_matrix,
    gap_histogram,
    item_cosine_pairs,
    monthly_streaks,
    new_vs_repeat,
    overdue_customers,
    rfm_segments,
    spend_volatility,
    tier_migration,
)
from ..operators.relational import (
    brand_supplier_histogram,
    catalog_breadth,
    dual_source_risk,
    fingerprint_buckets,
    return_outlier_suppliers,
    segment_profile,
    supplier_scorecard,
    trade_balance,
)
from ..operators.skyline import pareto_frontier_2d
from ..operators.stats import (
    analyze_table_stats,
    balance_buckets,
    benford_audit,
    benford_profile,
    brand_price_dispersion,
    chi2_cell_residuals,
    chi2_independence,
    cohort_matrix,
    cov_pairs,
    decile_lift,
    discount_audit,
    eoq_by_key,
    exact_quantiles_bisect,
    gini_best_split,
    hhi_by_group,
    holt_linear,
    interarrival_profile,
    join_cardinality_estimate,
    kendall_tau_grid,
    ks_two_sample,
    mann_whitney_grid,
    month_seasonality,
    ols_slope_by_group,
    order_size_histogram,
    palma_ratio,
    pareto_cut,
    price_index,
    priority_speed,
    quantity_profile,
    returns_by_lag,
    segment_balance_dispersion,
    simpson_reversal_audit,
    size_price_curve,
    spearman_rho_grid,
    tax_audit,
    type_vocabulary,
    wape_backtest,
    weekend_effect,
    weighted_median_by_group,
    year_growth,
)
from ..training.evalmetrics import auc_by_group, calibration_curve, cohens_kappa, pr_at_thresholds
from ..training.features import dhondt_allocate, loo_target_encode
from ..training.fuzzy import fuzzy_string_matches
from ..training.privacy import k_anonymity_report, l_diversity_report, t_closeness_report
from ..training.search import (
    conjunctive_search,
    phrase_search,
    postings_vocabulary,
    presence_bitmap,
    ranked_search,
    rrf_fuse,
)
from ._common import _DEC, _TOK_STREAM_SQL, _duck_isqrt, _duck_minhash_base, _t


def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1997-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("count_order"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double"), 2).alias("sum_base_price"),
            F.max("l_shipdate").alias("max_shipdate"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS count_order,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
       max(l_shipdate) AS max_shipdate
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def join_region_revenue(spark, sf_dir):
    # widen the fact side when its scan is narrower than the cluster: the
    # single-file local orders table scans as ONE task, which ran every
    # broadcast probe and the decimal(28,4) partial aggregation single-
    # threaded (round 6: 1.38 s -> 0.75 s at sf1; ensure_min_parallelism
    # is a no-op at corpus scale where the scan is already wide). The
    # projection keeps the shuffle to the two consumed fact columns.
    o = ensure_min_parallelism(
        _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        key_cols=("o_custkey",),
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2).alias("revenue"),
        )
    )


JOIN_SQL = """
SELECT r_name, count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def rollup_revenue(spark, sf_dir):
    # multi-level aggregate: revenue by (region, nation) with ROLLUP
    # subtotals and a grand total — the grouping-sets operator class
    # (Catalyst Expand), broadcast dims, decimal-exact sums
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2
            ).alias("revenue"),
        )
    )


ROLLUP_SQL = """
SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def orders_pivot_priority(spark, sf_dir):
    # PIVOT operator class: order counts as a status x priority matrix
    # (explicit pivot values keep the schema static so the oracle's
    # conditional aggregation aliases line up)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    o = _t(spark, sf_dir, "orders")
    piv = o.groupBy("o_orderstatus").pivot("o_orderpriority", prios).count()
    cols = [
        F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(f"p{p[0]}")
        for p in prios
    ]
    return piv.select("o_orderstatus", *cols)


ORDERS_PIVOT_SQL = """
SELECT o_orderstatus,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p1,
       CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p2,
       CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p3,
       CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p4,
       CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p5
FROM orders GROUP BY o_orderstatus
"""


def q5_local_supplier_volume(spark, sf_dir):
    # TPC-H Q5 shape: revenue by supplier nation where the customer and
    # supplier share a nation — a six-table join (3 broadcast dims),
    # decimal-exact revenue so both engines agree bitwise
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
        )
    )


Q5_SQL = """
SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""


def _rev_dec():
    return F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC)
    )


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))"
)


def q6_forecast_revenue(spark, sf_dir):
    # TPC-H Q6 shape: the pure scan-aggregate class — every predicate
    # pushes to the parquet scan (year band, discount band, quantity
    # cap), one decimal-exact conditional sum, zero joins and zero
    # shuffles past the partial agg. The simplest query in the deck and
    # the purest pushdown/codegen check.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(_DEC) * F.col("l_discount").cast(_DEC)).cast("double"),
                2,
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
    )


Q6_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q7_volume_shipping(spark, sf_dir):
    # TPC-H Q7 shape: the bidirectional nation-pair class — the same
    # dimension table joined twice under different roles (supplier
    # nation / customer nation) with a symmetric disjunctive pair
    # filter, revenue by (supp_nation, cust_nation, year). Both nation
    # legs broadcast.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("_sk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("_ck"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_4")
    ) | ((F.col("supp_nation") == "NATION_4") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_ck"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(_rev_dec()).cast("double"), 2).alias("revenue"))
    )


Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate)::BIGINT AS l_year,
       round(CAST(sum({_REV_SQL}) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_4')
   OR (n1.n_name = 'NATION_4' AND n2.n_name = 'NATION_3')
GROUP BY 1, 2, 3
"""


def q8_market_share(spark, sf_dir):
    # TPC-H Q8 shape: market share — one nation's slice of a
    # region+part-type market per year. The ratio is integer basis
    # points over floor-cents decimal sums (the mom-growth idiom): no
    # float division for the engines to round apart.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")
    ns = n.select(F.col("n_nationkey").alias("_sk"), F.col("n_name").alias("supp_nation"))
    base = (
        li.join(F.broadcast(p.filter(F.col("p_type") == "PROMO")), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n["n_regionkey"] == r["r_regionkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("_sk"))
    )
    return (
        base.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.floor(F.sum(_rev_dec()) * 100).cast("long").alias("_tot_c"),
            F.floor(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", _rev_dec()).otherwise(F.lit(0).cast(_DEC))) * 100
            ).cast("long").alias("_nat_c"),
        )
        .select(
            "o_year",
            F.round(F.col("_tot_c") / 100.0, 2).alias("total_revenue"),
            F.round(F.col("_nat_c") / 100.0, 2).alias("nation_revenue"),
            F.expr("(_nat_c * 10000) div _tot_c").cast("long").alias("share_bp"),
        )
    )


Q8_SQL = f"""
WITH base AS (
  SELECT year(o_orderdate)::BIGINT AS o_year, n1.n_name AS supp_nation,
         {_REV_SQL} AS rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey),
agg AS (
  SELECT o_year,
         CAST(floor(sum(rev) * 100) AS BIGINT) AS tot_c,
         CAST(floor(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
                             ELSE CAST(0 AS DECIMAL(18,4)) END) * 100) AS BIGINT) AS nat_c
  FROM base GROUP BY o_year)
SELECT o_year, round(tot_c / 100.0, 2) AS total_revenue,
       round(nat_c / 100.0, 2) AS nation_revenue,
       ((nat_c * 10000) // tot_c)::BIGINT AS share_bp
FROM agg
"""


def q10_returned_items(spark, sf_dir):
    # TPC-H Q10 shape: top-N report with a deterministic cut — revenue
    # ordering on exact floor-cents (never the rounded double) with a
    # unique-key tie-break, so both engines cut the same 20 customers.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
            ),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.floor(F.sum(_rev_dec()) * 100).cast("long").alias("_rev_c"))
        .orderBy(F.col("_rev_c").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            F.col("c_custkey").cast("long"),
            "c_name",
            F.round(F.col("_rev_c") / 100.0, 2).alias("revenue"),
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            "n_name",
        )
    )


Q10_SQL = f"""
WITH agg AS (
  SELECT c_custkey::BIGINT AS c_custkey, c_name, c_acctbal, n_name,
         CAST(floor(sum({_REV_SQL}) * 100) AS BIGINT) AS rev_c
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  GROUP BY 1, 2, 3, 4)
SELECT c_custkey, c_name, round(rev_c / 100.0, 2) AS revenue,
       round(c_acctbal, 2) AS acctbal, n_name
FROM agg ORDER BY rev_c DESC, c_custkey ASC LIMIT 20
"""


def q12_priority_lines(spark, sf_dir):
    # TPC-H Q12 shape: two-way conditional aggregation — per shipping
    # category (this schema has no l_shipmode; l_returnflag is the
    # category stand-in, the operator class is identical), count lines
    # of high- vs low-priority orders inside a shipdate year.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
GROUP BY l_returnflag
"""


def q15_top_supplier(spark, sf_dir):
    # TPC-H Q15 shape: the view + global-scalar-max class — quarterly
    # revenue per supplier, keep the supplier(s) AT the maximum.
    # Equality runs on exact floor-cents (a rounded double could admit
    # near-ties differently per engine); the 1-row max broadcasts.
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    srev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.floor(F.sum(_rev_dec()) * 100).cast("long").alias("_rev_c"))
    )
    mx = srev.agg(F.max("_rev_c").alias("_mx"))
    return (
        srev.crossJoin(F.broadcast(mx))
        .filter(F.col("_rev_c") == F.col("_mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("long"),
            "s_name",
            F.round(F.col("_rev_c") / 100.0, 2).alias("total_revenue"),
        )
    )


Q15_SQL = f"""
WITH srev AS (
  SELECT l_suppkey, CAST(floor(sum({_REV_SQL}) * 100) AS BIGINT) AS rev_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey::BIGINT AS s_suppkey, s_name, round(rev_c / 100.0, 2) AS total_revenue
FROM srev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_c = (SELECT max(rev_c) FROM srev)
"""


def q21_waiting_suppliers(spark, sf_dir):
    # TPC-H Q21 shape: the dual-correlation class — EXISTS and NOT
    # EXISTS against the SAME table under different predicates. This
    # schema has no commit/receipt dates, so "late" is restated as
    # shipped > 60 days after the order date (timestamp + interval in
    # both engines); the operator class — semi-join for "another
    # supplier participated", anti-join for "no OTHER supplier was also
    # late" — is the original's.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    late = (
        li.join(
            o.filter(F.col("o_orderstatus") == "F"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    others = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    ).alias("l2")
    late_others = late.select(
        F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3")
    ).alias("l3")
    waiting = (
        l1.join(
            others,
            (F.col("l1.l_orderkey") == F.col("_ok2"))
            & (F.col("l1.l_suppkey") != F.col("_sk2")),
            "left_semi",
        ).join(
            late_others,
            (F.col("l1.l_orderkey") == F.col("_ok3"))
            & (F.col("l1.l_suppkey") != F.col("_sk3")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
    )


Q21_SQL = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
SELECT s_name, count(*)::BIGINT AS numwait
FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
"""


def _derived_pair_cost(li):
    # This schema has no partsupp, so the observed supply relation is
    # derived from lineitem (the same restatement q16 uses): per
    # (l_partkey, l_suppkey), cost_c = the cheapest observed line total
    # in exact floor-cents. min() of exact integers is engine-stable;
    # no float division can split a boundary.
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.floor(F.min(F.col("l_extendedprice").cast(_DEC)) * 100)
        .cast("long")
        .alias("cost_c")
    )


_DERIVED_PAIR_COST_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST(floor(min(CAST(l_extendedprice AS DECIMAL(18,4))) * 100) AS BIGINT) AS cost_c
  FROM lineitem GROUP BY 1, 2
"""


def q2_min_cost_supplier(spark, sf_dir):
    # TPC-H Q2 shape: the per-group-min + join-back class — for each
    # qualifying part, the EUROPE supplier(s) whose derived supply cost
    # equals the per-part minimum, reported as a deterministic top-100
    # (exact-cents acctbal desc, unique (s_name, p_partkey) tie-break).
    # The per-pair aggregate and the min join-back share the partkey
    # shuffle; every dimension leg broadcasts.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    eu_sup = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            n["n_regionkey"] == r["r_regionkey"],
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pq = p.filter((F.col("p_size") == 15) & (F.col("p_type") == "SMALL")).select(
        "p_partkey", "p_brand"
    )
    pairs = (
        _derived_pair_cost(li)
        .join(F.broadcast(pq), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu_sup), F.col("ps_suppkey") == F.col("s_suppkey"))
    )
    min_cost = pairs.groupBy(F.col("ps_partkey").alias("_mk")).agg(
        F.min("cost_c").alias("_mc")
    )
    return (
        pairs.join(
            min_cost,
            (F.col("ps_partkey") == F.col("_mk")) & (F.col("cost_c") == F.col("_mc")),
        )
        .select(
            F.round(F.col("s_acctbal"), 2).alias("acctbal"),
            "s_name",
            "n_name",
            F.col("ps_partkey").cast("long").alias("p_partkey"),
            "p_brand",
            F.round(F.col("cost_c") / 100.0, 2).alias("supply_cost"),
        )
        .orderBy(F.col("acctbal").desc(), F.col("s_name").asc(), F.col("p_partkey").asc())
        .limit(100)
    )


Q2_SQL = f"""
WITH pair_cost AS ({_DERIVED_PAIR_COST_SQL}),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
pairs AS (
  SELECT pc.*, p_brand, s_name, s_acctbal, n_name
  FROM pair_cost pc
  JOIN part ON ps_partkey = p_partkey AND p_size = 15 AND p_type = 'SMALL'
  JOIN eu ON ps_suppkey = s_suppkey)
SELECT round(s_acctbal, 2) AS acctbal, s_name, n_name,
       ps_partkey::BIGINT AS p_partkey, p_brand,
       round(cost_c / 100.0, 2) AS supply_cost
FROM pairs p1
WHERE cost_c = (SELECT min(cost_c) FROM pairs p2 WHERE p2.ps_partkey = p1.ps_partkey)
ORDER BY acctbal DESC, s_name ASC, p_partkey ASC LIMIT 100
"""


def q9_product_type_profit(spark, sf_dir):
    # TPC-H Q9 shape: product-type profit per (supplier nation, order
    # year). No ps_supplycost exists, so cost is restated as 80% of the
    # part's retail price per unit, all in exact integer cents:
    # cost_c = (qty * retail_c * 4) div 5, profit_c = floor-cents
    # revenue - cost_c, summed AFTER the per-line floor so both engines
    # add identical integers. Part/supplier/nation broadcast; orders
    # joins on the lineitem orderkey shuffle.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    pg = p.filter(F.col("p_name").like("%gear%")).select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("retail_c"),
    )
    return (
        li.join(F.broadcast(pg), li["l_partkey"] == pg["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.floor(_rev_dec() * 100).cast("long")
                    - F.expr("(CAST(l_quantity AS BIGINT) * retail_c * 4) div 5")
                )
                / 100.0,
                2,
            ).alias("profit")
        )
    )


Q9_SQL = f"""
SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year,
       round(sum(CAST(floor({_REV_SQL} * 100) AS BIGINT)
                 - (CAST(l_quantity AS BIGINT) * retail_c * 4) // 5) / 100.0, 2) AS profit
FROM lineitem
JOIN (SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS retail_c
      FROM part WHERE p_name LIKE '%gear%') pg ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


def q11_important_stock(spark, sf_dir):
    # TPC-H Q11 shape: the group-share-threshold class — per-part
    # observed stock value for one region's suppliers, keeping parts
    # whose value exceeds 1/2000 of the region's total. The fraction is
    # restated as an integer cross-multiply (value_c * 2000 > total_c)
    # on floor-cents sums; the 1-row total broadcasts like q15/q22.
    # (Region scope, not the original's single nation: the sf0.001
    # fixture has nations with zero suppliers.)
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    nat_sup = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(
            F.broadcast(r.filter(F.col("r_name") == "AMERICA")),
            n["n_regionkey"] == r["r_regionkey"],
        )
        .select("s_suppkey")
    )
    per_part = (
        li.join(F.broadcast(nat_sup), li["l_suppkey"] == nat_sup["s_suppkey"])
        .groupBy("l_partkey")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice").cast(_DEC) * 100).cast("long")).alias(
                "value_c"
            )
        )
    )
    total = per_part.agg(F.sum("value_c").alias("_tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_c") * 2000 > F.col("_tot"))
        .select(
            F.col("l_partkey").cast("long").alias("p_partkey"),
            F.round(F.col("value_c") / 100.0, 2).alias("stock_value"),
        )
    )


Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(floor(CAST(l_extendedprice AS DECIMAL(18,4)) * 100) AS BIGINT)) AS value_c
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'AMERICA'
  GROUP BY l_partkey)
SELECT l_partkey::BIGINT AS p_partkey, round(value_c / 100.0, 2) AS stock_value
FROM per_part
WHERE value_c * 2000 > (SELECT sum(value_c) FROM per_part)
"""


def q20_dominant_suppliers(spark, sf_dir):
    # TPC-H Q20 shape: the nested semi-join chain with a correlated
    # aggregate threshold — ASIA suppliers who shipped MORE THAN HALF of
    # some PROMO part's total 1997 volume (availqty > 0.5*shipped,
    # restated over observed volume with the exact integer
    # cross-multiply 2*pair_qty > part_total). The per-pair and per-part
    # aggregates share the partkey shuffle; the dominant-supplier key
    # set feeds a LEFT SEMI join against supplier.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    promo = p.filter(F.col("p_type") == "PROMO").select("p_partkey")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(promo), li["l_partkey"] == promo["p_partkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("pair_qty"))
    )
    part_total = shipped.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("pair_qty").alias("part_qty")
    )
    dominant = (
        shipped.join(part_total, F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("pair_qty") * 2 > F.col("part_qty"))
        .select(F.col("l_suppkey").alias("_dk"))
    )
    asia = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            n["n_regionkey"] == r["r_regionkey"],
        )
    )
    return (
        asia.join(dominant, asia["s_suppkey"] == dominant["_dk"], "left_semi")
        .select(F.col("s_suppkey").cast("long"), "s_name", "n_name")
    )


Q20_SQL = """
WITH shipped AS (
  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS pair_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2),
dominant AS (
  SELECT DISTINCT l_suppkey FROM shipped s1
  WHERE pair_qty * 2 > (SELECT sum(pair_qty) FROM shipped s2
                        WHERE s2.l_partkey = s1.l_partkey))
SELECT s_suppkey::BIGINT AS s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
"""


def q14_promo_share(spark, sf_dir):
    # TPC-H Q14 shape: promo-brand revenue share per month — conditional
    # aggregate over a broadcast part join; the ratio is a rounded
    # division of two decimal-exact sums
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    promo = F.col("p_brand") == "Brand#1"
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(
            F.round(F.sum(F.when(promo, rev).otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double"), 2).alias("promo_revenue"),
            F.round(F.sum(rev).cast("double"), 2).alias("total_revenue"),
            F.round(
                (F.sum(F.when(promo, rev).otherwise(F.lit(0).cast("decimal(18,4)"))) * 100
                 / F.sum(rev)).cast("double"), 4
            ).alias("promo_pct"),
        )
    )


Q14_SQL = """
SELECT strftime(l_shipdate, '%Y-%m') AS month,
       round(CAST(sum(CASE WHEN p_brand = 'Brand#1'
                 THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE), 2) AS promo_revenue,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS total_revenue,
       round(CAST(sum(CASE WHEN p_brand = 'Brand#1'
                 THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) * 100
             / sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 4) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def topk_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(10).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def orders_mom_growth(spark, sf_dir):
    # month-over-month revenue trend: lag over the aggregated month series
    # (window on top of an aggregate — the report shape behind every
    # growth dashboard). Growth is an integer-scaled basis-point delta
    # ((cur-prev)*10000 div prev) on decimal-exact monthly sums, NULL for
    # the first month — no float division to disagree on
    # integer cents; division is plain `div` — VERIFIED that DuckDB's
    # `//` truncates toward zero exactly like Spark's `div` (-7//2 = -3
    # in both), so negative growth months agree with no floor emulation
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"),
    ).select(
        "month",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        # floor(), not a bare long cast — same cross-engine hazard as q18
        # (Spark truncates, DuckDB rounds); integral today at 2dp prices
        F.floor(F.col("rev") * 100).cast("long").alias("rev_c"),
    )
    w = Window.orderBy("month")
    return (
        monthly.withColumn("prev_c", F.lag("rev_c").over(w))
        .withColumn("a", (F.col("rev_c") - F.col("prev_c")) * 10000)
        .select(
            "month",
            "revenue",
            F.expr("a div prev_c").cast("long").alias("growth_bp"),
        )
    )


ORDERS_MOM_SQL = """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY 1
), c AS (
  SELECT month, round(CAST(rev AS DOUBLE), 2) AS revenue,
         CAST(floor(rev * 100) AS BIGINT) AS rev_c
  FROM m
)
SELECT month, revenue,
       CAST((rev_c - lag(rev_c) OVER (ORDER BY month)) * 10000
            // lag(rev_c) OVER (ORDER BY month) AS BIGINT) AS growth_bp
FROM c
"""


def customer_acctbal_quartiles(spark, sf_dir):
    # ntile(4) quartile binning per nation — the bucketed-rank window
    # class (ntile) with a unique-key tie-break (acctbal DESC, custkey)
    # so both engines assign the identical boundary rows, then a
    # per-(nation, quartile) profile to keep the output narrow
    from pyspark.sql.window import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_nationkey", "quartile")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.min("c_acctbal").cast("double"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal").cast("double"), 2).alias("max_bal"),
        )
        .select(
            F.col("c_nationkey").cast("long").alias("nation"),
            F.col("quartile").cast("long").alias("quartile"),
            "n_customers", "min_bal", "max_bal",
        )
    )


CUSTOMER_NTILE_SQL = """
WITH q AS (
  SELECT c_nationkey, c_acctbal,
         ntile(4) OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
  FROM customer
)
SELECT CAST(c_nationkey AS BIGINT) AS nation, CAST(quartile AS BIGINT) AS quartile,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(min(c_acctbal) AS DOUBLE), 2) AS min_bal,
       round(CAST(max(c_acctbal) AS DOUBLE), 2) AS max_bal
FROM q GROUP BY 1, 2
"""


def lineitem_unpivot_metrics(spark, sf_dir):
    # UNPIVOT (melt): the wide lineitem metric columns rotated into
    # (metric, value) rows, then a per-metric profile — the inverse of
    # the PIVOT surface (orders_pivot_priority); Spark's unpivot is a
    # zero-shuffle Expand node, so the only exchange is the final
    # 4-group aggregate
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    return (
        li.select("l_orderkey", *cols)
        .unpivot(
            ids=["l_orderkey"], values=cols,
            variableColumnName="metric", valueColumnName="v",
        )
        .groupBy("metric")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum(F.col("v").cast("decimal(18,4)")).cast("double"), 2).alias("total"),
            F.round(F.min("v").cast("double"), 4).alias("vmin"),
            F.round(F.max("v").cast("double"), 4).alias("vmax"),
        )
    )


LINEITEM_UNPIVOT_SQL = """
WITH m AS (
  SELECT 'l_quantity' AS metric, l_quantity AS v FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT metric, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2) AS total,
       round(CAST(min(v) AS DOUBLE), 4) AS vmin,
       round(CAST(max(v) AS DOUBLE), 4) AS vmax
FROM m GROUP BY metric
"""


def orders_cube_status_priority(spark, sf_dir):
    # CUBE over (status, priority): all four grouping sets in one pass —
    # the multidimensional-rollup surface (Catalyst expands the cube and
    # plans ONE aggregate; at 100 TB that is one shuffle for all 2^k
    # subtotal combinations, not k separate jobs). grouping_id
    # disambiguates real NULL dimension values from subtotal rows.
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            # grouping_id is only defined inside the cube's aggregate
            # (post-select the grouping metadata is gone)
            F.grouping_id("o_orderstatus", "o_orderpriority").cast("long").alias("gid"),
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "gid",
            "n_orders",
            "total_price",
        )
    )


ORDERS_CUBE_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q3_shipping_priority(spark, sf_dir):
    # TPC-H Q3 shape (adapted to this schema: o_orderpriority stands in
    # for o_shippriority): unshipped-revenue per order for one market
    # segment — two selective date filters pushed to both scans, customer
    # broadcast, decimal-exact revenue, deterministic top-10 (rounded
    # revenue desc, orderkey asc — the tie-break is a unique key, so both
    # engines select the identical boundary rows)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    cut = "1998-01-01"
    return (
        li.filter(F.col("l_shipdate") > F.lit(cut).cast("timestamp"))
        .join(
            o.filter(F.col("o_orderdate") < F.lit(cut).cast("timestamp")),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            o["o_custkey"] == c["c_custkey"],
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def q18_large_volume_customer(spark, sf_dir):
    # TPC-H Q18 shape: large-volume orders — the HAVING-subquery pattern
    # as an aggregate-then-join: per-order quantity totals (decimal-exact
    # so the > threshold classifies identically in both engines), the
    # qualifying keys joined back to orders + broadcast customer. The
    # qualifying side is tiny by construction, so Catalyst broadcasts it.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("qsum"))
        .filter(F.col("qsum") > F.lit(300).cast("decimal(18,4)"))
        # explicit floor, not a bare long cast: Spark's decimal->long cast
        # truncates while DuckDB's rounds half-up, so a fractional qsum
        # would silently diverge; floor() is the same operation in both
        # engines (quantities are positive)
        .select("l_orderkey", F.floor("qsum").cast("long").alias("total_qty"))
    )
    return (
        o.join(F.broadcast(qty), o["o_orderkey"] == qty["l_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round(F.col("o_totalprice").cast("double"), 2).alias("total_price"),
            "total_qty",
        )
    )


Q18_SQL = """
SELECT c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       round(CAST(o_totalprice AS DOUBLE), 2) AS total_price,
       CAST(floor(q.qsum) AS BIGINT) AS total_qty
FROM (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS qsum
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > CAST(300 AS DECIMAL(18,4))) q
JOIN orders ON o_orderkey = q.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q4_order_priority(spark, sf_dir):
    # TPC-H Q4 shape: the EXISTS-subquery operator class as a LEFT SEMI
    # join — orders in one quarter having at least one RETURNED lineitem
    # (this schema has no commitdate/receiptdate, so l_returnflag = 'R'
    # stands in for the late-delivery predicate), counted per priority.
    # The lineitem side's filter + column pruning reach the scan; the
    # semi-join shuffles only (orderkey) pairs — at 100 TB neither side
    # materializes the other's payload columns, which is the whole point
    # of semi-join vs join+distinct.
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-04-01").cast("timestamp")
    return (
        o.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .join(
            li.filter(F.col("l_returnflag") == "R").select("l_orderkey"),
            o["o_orderkey"] == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )


Q4_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q13_customer_distribution(spark, sf_dir):
    # TPC-H Q13 shape: the OUTER-join distribution report — customers
    # LEFT JOINed to their non-urgent orders (the extra predicate lives
    # in the join condition, so order-less customers survive with
    # c_count = 0), rolled up twice: orders per customer, then customers
    # per order-count. The first aggregate reuses the join's custkey
    # partitioning (no second exchange); the second groups a
    # cardinality-of-distinct-counts table that is tiny at any scale.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").cast("long").alias("custdist"))


Q13_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
GROUP BY c_count
"""


def q16_supplier_variety(spark, sf_dir):
    # TPC-H Q16 shape: the NOT-IN / ANTI-join + COUNT DISTINCT operator
    # class. This schema has no partsupp table, so the observed
    # part-supplier relation is DISTINCT (l_partkey, l_suppkey) from
    # lineitem; "complaint" suppliers are the deterministic s_acctbal < 0
    # set (6 rows at sf0.01), excluded with a LEFT ANTI join Catalyst
    # broadcasts. supplier_cnt per (brand, type, size) is a real
    # count-distinct (expand + two-phase aggregate) — the shuffle key is
    # the narrow distinct pair, never lineitem payload.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        pairs.join(F.broadcast(bad), pairs["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), pairs["l_partkey"] == p["p_partkey"])
        .filter(F.col("p_brand") != "Brand#45")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q17_small_quantity(spark, sf_dir):
    # TPC-H Q17 shape: the CORRELATED-scalar-subquery class, decorrelated
    # the way every engine plans it — aggregate the inner relation once
    # per key, join back, filter. The threshold test l_quantity <
    # 0.2 * avg(per-part quantity) is restated in EXACT decimal integer
    # arithmetic (5 * qty * cnt < sum) so no float division can classify
    # a boundary row differently across engines. The per-part aggregate
    # and the join-back share the partkey shuffle; part is broadcast.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    per_part = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        F.sum(dec("l_quantity")).alias("qsum"),
        F.count("*").alias("qcnt"),
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(per_part, li["l_partkey"] == per_part["ap_partkey"])
        .filter(dec("l_quantity") * F.lit(5) * F.col("qcnt") < F.col("qsum"))
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 2).alias("revenue"),
        )
    )


Q17_SQL = """
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (SELECT l_partkey AS ap_partkey,
             sum(CAST(l_quantity AS DECIMAL(18,4))) AS qsum,
             count(*) AS qcnt
      FROM lineitem GROUP BY 1) pa ON l_partkey = ap_partkey
WHERE p_brand = 'Brand#12'
  AND CAST(l_quantity AS DECIMAL(18,4)) * 5 * qcnt < qsum
GROUP BY p_brand
"""


def q19_disjunctive_revenue(spark, sf_dir):
    # TPC-H Q19 shape: the DISJUNCTIVE-predicate class — an OR of three
    # (brand, size-range, quantity-range) conjunction groups over the
    # part join. Catalyst extracts the common l_partkey = p_partkey
    # conjunct so this still plans a broadcast HASH join (not BNLJ), and
    # pushes the OR-of-brands IN-list to the part scan; the residual
    # disjunction evaluates post-join inside codegen. One broadcast, one
    # 1-row aggregate — no shuffle of lineitem at any scale.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    grp = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 35) & q.between(20, 30))
    )
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(grp)
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
        )
    )


Q19_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


def q22_dormant_customers(spark, sf_dir):
    # TPC-H Q22 shape: scalar-aggregate subquery + NOT EXISTS. Every
    # customer has SOME order at this SF, so "dormant" = no order since
    # 2000-01-01 (LEFT ANTI against the date-filtered orders). The
    # global-average threshold is an exact integer restatement
    # (acctbal * n_positive > sum_positive, decimal arithmetic) of
    # c_acctbal > avg(positive acctbals); the scalar side joins in as an
    # explicit broadcast cross join — the build side is EXACTLY ONE ROW
    # by construction (a global aggregate), so the resulting
    # BroadcastNestedLoopJoin is a per-row constant comparison, the same
    # plan Spark itself produces for a scalar subquery. Shuffle-free on
    # the scalar side at any scale.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    dec = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.count("*").alias("n_pos"), F.sum(dec("c_acctbal")).alias("sum_pos")
    )
    recent = o.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")).select(
        "o_custkey"
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(dec("c_acctbal") * F.col("n_pos") > F.col("sum_pos"))
        .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count("*").cast("long").alias("n_custs"),
            F.round(F.sum(dec("c_acctbal")).cast("double"), 2).alias("total_acctbal"),
        )
    )


Q22_SQL = """
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(count(*) AS BIGINT) AS n_custs,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_acctbal
FROM customer,
     (SELECT count(*) AS n_pos, sum(CAST(c_acctbal AS DECIMAL(18,4))) AS sum_pos
      FROM customer WHERE c_acctbal > 0) g
WHERE CAST(c_acctbal AS DECIMAL(18,4)) * n_pos > sum_pos
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
"""


_ER_B, _ER_DF_PCT, _ER_BUCKET, _ER_MIN_PCT = 4, 5, 64, 60


def _er_planted_mentions(spark, sf_dir):
    # deterministic dirty-mention benchmark: three variants per customer
    # — verbatim, one char deleted at k%len, one char replaced by 'x' at
    # (7k+3)%len — over the normalized (name || synthetic address). The
    # sf tables carry no address column, so the address is md5(custkey)
    # hex (32 chars of per-entity entropy both engines compute
    # identically); ER must re-link the variants without ever merging
    # distinct customers, whose names share the 'customer000...' prefix
    # the stop-gram screen exists for.
    base = (
        _t(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").cast("long").alias("k"),
            normalize_mention(
                F.concat(F.col("c_name"), F.md5(F.col("c_custkey").cast("string")))
            ).alias("_t"),
        )
    )
    v0 = base.select((F.col("k") * 4).alias("mention_id"), F.col("_t").alias("name"))
    v1 = base.selectExpr(
        "k * 4 + 1 AS mention_id",
        "concat(substring(_t, 1, cast(k % length(_t) as int)), "
        "substring(_t, cast(k % length(_t) as int) + 2)) AS name",
    )
    v2 = base.selectExpr(
        "k * 4 + 2 AS mention_id",
        "concat(substring(_t, 1, cast((k * 7 + 3) % length(_t) as int)), 'x', "
        "substring(_t, cast((k * 7 + 3) % length(_t) as int) + 2)) AS name",
    )
    return v0.unionByName(v1).unionByName(v2)


def customer_er_entities(spark, sf_dir):
    # record-level entity resolution (operators/entity_link.py): stop-gram
    # blocking on the b smallest trigram hashes, capped buckets, exact
    # integer-Jaccard verify, component merge — every planted mention
    # labeled with its canonical entity id.
    return er_entities(
        _er_planted_mentions(spark, sf_dir),
        b=_ER_B,
        df_cap_pct=_ER_DF_PCT,
        max_bucket=_ER_BUCKET,
        min_pct=_ER_MIN_PCT,
    )


def customer_er_sql() -> str:
    return f"""WITH RECURSIVE base AS (
  SELECT c_custkey::BIGINT AS k,
         regexp_replace(lower(c_name || md5(c_custkey::VARCHAR)), '[^a-z0-9]', '', 'g') AS t
  FROM customer),
men AS (
  SELECT k * 4 AS mention_id, t AS name FROM base
  UNION ALL
  SELECT k * 4 + 1,
         substr(t, 1, CAST(k % length(t) AS INT)) ||
         substr(t, CAST(k % length(t) AS INT) + 2) FROM base
  UNION ALL
  SELECT k * 4 + 2,
         substr(t, 1, CAST((k * 7 + 3) % length(t) AS INT)) || 'x' ||
         substr(t, CAST((k * 7 + 3) % length(t) AS INT) + 2) FROM base),
grams AS (
  SELECT DISTINCT mention_id, {_duck_minhash_base('g')} AS h FROM (
    SELECT mention_id,
           unnest(list_transform(generate_series(1, CAST(length(name) - 2 AS BIGINT)),
                                 i -> substr(name, CAST(i AS INT), 3))) AS g
    FROM men WHERE length(name) >= 3)),
dfreq AS (SELECT h, count(*) AS df FROM grams GROUP BY h),
tot AS (SELECT count(DISTINCT mention_id) AS nm FROM grams),
rare AS (SELECT g.mention_id, g.h FROM grams g JOIN dfreq d ON g.h = d.h
         CROSS JOIN tot WHERE d.df * 100 <= {_ER_DF_PCT} * tot.nm),
keys AS (SELECT mention_id, h FROM (
  SELECT mention_id, h, row_number() OVER (PARTITION BY mention_id ORDER BY h) AS r
  FROM rare) WHERE r <= {_ER_B}),
bsz AS (SELECT h, count(*) AS c FROM keys GROUP BY h),
cand AS (SELECT DISTINCT a.mention_id AS ia, b2.mention_id AS ib
         FROM keys a JOIN keys b2 ON a.h = b2.h AND a.mention_id < b2.mention_id
         JOIN bsz ON bsz.h = a.h WHERE bsz.c <= {_ER_BUCKET}),
sizes AS (SELECT mention_id, count(*) AS sz FROM grams GROUP BY mention_id),
inter AS (SELECT c.ia, c.ib, count(*) AS n_common
          FROM cand c JOIN grams ga ON ga.mention_id = c.ia
                      JOIN grams gb ON gb.mention_id = c.ib AND gb.h = ga.h
          GROUP BY c.ia, c.ib),
ver AS (SELECT i.ia, i.ib FROM inter i
        JOIN sizes sa ON sa.mention_id = i.ia
        JOIN sizes sb ON sb.mention_id = i.ib
        WHERE (i.n_common * 100) // (sa.sz + sb.sz - i.n_common) >= {_ER_MIN_PCT}),
edges AS (SELECT ia AS src, ib AS dst FROM ver UNION ALL SELECT ib, ia FROM ver),
walk(node, lbl) AS (
  SELECT mention_id, mention_id FROM men
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node)
SELECT CAST(node AS BIGINT) AS mention_id, CAST(min(lbl) AS BIGINT) AS entity_id
FROM walk GROUP BY node"""


_KTRUSS_K, _KTRUSS_ROUNDS, _KTRUSS_MIN_CO = 3, 3, 2


def parts_ktruss(spark, sf_dir):
    # k-truss decomposition (operators/graph.py::ktruss_edges) over the
    # co-purchase graph: parts co-ordered in >= 2 distinct orders, peel
    # edges in < k-2 triangles for a fixed number of rounds
    # (rounds-bound contract, as weighted_sssp), emit survivors with
    # their final triangle support. 3445 edges -> 181 cohesive-community
    # edges at sf0.01.
    li = _t(spark, sf_dir, "lineitem")
    x, y = li.alias("x"), li.alias("y")
    co = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
            F.col("x.l_orderkey").alias("_o"),
        )
        .distinct()
        .groupBy("src", "dst")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") >= _KTRUSS_MIN_CO)
        .select("src", "dst")
    )
    return ktruss_edges(co, k=_KTRUSS_K, rounds=_KTRUSS_ROUNDS)


def parts_ktruss_sql() -> str:
    # unrolled peel rounds: with canonical a < b edges, triangle
    # x < y < z is exactly the 3-way join on edges (x,y),(y,z),(x,z) —
    # orientation-free, same triangles the degree-ordered Spark
    # enumeration finds. LEFT join + coalesce keeps the k-2 = 0 case
    # honest (parity with the Spark side's zero-fill).
    # every e{i}/t{i} is referenced 3-4 times by the next round: AS
    # MATERIALIZED stops DuckDB's CTE inlining, which would otherwise
    # expand the base scan 4^rounds times (measured: "Too many open
    # files" on the raw form)
    rounds = []
    for i in range(_KTRUSS_ROUNDS):
        rounds.append(
            f"""t{i} AS MATERIALIZED (SELECT ab.a AS x, ab.b AS y, bc.b AS z
  FROM e{i} ab JOIN e{i} bc ON bc.a = ab.b
  JOIN e{i} ac ON ac.a = ab.a AND ac.b = bc.b),
s{i} AS MATERIALIZED (SELECT a, b, count(*) AS sup FROM (
  SELECT x AS a, y AS b FROM t{i}
  UNION ALL SELECT x, z FROM t{i}
  UNION ALL SELECT y, z FROM t{i}) GROUP BY a, b),
e{i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{i} e LEFT JOIN s{i} s ON s.a = e.a AND s.b = e.b
  WHERE coalesce(s.sup, 0) >= {_KTRUSS_K - 2})"""
        )
    r = _KTRUSS_ROUNDS
    chain = ",\n".join(rounds)
    return f"""WITH co AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b, x.l_orderkey AS o
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
e0 AS MATERIALIZED (SELECT a, b FROM co GROUP BY a, b HAVING count(*) >= {_KTRUSS_MIN_CO}),
{chain},
tf AS MATERIALIZED (SELECT ab.a AS x, ab.b AS y, bc.b AS z
  FROM e{r} ab JOIN e{r} bc ON bc.a = ab.b
  JOIN e{r} ac ON ac.a = ab.a AND ac.b = bc.b),
sf AS MATERIALIZED (SELECT a, b, count(*) AS sup FROM (
  SELECT x AS a, y AS b FROM tf
  UNION ALL SELECT x, z FROM tf
  UNION ALL SELECT y, z FROM tf) GROUP BY a, b)
SELECT e.a::BIGINT AS a, e.b::BIGINT AS b,
  coalesce(s.sup, 0)::BIGINT AS support
FROM e{r} e LEFT JOIN sf s ON s.a = e.a AND s.b = e.b"""


def search_vocabulary(spark, sf_dir):
    # Inverted-index vocabulary statistics: per-token document frequency
    # and total term frequency over the row-wise postings table
    # (training/search.py — one (token, doc_id) ROW per posting, never a
    # collected doc-list array, so hot tokens stay skew-safe).
    return postings_vocabulary(_t(spark, sf_dir, "documents"))


SEARCH_VOCAB_SQL = f"""
WITH tok AS ({_TOK_STREAM_SQL})
SELECT token, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS tf_total
FROM tok WHERE token <> '' GROUP BY token
"""


def search_conjunctive(spark, sf_dir):
    # Boolean-AND search: documents containing ALL of the query terms,
    # scored by summed term frequency. The literal term list pushes to
    # the postings scan; the AND is a doc_id groupBy whose matched-term
    # count must equal the query length.
    return conjunctive_search(
        _t(spark, sf_dir, "documents"), ["spark", "join", "merge"]
    )


SEARCH_CONJ_SQL = f"""
WITH tok AS ({_TOK_STREAM_SQL}),
post AS (
  SELECT token, doc_id, count(*) AS tf
  FROM tok WHERE token IN ('spark', 'join', 'merge')
  GROUP BY 1, 2)
SELECT doc_id, sum(tf)::BIGINT AS score_tf
FROM post GROUP BY doc_id HAVING count(*) = 3
"""


def search_phrase(spark, sf_dir):
    # Exact-phrase search: consecutive "merge slow" occurrences via the
    # positional self-EQUI-join on (doc_id, pos - i) — k-term phrase =
    # k-1 hash joins, no nested loop (plan-gated in tests/test_search.py).
    return phrase_search(_t(spark, sf_dir, "documents"), ["merge", "slow"])


SEARCH_PHRASE_SQL = f"""
WITH tok AS ({_TOK_STREAM_SQL})
SELECT a.doc_id, count(*)::BIGINT AS n_matches, min(a.pos)::BIGINT AS first_pos
FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.token = 'merge' AND b.token = 'slow'
GROUP BY a.doc_id
"""


def parts_pareto_frontier(spark, sf_dir):
    # Skyline / Pareto frontier: parts that are cost-size optimal
    # (minimize price, maximize size) under strict-Pareto dominance.
    # The textbook NOT EXISTS dominance anti-join is a NON-equi
    # self-join (nested-loop at scale); operators/skyline.py computes
    # the 2-D frontier exactly with one hash aggregate, a window over
    # DISTINCT prices only, and a broadcast join-back.
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_c"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    return pareto_frontier_2d(p, "price_c", "p_size").select(
        F.col("p_partkey").cast("long"),
        F.round(F.col("price_c") / 100.0, 2).alias("price"),
        "p_size",
    )


PARTS_PARETO_SQL = """
WITH p AS (
  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
         CAST(p_size AS BIGINT) AS p_size
  FROM part)
SELECT p_partkey::BIGINT AS p_partkey, round(price_c / 100.0, 2) AS price, p_size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
    AND (b.price_c < a.price_c OR b.p_size > a.p_size))
"""


def customer_k_anonymity(spark, sf_dir):
    # Privacy audit, k-anonymity: group size per quasi-identifier combo
    # (segment, nation, thousand-dollar balance band) with the exposed
    # verdict at k=5. One map-side-combined shuffle on the narrow quasi
    # tuple; the full census is the audit artifact, failing groups are a
    # filter away (training/privacy.py).
    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    )
    return k_anonymity_report(c, ["c_mktsegment", "c_nationkey", "bal_band"], k=5)


K_ANON_SQL = """
SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       count(*)::BIGINT AS group_n, count(*) < 5 AS exposed
FROM customer GROUP BY 1, 2, 3
"""


def orders_l_diversity(spark, sf_dir):
    # Privacy audit, l-diversity: a k-anonymous group whose members all
    # share one sensitive value still leaks it. Distinct order
    # priorities per (status, order-year) group, exposed below l=3.
    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", F.year("o_orderdate").cast("long").alias("o_year"),
        "o_orderpriority",
    )
    return l_diversity_report(o, ["o_orderstatus", "o_year"], "o_orderpriority", l=3)


L_DIV_SQL = """
SELECT o_orderstatus, year(o_orderdate)::BIGINT AS o_year,
       count(*)::BIGINT AS group_n,
       count(DISTINCT o_orderpriority)::BIGINT AS n_sensitive,
       count(DISTINCT o_orderpriority) < 3 AS exposed
FROM orders GROUP BY 1, 2
"""


def customer_merge_census(spark, sf_dir):
    # CDC MERGE classification (operators/merge.py): a deterministic
    # update batch derived from customer — +$100 for custkey%7==0,
    # no-op rows for %11==3, delete flags for %17==5, brand-new keys
    # (+1e6) for %13==0 — classified insert/update/delete/noop in ONE
    # full-outer hash join on the key. The census MERGE INTO never
    # shows, as an audit artifact. Values compared in exact cents.
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c")
    )
    batch = (
        c.filter(
            (F.col("c_custkey") % 7 == 0)
            | (F.col("c_custkey") % 11 == 3)
            | (F.col("c_custkey") % 17 == 5)
        ).select(
            "c_custkey",
            (
                F.col("bal_c")
                + F.when(F.col("c_custkey") % 7 == 0, 10000).otherwise(0)
            ).alias("bal_c"),
            (F.col("c_custkey") % 17 == 5).alias("is_delete"),
        )
    ).unionByName(
        c.filter(F.col("c_custkey") % 13 == 0).select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            "bal_c",
            F.lit(False).alias("is_delete"),
        )
    )
    return classify_merge(c, batch, "c_custkey", ["bal_c"], delete_col="is_delete")


MERGE_CENSUS_SQL = """
WITH c AS (
  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer),
batch AS (
  SELECT c_custkey,
         bal_c + (CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END) AS bal_c,
         c_custkey % 17 = 5 AS is_delete
  FROM c WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 3 OR c_custkey % 17 = 5
  UNION ALL
  SELECT c_custkey + 1000000, bal_c, false FROM c WHERE c_custkey % 13 = 0)
SELECT coalesce(b.c_custkey, c.c_custkey) AS c_custkey,
       CASE WHEN b.is_delete THEN 'delete'
            WHEN c.c_custkey IS NULL THEN 'insert'
            WHEN b.bal_c IS DISTINCT FROM c.bal_c THEN 'update'
            ELSE 'noop' END AS action,
       c.bal_c AS old_bal_c, b.bal_c AS new_bal_c
FROM batch b FULL OUTER JOIN c ON b.c_custkey = c.c_custkey
WHERE b.c_custkey IS NOT NULL
"""


def dq_integrity_report(spark, sf_dir):
    # Data-quality / referential-integrity audit: named checks as
    # 1-row aggregates unioned into a census — FK orphans via LEFT ANTI
    # joins (never join+distinct), null-rate checks as conditional
    # counts. The contract gate a pipeline runs before promoting a
    # snapshot.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")

    def one(name, viol, total):
        return viol.agg(
            F.lit(name).alias("check_name"),
            F.count("*").cast("long").alias("n_violations"),
        ).crossJoin(F.broadcast(total.agg(F.count("*").cast("long").alias("n_total"))))

    checks = [
        one(
            "lineitem_orderkey_orphans",
            li.join(F.broadcast(o.select("o_orderkey")), li["l_orderkey"] == o["o_orderkey"], "left_anti"),
            li,
        ),
        one(
            "orders_custkey_orphans",
            o.join(F.broadcast(c.select("c_custkey")), o["o_custkey"] == c["c_custkey"], "left_anti"),
            o,
        ),
        one("customer_null_acctbal", c.filter(F.col("c_acctbal").isNull()), c),
        one("events_null_value", ev.filter(F.col("value").isNull()), ev),
        one(
            "events_nonpositive_value",
            ev.filter(F.col("value") <= 0),
            ev,
        ),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionByName(ch)
    return out


DQ_SQL = """
SELECT 'lineitem_orderkey_orphans' AS check_name,
       (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))::BIGINT AS n_violations,
       (SELECT count(*) FROM lineitem)::BIGINT AS n_total
UNION ALL
SELECT 'orders_custkey_orphans',
       (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))::BIGINT,
       (SELECT count(*) FROM orders)::BIGINT
UNION ALL
SELECT 'customer_null_acctbal',
       (SELECT count(*) FROM customer WHERE c_acctbal IS NULL)::BIGINT,
       (SELECT count(*) FROM customer)::BIGINT
UNION ALL
SELECT 'events_null_value',
       (SELECT count(*) FROM events WHERE value IS NULL)::BIGINT,
       (SELECT count(*) FROM events)::BIGINT
UNION ALL
SELECT 'events_nonpositive_value',
       (SELECT count(*) FROM events WHERE value <= 0)::BIGINT,
       (SELECT count(*) FROM events)::BIGINT
"""


def parts_fuzzy_names(spark, sf_dir):
    # Fuzzy string join: distinct part-name pairs within edit distance 2
    # that share a character 3-gram — the blocked-then-verified
    # edit-distance join (training/fuzzy.py; the blocking predicate is
    # part of the contract, like the LSH-candidates family, so the
    # oracle states the same two conditions declaratively).
    return fuzzy_string_matches(_t(spark, sf_dir, "part"), "p_name", max_dist=2)


FUZZY_SQL = """
WITH names AS (SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL),
g AS (
  SELECT name,
         list_distinct(list_transform(
           generate_series(1, greatest(length(name) - 2, 1)),
           i -> substr(name, CAST(i AS INT), 3))) AS grams
  FROM names)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name)::BIGINT AS dist
FROM g a JOIN g b ON a.name < b.name
WHERE list_has_any(a.grams, b.grams)
  AND abs(length(a.name) - length(b.name)) <= 2
  AND levenshtein(a.name, b.name) <= 2
"""


def parts_degree_mixing(spark, sf_dir):
    # Degree-assortativity sufficient statistics over the co-purchase
    # graph (the same edge construction parts_ktruss peels): one
    # exact-integer row (m, sx, sxx, sxy) over the symmetrized edges;
    # r = (m*sxy - sx^2)/(m*sxx - sx^2) is a read-time float. Tells the
    # hub-cap / salting policies whether this graph is hub-meets-hub.
    li = _t(spark, sf_dir, "lineitem")
    x, y = li.alias("x"), li.alias("y")
    co = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
            F.col("x.l_orderkey").alias("_o"),
        )
        .distinct()
        .groupBy("src", "dst")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") >= 2)
        .select("src", "dst")
    )
    return degree_mixing_stats(co)


DEGREE_MIXING_SQL = """
WITH co AS (
  SELECT x.l_partkey AS src, y.l_partkey AS dst
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
und AS (
  SELECT src, dst FROM co UNION ALL SELECT dst, src FROM co),
deg AS (SELECT src AS n, count(*) AS d FROM und GROUP BY 1)
SELECT count(*)::BIGINT AS m,
       sum(a.d)::BIGINT AS sx,
       sum(a.d * a.d)::BIGINT AS sxx,
       sum(a.d * b.d)::BIGINT AS sxy
FROM und JOIN deg a ON src = a.n JOIN deg b ON dst = b.n
"""


def lineitem_fingerprint(spark, sf_dir):
    # Anti-entropy table fingerprint: per-bucket row counts + checksum
    # sums over a canonical key-column string, through the portable
    # md5 hash base. Two replicas (a migration source and target, a
    # backfill and its original) compare 64 rows instead of re-reading
    # the tables; a divergent bucket pinpoints where to diff. Pure
    # map-side-combinable aggregate — the cheapest possible full-table
    # verification pass.
    return fingerprint_buckets(
        _t(spark, sf_dir, "lineitem"),
        "l_orderkey",
        ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"],
        n_buckets=64,
    )


def nation_revenue_share(spark, sf_dir):
    # RATIO_TO_REPORT: each nation's revenue share within its region in
    # exact basis points — the unordered aggregate-window class (sum
    # OVER (PARTITION BY region), no ORDER BY, so no sort — a window
    # that is pure per-partition aggregation). Shares computed on
    # floor-cents integers: share_bp = (nation_c * 10000) div region_c.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    per_nation = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.floor(F.sum(_rev_dec()) * 100).cast("long").alias("_rev_c"))
    )
    from pyspark.sql import Window as W

    region_c = F.sum("_rev_c").over(W.partitionBy("r_name"))
    return per_nation.select(
        "r_name",
        "n_name",
        F.round(F.col("_rev_c") / 100.0, 2).alias("revenue"),
        # integer div against the window total — float division would
        # truncate differently than DuckDB's // on ratio boundaries
        F.expr("(_rev_c * 10000)").cast("long").alias("_num"),
        region_c.cast("long").alias("_den"),
    ).select(
        "r_name",
        "n_name",
        "revenue",
        F.expr("_num div _den").cast("long").alias("share_bp"),
    )


NATION_SHARE_SQL = f"""
WITH per_nation AS (
  SELECT r_name, n_name,
         CAST(floor(sum({_REV_SQL}) * 100) AS BIGINT) AS rev_c
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2)
SELECT r_name, n_name, round(rev_c / 100.0, 2) AS revenue,
       ((rev_c * 10000) // sum(rev_c) OVER (PARTITION BY r_name))::BIGINT AS share_bp
FROM per_nation
"""


def search_ranked(spark, sf_dir):
    # BM25-shaped ranked retrieval in exact rational arithmetic
    # (training/search.py::ranked_search): k1=6/5, b=3/4 multiplied
    # through so every per-term contribution is an integer div both
    # engines reproduce; Robertson idf's inner ratio in basis points
    # (the log is a read-time monotone cosmetic). Deterministic top-10
    # by (score desc, doc_id).
    return ranked_search(
        _t(spark, sf_dir, "documents"), ["spark", "join", "merge"], k=10
    )


SEARCH_RANKED_SQL = f"""
WITH tok AS ({_TOK_STREAM_SQL}),
t AS (SELECT * FROM tok WHERE token <> ''),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM t GROUP BY doc_id),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS a FROM dl),
post AS (
  SELECT token, doc_id, count(*)::BIGINT AS tf
  FROM t WHERE token IN ('spark', 'join', 'merge') GROUP BY 1, 2),
df_t AS (SELECT token, count(*)::BIGINT AS dft FROM post GROUP BY token),
scored AS (
  SELECT p.doc_id,
         (((c.n - d.dft) * 10000) // d.dft) * 44 * c.a * p.tf
           // (20 * c.a * p.tf + 6 * c.a + 18 * l.dl * c.n) AS contrib
  FROM post p
  JOIN df_t d ON p.token = d.token
  JOIN dl l ON p.doc_id = l.doc_id
  CROSS JOIN corpus c)
SELECT doc_id, sum(contrib)::BIGINT AS score, count(*)::BIGINT AS n_terms
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def docs_presence_bitmap(spark, sf_dir):
    # Bitmap-index construction: per language, doc-id presence packed
    # into 32-bit words (bit never reaches the int64 sign bit, so
    # checked and wrapping engines agree). Membership and
    # group-vs-group intersection become bitwise ops over the narrow
    # word table; mergeable by bit_or.
    return presence_bitmap(_t(spark, sf_dir, "documents"), "lang")


PRESENCE_BITMAP_SQL = """
SELECT lang AS grp, (doc_id // 32)::BIGINT AS word_idx,
       bit_or((1::BIGINT << CAST(doc_id % 32 AS INT)))::BIGINT AS word
FROM documents GROUP BY 1, 2
"""


def orders_loo_encode(spark, sf_dir):
    # Leakage-safe LOO target encoding (training/features.py): each
    # order's priority encoded as the mean total price (cents) of the
    # OTHER orders with that priority — (Σ_group − own) div (n−1), one
    # unordered aggregate window (no sort, no join). The feature-prep
    # op that replaces a categorical column without leaking the row's
    # own label.
    o = _t(spark, sf_dir, "orders")
    df = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice").cast(_DEC) * 100).cast("long").alias("_c"),
    )
    return loo_target_encode(
        df, "o_orderpriority", F.col("_c"), ["o_orderkey"]
    ).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("key").alias("priority"),
        F.col("target").alias("target_c"),
        F.col("loo_mean").alias("loo_c"),
    )


LOO_ENCODE_SQL = """
WITH t AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(CAST(o_totalprice AS DECIMAL(18,4)) * 100) AS BIGINT) AS y
  FROM orders)
SELECT o_orderkey AS orderkey, o_orderpriority AS priority, y AS target_c,
       CAST(CASE WHEN count(*) OVER (PARTITION BY o_orderpriority) > 1
            THEN (sum(y) OVER (PARTITION BY o_orderpriority) - y)
                 // (count(*) OVER (PARTITION BY o_orderpriority) - 1) END
            AS BIGINT) AS loo_c
FROM t
"""


def lineitem_cov_matrix(spark, sf_dir):
    # Exact feature-covariance matrix (operators/stats.py::cov_pairs):
    # one global aggregate (map-side partials, ONE row out) computes
    # n, Σx and Σxy for all 10 ordered pairs of the 4 integer-scaled
    # lineitem metrics; the sample covariance (n·Σxy − Σx·Σy) div
    # (n·(n−1)) is evaluated on that single row in DECIMAL(38,0) with
    # the sign factored out so trunc-div (Spark) and floor-div (DuckDB)
    # agree on negative covariances. Diagonal = exact variances.
    li = _t(spark, sf_dir, "lineitem")
    metrics = {
        "qty": F.floor(F.col("l_quantity")).cast("long"),
        "price_c": F.floor(F.col("l_extendedprice").cast(_DEC) * 100).cast("long"),
        "disc_bp": F.floor(F.col("l_discount").cast(_DEC) * 10000).cast("long"),
        "tax_bp": F.floor(F.col("l_tax").cast(_DEC) * 10000).cast("long"),
    }
    return cov_pairs(li, metrics)


def _cov_matrix_sql() -> str:
    names = ["disc_bp", "price_c", "qty", "tax_bp"]
    exprs = {
        "qty": "CAST(floor(l_quantity) AS BIGINT)",
        "price_c": "CAST(floor(CAST(l_extendedprice AS DECIMAL(18,4)) * 100) AS BIGINT)",
        "disc_bp": "CAST(floor(CAST(l_discount AS DECIMAL(18,4)) * 10000) AS BIGINT)",
        "tax_bp": "CAST(floor(CAST(l_tax AS DECIMAL(18,4)) * 10000) AS BIGINT)",
    }
    sums = ", ".join(f"CAST(sum({n}) AS HUGEINT) AS s_{n}" for n in names)
    prods = ", ".join(
        f"CAST(sum({a} * {b}) AS HUGEINT) AS p_{a}_{b}"
        for i, a in enumerate(names)
        for b in names[i:]
    )
    arms = " UNION ALL ".join(
        f"SELECT '{a}' AS var_x, '{b}' AS var_y, "
        f"CAST((CASE WHEN n * p_{a}_{b} - s_{a} * s_{b} < 0 THEN -1 ELSE 1 END) * "
        f"(abs(n * p_{a}_{b} - s_{a} * s_{b}) // (n * (n - 1))) AS BIGINT) AS cov "
        f"FROM s"
        for i, a in enumerate(names)
        for b in names[i:]
    )
    cols = ", ".join(f"{exprs[n]} AS {n}" for n in names)
    return (
        f"WITH base AS (SELECT {cols} FROM lineitem), "
        f"s AS (SELECT CAST(count(*) AS HUGEINT) AS n, {sums}, {prods} FROM base) "
        f"{arms}"
    )


COV_MATRIX_SQL = _cov_matrix_sql()


def parts_basket_rules(spark, sf_dir):
    # Association-rule mining (operators/mining.py::basket_rules):
    # orders are baskets, parts are items; the Apriori prune (items
    # must clear the support floor BEFORE the per-basket self-join)
    # is what keeps pair expansion bounded at scale. Rules carry
    # confidence and lift in exact basis points, both directions.
    li = _t(spark, sf_dir, "lineitem")
    return basket_rules(
        li, "l_orderkey", "l_partkey", min_item_support=20, min_pair_support=3
    )


BASKET_RULES_SQL = """
WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
nb AS (SELECT CAST(count(DISTINCT basket) AS HUGEINT) AS n FROM b),
ic AS (SELECT item, count(*) AS item_n FROM b GROUP BY item),
fr AS (SELECT * FROM ic WHERE item_n >= 20),
p AS (SELECT b.basket, b.item, fr.item_n FROM b JOIN fr USING (item)),
pairs AS (
  SELECT x.item AS item_a, y.item AS item_b, x.item_n AS n_a, y.item_n AS n_b,
         count(*) AS pair_n
  FROM p x JOIN p y ON x.basket = y.basket AND x.item < y.item
  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 3)
SELECT item_a AS antecedent, item_b AS consequent,
       CAST(pair_n AS BIGINT) AS pair_n,
       CAST((pair_n * 10000) // n_a AS BIGINT) AS conf_bp,
       CAST((CAST(pair_n AS HUGEINT) * nb.n * 10000)
            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS lift_bp
FROM pairs, nb
UNION ALL
SELECT item_b, item_a, CAST(pair_n AS BIGINT),
       CAST((pair_n * 10000) // n_b AS BIGINT),
       CAST((CAST(pair_n AS HUGEINT) * nb.n * 10000)
            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
FROM pairs, nb
"""


def search_rrf_fusion(spark, sf_dir):
    # Reciprocal-rank fusion (training/search.py::rrf_fuse): the BM25
    # term ranking and an independent size ranking fused by
    # score = Σ 10⁶ div (60 + rank) — the standard way to combine
    # retrieval signals without calibrating their score scales.
    # Missing-from-a-list contributes nothing; deterministic top-20.
    from pyspark.sql.window import Window as W

    docs = _t(spark, sf_dir, "documents")
    bm25 = ranked_search(docs, ["spark", "join", "merge"], k=50)
    r1 = bm25.select(
        "doc_id",
        F.row_number().over(W.orderBy(F.desc("score"), F.asc("doc_id"))).alias("rank"),
    )
    r2 = (
        docs.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("n_chars"), F.asc("doc_id")))
            .alias("rank"),
        )
    )
    return rrf_fuse([r1, r2], k=60, top=20)


RRF_FUSION_SQL = f"""
WITH tok AS ({_TOK_STREAM_SQL}),
t AS (SELECT * FROM tok WHERE token <> ''),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM t GROUP BY doc_id),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS a FROM dl),
post AS (
  SELECT token, doc_id, count(*)::BIGINT AS tf
  FROM t WHERE token IN ('spark', 'join', 'merge') GROUP BY 1, 2),
df_t AS (SELECT token, count(*)::BIGINT AS dft FROM post GROUP BY token),
scored AS (
  SELECT p.doc_id,
         (((c.n - d.dft) * 10000) // d.dft) * 44 * c.a * p.tf
           // (20 * c.a * p.tf + 6 * c.a + 18 * l.dl * c.n) AS contrib
  FROM post p
  JOIN df_t d ON p.token = d.token
  JOIN dl l ON p.doc_id = l.doc_id
  CROSS JOIN corpus c),
bm25 AS (
  SELECT doc_id, sum(contrib)::BIGINT AS score FROM scored GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT 50),
r1 AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM bm25),
sz AS (SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 50),
r2 AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank FROM sz),
c AS (
  SELECT doc_id, 1000000 // (60 + rank) AS contrib FROM r1
  UNION ALL
  SELECT doc_id, 1000000 // (60 + rank) FROM r2)
SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_score,
       CAST(count(*) AS BIGINT) AS n_lists
FROM c GROUP BY doc_id ORDER BY rrf_score DESC, doc_id LIMIT 20
"""


def lineitem_abc_classes(spark, sf_dir):
    # ABC / cumulative-share classification: parts ranked by revenue,
    # class A = parts while the running share is within 70% of total
    # revenue, B to 90%, C the tail — integer cross-multiply against
    # the windowed grand total (no float shares), deterministic
    # (rev desc, partkey) order. The inventory-analytics counterpart
    # of the Pareto frontier already in the catalog.
    from pyspark.sql.window import Window as W

    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.floor(F.sum(_rev_dec()) * 100).cast("long").alias("rev_c")
    )
    w = W.orderBy(F.desc("rev_c"), F.asc("l_partkey")).rowsBetween(
        W.unboundedPreceding, 0
    )
    tot = F.sum("rev_c").over(W.partitionBy())
    cum = per_part.select(
        "l_partkey", "rev_c",
        F.sum("rev_c").over(w).alias("cum_c"),
        tot.alias("tot_c"),
    )
    cls = cum.withColumn(
        "abc_class",
        F.when(F.col("cum_c") * 10 <= F.col("tot_c") * 7, "A")
        .when(F.col("cum_c") * 10 <= F.col("tot_c") * 9, "B")
        .otherwise("C"),
    )
    return cls.groupBy("abc_class").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.round(F.sum("rev_c") / 100.0, 2).alias("revenue"),
        F.expr("sum(rev_c) * 10000 div max(tot_c)").cast("long").alias("share_bp"),
    )


ABC_CLASSES_SQL = f"""
WITH per_part AS (
  SELECT l_partkey, CAST(floor(sum({_REV_SQL}) * 100) AS BIGINT) AS rev_c
  FROM lineitem GROUP BY 1),
cum AS (
  SELECT l_partkey, rev_c,
         sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
         sum(rev_c) OVER () AS tot_c
  FROM per_part),
cls AS (
  SELECT *, CASE WHEN cum_c * 10 <= tot_c * 7 THEN 'A'
                 WHEN cum_c * 10 <= tot_c * 9 THEN 'B'
                 ELSE 'C' END AS abc_class
  FROM cum)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       round(sum(rev_c) / 100.0, 2) AS revenue,
       CAST(sum(rev_c) * 10000 // max(tot_c) AS BIGINT) AS share_bp
FROM cls GROUP BY 1
"""


def lineitem_ols_slope(spark, sf_dir):
    # Exact grouped OLS (operators/stats.py::ols_slope_by_group): the
    # price-per-unit regression slope per (returnflag, linestatus) in
    # cents·10⁴ per unit — slope = (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) with
    # every sum in DECIMAL(38,0), sign factored out of the truncating
    # division. One map-side-combinable aggregate, no second pass.
    li = _t(spark, sf_dir, "lineitem")
    return ols_slope_by_group(
        li,
        ["l_returnflag", "l_linestatus"],
        F.floor(F.col("l_quantity")).cast("long"),
        F.floor(F.col("l_extendedprice").cast(_DEC) * 100).cast("long"),
    )


OLS_SLOPE_SQL = """
WITH b AS (
  SELECT l_returnflag, l_linestatus,
         CAST(floor(l_quantity) AS BIGINT) AS x,
         CAST(floor(CAST(l_extendedprice AS DECIMAL(18,4)) * 100) AS BIGINT) AS y
  FROM lineitem),
s AS (
  SELECT l_returnflag, l_linestatus, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x * y) AS HUGEINT) AS sxy, CAST(sum(x * x) AS HUGEINT) AS sxx
  FROM b GROUP BY 1, 2)
SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
            (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END) *
            (abs(n * sxy - sx * sy) * 10000 // (n * sxx - sx * sx))
            END AS BIGINT) AS slope_x10000
FROM s
"""


def eval_auc(spark, sf_dir):
    # Exact tie-corrected ROC AUC per source
    # (training/evalmetrics.py::auc_by_group): does document length
    # predict lang='en'? Midrank (Mann-Whitney) tie handling done in
    # integers: 2·R₁ = Σ_s np_s·(2·below_s + nt_s + 1) over the
    # per-(source, score) COUNT table — no global row sort; the window
    # runs over distinct scores only. Sources lacking a class emit NULL.
    d = _t(spark, sf_dir, "documents")
    return auc_by_group(
        d, "source", F.col("n_chars"), (F.col("lang") == "en").cast("long")
    ).select(F.col("grp").alias("source"), "n_pos", "n_neg", "auc_bp")


EVAL_AUC_SQL = """
WITH sc AS (
  SELECT source AS grp, CAST(n_chars AS BIGINT) AS s,
         CAST(count(*) AS HUGEINT) AS nt,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS HUGEINT) AS np
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
r AS (
  SELECT *, coalesce(sum(nt) OVER (PARTITION BY grp ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM sc),
a AS (
  SELECT grp, sum(nt) AS n, sum(np) AS n1,
         sum(np * (2 * below + nt + 1)) AS r1x2
  FROM r GROUP BY 1)
SELECT grp AS source, CAST(n1 AS BIGINT) AS n_pos,
       CAST(n - n1 AS BIGINT) AS n_neg,
       CASE WHEN n1 > 0 AND n - n1 > 0 THEN
         CAST((r1x2 - n1 * (n1 + 1)) * 10000 // (2 * n1 * (n - n1)) AS BIGINT)
       END AS auc_bp
FROM a
"""


def eval_pr_sweep(spark, sf_dir):
    # Precision/recall/F1 at the nine exact decile order-statistic
    # thresholds of n_chars for the lang='en' label
    # (training/evalmetrics.py::pr_at_thresholds). Thresholds and
    # TP/FP come from cumulative sums over the distinct-score table;
    # F1 = 2TP/(2TP+FP+FN) stays integral. Truncated basis points.
    d = _t(spark, sf_dir, "documents")
    return pr_at_thresholds(
        d, F.col("n_chars"), (F.col("lang") == "en").cast("long")
    )


EVAL_PR_SQL = """
WITH sc AS (
  SELECT CAST(n_chars AS BIGINT) AS s, CAST(count(*) AS HUGEINT) AS nt,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS HUGEINT) AS np
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
cum AS (
  SELECT *, coalesce(sum(nt) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         sum(nt) OVER () AS tot, sum(np) OVER () AS tot_pos
  FROM sc),
th AS (
  SELECT CAST(cut AS BIGINT) AS cut, s AS thr
  FROM cum, unnest(range(1, 10)) AS u(cut)
  WHERE (cut * tot) // 10 + 1 > below AND (cut * tot) // 10 + 1 <= below + nt),
j AS (
  SELECT th.cut, th.thr, sum(cum.np) AS tp, sum(cum.nt - cum.np) AS fp,
         max(cum.tot_pos) AS pos
  FROM cum, th WHERE cum.s >= th.thr GROUP BY 1, 2)
SELECT cut, CAST(thr AS BIGINT) AS threshold, CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp, CAST(pos - tp AS BIGINT) AS fn,
       CAST(tp * 10000 // (tp + fp) AS BIGINT) AS precision_bp,
       CASE WHEN pos > 0 THEN CAST(tp * 10000 // pos AS BIGINT) END AS recall_bp,
       CAST(2 * tp * 10000 // (2 * tp + fp + (pos - tp)) AS BIGINT) AS f1_bp
FROM j
"""


def eval_kappa(spark, sf_dir):
    # Cohen's kappa per language between two deterministic labeling
    # rules — length (n_chars >= 300) vs whitespace volume (space count
    # >= 50) — the label-quality audit every weak-supervision pipeline
    # runs (training/evalmetrics.py::cohens_kappa). Sign factored out of
    # the truncating division so below-chance kappa is engine-stable;
    # degenerate marginals emit NULL. Text is null-hardened to '' on
    # BOTH sides (the oracle too — ADVICE r4 convention).
    d = _t(spark, sf_dir, "documents")
    spaces = F.length(F.coalesce(F.col("text"), F.lit(""))) - F.length(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), " ", "")
    )
    return cohens_kappa(
        d,
        "lang",
        (F.col("n_chars") >= 300).cast("long"),
        (spaces >= 50).cast("long"),
    ).select(F.col("grp").alias("lang"), "n_rows", "n_agree", "agree_bp", "kappa_bp")


EVAL_KAPPA_SQL = """
WITH b AS (
  SELECT lang AS grp,
         CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
         CASE WHEN length(coalesce(text, ''))
                   - length(replace(coalesce(text, ''), ' ', '')) >= 50
              THEN 1 ELSE 0 END AS bb
  FROM documents),
g AS (
  SELECT grp, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CASE WHEN a = bb THEN 1 ELSE 0 END) AS HUGEINT) AS agree,
         CAST(sum(a) AS HUGEINT) AS a1, CAST(sum(bb) AS HUGEINT) AS b1
  FROM b GROUP BY 1),
k AS (SELECT *, a1 * b1 + (n - a1) * (n - b1) AS pe FROM g)
SELECT grp AS lang, CAST(n AS BIGINT) AS n_rows, CAST(agree AS BIGINT) AS n_agree,
       CAST(agree * 10000 // n AS BIGINT) AS agree_bp,
       CASE WHEN n * n - pe != 0 THEN
         CAST((CASE WHEN n * agree - pe < 0 THEN -1 ELSE 1 END)
              * (abs(n * agree - pe) * 10000 // (n * n - pe)) AS BIGINT)
       END AS kappa_bp
FROM k
"""


def orders_benford(spark, sf_dir):
    # Benford first-digit audit (operators/stats.py::benford_profile)
    # of o_totalprice: organic multiplicative amounts follow
    # log10(1+1/d); the per-digit deviation from the hardcoded public
    # expectation (truncated bp on both terms, so the subtraction is
    # engine-stable) is the fabrication/capping screen.
    return benford_profile(_t(spark, sf_dir, "orders"), F.col("o_totalprice"))


BENFORD_SQL = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS HUGEINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE floor(o_totalprice) > 0),
c AS (SELECT digit, CAST(count(*) AS HUGEINT) AS n FROM d GROUP BY 1),
e AS (SELECT * FROM (VALUES (1, 3010), (2, 1760), (3, 1249), (4, 969), (5, 791),
                            (6, 669), (7, 579), (8, 511), (9, 457))
              AS t(digit, benford_bp))
SELECT c.digit, CAST(n AS BIGINT) AS n_rows,
       CAST(n * 10000 // sum(n) OVER () AS BIGINT) AS share_bp,
       CAST(e.benford_bp AS BIGINT) AS benford_bp,
       CAST(n * 10000 // sum(n) OVER () AS BIGINT) - e.benford_bp AS dev_bp
FROM c JOIN e ON e.digit = c.digit
"""


def eval_calibration(spark, sf_dir):
    # Reliability diagram (training/evalmetrics.py::calibration_curve):
    # n_chars bucketed by the same decile order-statistic thresholds the
    # PR sweep uses (ties land wholly in one bucket), observed
    # lang='en' rate per bucket in truncated bp. Distinguishes a score
    # that RANKS well (eval_auc) from one that's CALIBRATED.
    d = _t(spark, sf_dir, "documents")
    return calibration_curve(
        d, F.col("n_chars"), (F.col("lang") == "en").cast("long")
    )


EVAL_CALIB_SQL = """
WITH sc AS (
  SELECT CAST(n_chars AS BIGINT) AS s, CAST(count(*) AS HUGEINT) AS nt,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS HUGEINT) AS np
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
cum AS (
  SELECT *, coalesce(sum(nt) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         sum(nt) OVER () AS tot
  FROM sc),
th AS (
  SELECT s AS thr FROM cum, unnest(range(1, 10)) AS u(cut)
  WHERE (cut * tot) // 10 + 1 > below AND (cut * tot) // 10 + 1 <= below + nt),
bkt AS (
  SELECT c.s, c.nt, c.np,
         1 + sum(CASE WHEN c.s > t.thr THEN 1 ELSE 0 END) AS bucket
  FROM cum c CROSS JOIN th t GROUP BY 1, 2, 3)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(min(s) AS BIGINT) AS score_lo,
       CAST(max(s) AS BIGINT) AS score_hi, CAST(sum(nt) AS BIGINT) AS n_rows,
       CAST(sum(np) AS BIGINT) AS n_pos,
       CAST(sum(np) * 10000 // sum(nt) AS BIGINT) AS pos_rate_bp
FROM bkt GROUP BY 1
"""


def orders_rfm_segments(spark, sf_dir):
    # RFM quintile segmentation (operators/mining.py::rfm_segments):
    # recency/frequency/monetary scores 1..5 by exact rank position
    # (score = 1 + (rank−1)·5 div n, ties broken by custkey), higher =
    # better; one populated cell per (r, f, m) with customer count and
    # total cents. The rank windows run over the per-CUSTOMER aggregate
    # table, not the order table.
    return rfm_segments(_t(spark, sf_dir, "orders"))


RFM_SQL = """
WITH pc AS (
  SELECT o_custkey AS cust,
         date_diff('day', max(CAST(o_orderdate AS DATE)),
                   max(max(CAST(o_orderdate AS DATE))) OVER ()) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,4)) * 100)
                       AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY 1),
s AS (
  SELECT *,
    1 + ((row_number() OVER (ORDER BY recency_days DESC, cust ASC)) - 1) * 5
          // (count(*) OVER ()) AS r_score,
    1 + ((row_number() OVER (ORDER BY frequency ASC, cust ASC)) - 1) * 5
          // (count(*) OVER ()) AS f_score,
    1 + ((row_number() OVER (ORDER BY monetary_cents ASC, cust ASC)) - 1) * 5
          // (count(*) OVER ()) AS m_score
  FROM pc)
SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(monetary_cents) AS BIGINT) AS total_monetary_cents
FROM s GROUP BY 1, 2, 3
"""


def orders_t_closeness(spark, sf_dir):
    # t-closeness — the third screen of the privacy triad next to
    # customer_k_anonymity / orders_l_diversity
    # (training/privacy.py::t_closeness_report): per order-priority
    # group, the ordered Earth-Mover's Distance between the group's
    # totalprice-bucket distribution (50k-wide cent-exact bins) and the
    # table's, exact bp by cross-multiplication; exposed iff > 2000 bp
    # (the paper's t=0.2). All distribution work on the groups×bins
    # grid.
    o = _t(spark, sf_dir, "orders")
    bin_col = F.expr(
        f"floor(cast(o_totalprice as {_DEC}) * 100) div 5000000"
    )
    return t_closeness_report(o, ["o_orderpriority"], bin_col)


T_CLOSENESS_SQL = """
WITH b AS (
  SELECT o_orderpriority AS grp,
         CAST(floor(CAST(o_totalprice AS DECIMAL(18,4)) * 100) AS HUGEINT)
           // 5000000 AS bin
  FROM orders),
cell AS (SELECT grp, bin, CAST(count(*) AS HUGEINT) AS cg FROM b GROUP BY 1, 2),
gbin AS (SELECT bin, sum(cg) AS cq FROM cell GROUP BY 1),
grid AS (
  SELECT g.grp, q.bin, coalesce(c.cg, 0) AS cg, q.cq
  FROM (SELECT DISTINCT grp FROM cell) g CROSS JOIN gbin q
  LEFT JOIN cell c ON c.grp = g.grp AND c.bin = q.bin),
cum AS (
  SELECT *, sum(cg) OVER (PARTITION BY grp ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS cumg,
         sum(cq) OVER (PARTITION BY grp ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS cumq,
         sum(cg) OVER (PARTITION BY grp) AS ng,
         sum(cq) OVER (PARTITION BY grp) AS nq,
         count(*) OVER (PARTITION BY grp) AS m
  FROM grid),
a AS (
  SELECT grp, max(ng) AS ng, max(nq) AS nq, max(m) AS m,
         sum(abs(cumg * nq - cumq * ng)) AS emd
  FROM cum GROUP BY 1)
SELECT grp AS o_orderpriority, CAST(ng AS BIGINT) AS group_n,
       CASE WHEN m >= 2
            THEN CAST(emd * 10000 // ((m - 1) * ng * nq) AS BIGINT) END AS t_bp,
       CASE WHEN m >= 2
            THEN (emd * 10000 // ((m - 1) * ng * nq)) > 2000
            ELSE false END AS exposed
FROM a
"""


def lineitem_kendall_tau(spark, sf_dir):
    # Exact Kendall tau-a between quantity and discount
    # (operators/stats.py::kendall_tau_grid): monotonicity without
    # Pearson's linearity or Spearman's square root. Distributes
    # BECAUSE the metrics are discrete — rows collapse to the ≤ 50×11
    # joint grid and the pair counting is grid², independent of row
    # count.
    li = _t(spark, sf_dir, "lineitem")
    return kendall_tau_grid(
        li,
        F.floor(F.col("l_quantity")),
        F.floor(F.col("l_discount").cast(_DEC) * 100),
    )


KENDALL_SQL = """
WITH cells AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
         CAST(floor(CAST(l_discount AS DECIMAL(18,4)) * 100) AS BIGINT) AS y,
         CAST(count(*) AS HUGEINT) AS cnt
  FROM lineitem GROUP BY 1, 2),
p AS (
  SELECT sum(CASE WHEN b.y > a.y THEN a.cnt * b.cnt ELSE 0 END) AS c,
         sum(CASE WHEN b.y < a.y THEN a.cnt * b.cnt ELSE 0 END) AS d
  FROM cells a JOIN cells b ON a.x < b.x),
t AS (SELECT sum(cnt) AS n, CAST(count(*) AS BIGINT) AS n_cells FROM cells)
SELECT CAST(n AS BIGINT) AS n_rows, n_cells, CAST(c AS BIGINT) AS concordant,
       CAST(d AS BIGINT) AS discordant,
       CASE WHEN n >= 2 THEN
         CAST((CASE WHEN c - d < 0 THEN -1 ELSE 1 END)
              * (abs(c - d) * 10000 // ((n * (n - 1)) // 2)) AS BIGINT) END
         AS tau_a_bp
FROM t, p
"""


def orders_wape_backtest(spark, sf_dir):
    # Naive-seasonal forecast backtest per order priority
    # (operators/stats.py::wape_backtest): monthly revenue (cents)
    # forecast by its value 12 months earlier; error as exact WAPE
    # basis points (Σ|A−F| div ΣA — no per-point division, so small
    # months can't explode the metric). Only months whose lag-12
    # predecessor exists are scored.
    o = _t(spark, sf_dir, "orders")
    return wape_backtest(
        o,
        "o_orderpriority",
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1,
        F.floor(F.col("o_totalprice").cast(_DEC) * 100),
        lag=12,
    ).select(
        F.col("grp").alias("o_orderpriority"),
        "n_periods_scored", "actual_total", "abs_err_total", "wape_bp",
    )


WAPE_SQL = """
WITH per AS (
  SELECT o_orderpriority AS grp,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS p,
         CAST(sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,4)) * 100)
                       AS HUGEINT)) AS HUGEINT) AS a
  FROM orders GROUP BY 1, 2),
s AS (
  SELECT cur.grp, cur.a, prev.a AS f
  FROM per cur JOIN per prev
    ON prev.grp = cur.grp AND prev.p = cur.p - 12)
SELECT grp AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_periods_scored,
       CAST(sum(a) AS BIGINT) AS actual_total,
       CAST(sum(abs(a - f)) AS BIGINT) AS abs_err_total,
       CASE WHEN sum(a) > 0
            THEN CAST(sum(abs(a - f)) * 10000 // sum(a) AS BIGINT) END AS wape_bp
FROM s GROUP BY 1
"""


def customer_er_quality(spark, sf_dir):
    # Blocking-quality report over the planted ER benchmark
    # (operators/entity_link.py::er_blocking_quality): pair completeness
    # (blocking recall vs the planted same-customer truth — what the
    # stop-gram/cap screens cost) and reduction ratio (share of the
    # all-pairs space eliminated — why blocking exists), plus candidate
    # precision, all exact bp. True-pair counts come from a
    # groupBy(entity) c·(c−1)/2 — truth pairs are never materialized.
    return er_blocking_quality(
        _er_planted_mentions(spark, sf_dir),
        F.expr("mention_id div 4"),
        b=_ER_B,
        df_cap_pct=_ER_DF_PCT,
        max_bucket=_ER_BUCKET,
    )


def er_quality_sql() -> str:
    # reuse the customer-ER oracle's CTE chain verbatim up to `cand`
    # (same blocking constants), then compute the quality ratios
    prefix = customer_er_sql().split("\nsizes AS")[0].rstrip().rstrip(",")
    return (
        prefix
        + """,
mt AS (SELECT CAST(count(*) AS HUGEINT) AS nm FROM men),
tr AS (SELECT CAST(sum((c * (c - 1)) // 2) AS HUGEINT) AS tp FROM (
  SELECT count(*) AS c FROM men GROUP BY mention_id // 4)),
cs AS (SELECT CAST(count(*) AS HUGEINT) AS nc,
              CAST(coalesce(sum(CASE WHEN ia // 4 = ib // 4 THEN 1 ELSE 0 END), 0)
                   AS HUGEINT) AS mtc
       FROM cand)
SELECT CAST(nm AS BIGINT) AS n_mentions, CAST(tp AS BIGINT) AS n_truth_pairs,
       CAST(nc AS BIGINT) AS n_candidate_pairs, CAST(mtc AS BIGINT) AS n_matched,
       CASE WHEN tp > 0 THEN CAST(mtc * 10000 // tp AS BIGINT) END
         AS pair_completeness_bp,
       CASE WHEN nc > 0 THEN CAST(mtc * 10000 // nc AS BIGINT) END
         AS candidate_precision_bp,
       CASE WHEN nm >= 2 THEN
         CAST(10000 - nc * 10000 // ((nm * (nm - 1)) // 2) AS BIGINT) END
         AS reduction_ratio_bp
FROM mt, tr, cs"""
    )


def parts_transitivity(spark, sf_dir):
    # Global transitivity of the parts co-purchase graph
    # (operators/graph.py::transitivity_global): 3·triangles/wedges in
    # exact bp — the one-number cluster-vs-random diagnostic beside the
    # per-node kg/dedup triangle queries and parts_ktruss (same ≥2
    # co-order edge construction). Σ per-node triangle counts (the
    # degree-ordered enumeration) is exactly 3T; wedges are a degree
    # aggregate.
    li = _t(spark, sf_dir, "lineitem")
    x, y = li.alias("x"), li.alias("y")
    co = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
            F.col("x.l_orderkey").alias("_o"),
        )
        .distinct()
        .groupBy("src", "dst")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") >= _KTRUSS_MIN_CO)
        .select("src", "dst")
    )
    return transitivity_global(co)


TRANSITIVITY_SQL = f"""
WITH co AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b, x.l_orderkey AS o
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
e0 AS MATERIALIZED (
  SELECT a, b FROM co GROUP BY a, b HAVING count(*) >= {_KTRUSS_MIN_CO}),
und AS (SELECT a AS s, b AS d FROM e0 UNION SELECT b, a FROM e0),
deg AS (SELECT s, CAST(count(*) AS HUGEINT) AS dd FROM und GROUP BY s),
w AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes, sum(dd) AS degtot,
         sum((dd * (dd - 1)) // 2) AS wedges
  FROM deg),
t AS (
  SELECT CAST(count(*) AS HUGEINT) AS ntri FROM (
    SELECT ab.a, ab.b, bc.b AS c
    FROM e0 ab JOIN e0 bc ON bc.a = ab.b
    JOIN e0 ac ON ac.a = ab.a AND ac.b = bc.b))
SELECT n_nodes, CAST(degtot // 2 AS BIGINT) AS n_edges,
       CAST(ntri AS BIGINT) AS n_triangles, CAST(wedges AS BIGINT) AS n_wedges,
       CASE WHEN wedges > 0
            THEN CAST(3 * ntri * 10000 // wedges AS BIGINT) END
         AS transitivity_bp
FROM w, t
"""


def lineitem_mann_whitney(spark, sf_dir):
    # Exact Mann-Whitney U on the quantity grid between returned ('R')
    # and accepted ('A') lineitems (operators/stats.py::
    # mann_whitney_grid): the nonparametric "did the distribution
    # shift" test; 2U counted in half-units so ties stay integer.
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    return mann_whitney_grid(
        li, F.col("l_returnflag") == "R", F.floor(F.col("l_quantity"))
    )


MANN_WHITNEY_SQL = """
WITH cells AS (
  SELECT l_returnflag = 'R' AS side, CAST(floor(l_quantity) AS BIGINT) AS v,
         CAST(count(*) AS HUGEINT) AS cnt
  FROM lineitem
  WHERE l_returnflag IN ('R', 'A') AND l_quantity IS NOT NULL
  GROUP BY 1, 2),
tot AS (
  SELECT sum(CASE WHEN side THEN cnt END) AS na,
         sum(CASE WHEN NOT side THEN cnt END) AS nb
  FROM cells),
u AS (
  SELECT sum(CASE WHEN a.v > b.v THEN 2 * a.cnt * b.cnt
              WHEN a.v = b.v THEN a.cnt * b.cnt ELSE 0 END) AS u2
  FROM cells a JOIN cells b ON a.side AND NOT b.side)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(u2 AS BIGINT) AS u2_a,
       CAST((u2 * 10000) // (2 * na * nb) AS BIGINT) AS u_bp,
       CAST((CASE WHEN u2 - na * nb < 0 THEN -1 ELSE 1 END)
            * ((abs(u2 - na * nb) * 10000) // (na * nb)) AS BIGINT) AS rb_bp
FROM tot, u
"""


def orders_cohort_matrix(spark, sf_dir):
    # Cohort retention/revenue triangle: customers keyed by the month
    # of their FIRST order, activity counted per (cohort, exact
    # calendar month offset) (operators/stats.py::cohort_matrix).
    return cohort_matrix(
        _t(spark, sf_dir, "orders"),
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long"),
    )


COHORT_SQL = """
WITH base AS (
  SELECT o_custkey AS ent,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS cm,
         CAST(round(o_totalprice * 100) AS BIGINT) AS rc
  FROM orders),
firsts AS (SELECT ent, min(cm) AS c0 FROM base GROUP BY ent),
j AS (SELECT b.ent, b.rc, f.c0, b.cm - f.c0 AS month_offset
      FROM base b JOIN firsts f USING (ent))
SELECT printf('%04d-%02d', c0 // 12, c0 % 12 + 1) AS cohort_month,
       CAST(month_offset AS BIGINT) AS month_offset,
       CAST(count(DISTINCT ent) AS BIGINT) AS n_active,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(rc) AS BIGINT) AS revenue_cents
FROM j GROUP BY c0, month_offset
"""


def customer_interarrival(spark, sf_dir):
    # Purchase-cadence audit: whole-day gaps between a customer's
    # consecutive orders, profiled per market segment with exact order
    # statistics (operators/stats.py::interarrival_profile) — lower
    # median / lower p90 / max with deterministic tie-breaks.
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == c.c_custkey,
    )
    return interarrival_profile(
        joined, "o_custkey", "o_orderdate", "o_orderkey", "c_mktsegment"
    ).select(
        F.col("grp").alias("mktsegment"),
        "n_gaps", "median_gap_days", "p90_gap_days", "max_gap_days",
    )


INTERARRIVAL_SQL = """
WITH base AS (
  SELECT c.c_mktsegment AS grp, o.o_custkey AS ent, o.o_orderdate AS ts,
         o.o_orderkey AS id
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
g AS (
  SELECT grp, ent, id,
         date_diff('day', CAST(lag(ts) OVER w AS DATE), CAST(ts AS DATE)) AS gap_days
  FROM base WINDOW w AS (PARTITION BY ent ORDER BY ts, id)),
gg AS (SELECT grp, ent, id, CAST(gap_days AS BIGINT) AS gap_days
       FROM g WHERE gap_days IS NOT NULL),
r AS (SELECT grp, gap_days, ent, id,
        row_number() OVER (PARTITION BY grp ORDER BY gap_days, ent, id) AS rn,
        count(*) OVER (PARTITION BY grp) AS n
      FROM gg)
SELECT grp AS mktsegment,
       CAST(max(n) AS BIGINT) AS n_gaps,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_days END) AS BIGINT)
         AS median_gap_days,
       CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_days END) AS BIGINT)
         AS p90_gap_days,
       CAST(max(CASE WHEN rn = n THEN gap_days END) AS BIGINT) AS max_gap_days
FROM r GROUP BY grp
"""


def lineitem_spearman_rho(spark, sf_dir):
    # Exact-tie Spearman rank correlation on the (quantity, discount)
    # grid (operators/stats.py::spearman_rho_grid): doubled average
    # ranks keep ties integer; the denominator is the exact-per-factor
    # isqrt(vx)*isqrt(vy) with a +/-10000 clamp (vx*vy itself overflows
    # decimal38 past ~75k rows — review fix) — completing the
    # association family beside Kendall (concordance) and cov_pairs
    # (linearity).
    li = _t(spark, sf_dir, "lineitem")
    return spearman_rho_grid(
        li,
        F.floor(F.col("l_quantity")),
        F.floor(F.col("l_discount").cast(_DEC) * 100),
    )


def spearman_sql() -> str:
    return f"""
WITH cells AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
         CAST(floor(CAST(l_discount AS DECIMAL(18,4)) * 100) AS BIGINT) AS y,
         CAST(count(*) AS HUGEINT) AS w
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
  GROUP BY 1, 2),
mx AS (SELECT x, sum(w) AS cx FROM cells GROUP BY x),
my AS (SELECT y, sum(w) AS cy FROM cells GROUP BY y),
rx AS (SELECT x, 2 * coalesce(sum(cx) OVER (ORDER BY x
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cx + 1 AS r2x
       FROM mx),
ry AS (SELECT y, 2 * coalesce(sum(cy) OVER (ORDER BY y
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cy + 1 AS r2y
       FROM my),
agg AS (
  SELECT sum(w) AS n, sum(w * r2x * r2y) AS sxy,
         sum(w * r2x * r2x) AS sxx, sum(w * r2y * r2y) AS syy
  FROM cells JOIN rx USING (x) JOIN ry USING (y)),
m AS (
  SELECT n, n * sxy - (n * (n + 1)) * (n * (n + 1)) AS cov,
         n * sxx - (n * (n + 1)) * (n * (n + 1)) AS vx,
         n * syy - (n * (n + 1)) * (n * (n + 1)) AS vy
  FROM agg),
d AS (SELECT n, cov, {_duck_isqrt('vx')} * {_duck_isqrt('vy')} AS den FROM m)
SELECT CAST(n AS BIGINT) AS n_rows,
       CASE WHEN den <= 0 THEN NULL ELSE
         CAST((CASE WHEN cov < 0 THEN -1 ELSE 1 END)
              * least((abs(cov) * 10000) // den, 10000) AS BIGINT) END AS rho_bp
FROM d
"""


def parts_item_cosine(spark, sf_dir):
    # Item-item collaborative-filtering cosine: parts scored by
    # co-purchasing-customer overlap / sqrt(popularity product), the
    # exact-integer isqrt contract (operators/mining.py::
    # item_cosine_pairs) — "frequently bought together", enumerated
    # only within customer baskets, never all-pairs.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    baskets = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("ent"), F.col("l_partkey").alias("item")
    )
    return item_cosine_pairs(baskets, min_co=3, min_cos_bp=500)


def item_cosine_sql() -> str:
    return f"""
WITH inc AS (
  SELECT DISTINCT o.o_custkey AS ent, l.l_partkey AS item
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
ni AS (SELECT item, count(*) AS n FROM inc GROUP BY item),
co AS (
  SELECT x.item AS item_a, y.item AS item_b, CAST(count(*) AS BIGINT) AS n_co
  FROM inc x JOIN inc y ON x.ent = y.ent AND x.item < y.item
  GROUP BY 1, 2 HAVING count(*) >= 3),
j AS (
  SELECT item_a, item_b, n_co, CAST(a.n AS BIGINT) AS n_a,
         CAST(b.n AS BIGINT) AS n_b, CAST(a.n AS HUGEINT) * b.n AS nn
  FROM co JOIN ni a ON item_a = a.item JOIN ni b ON item_b = b.item)
SELECT item_a, item_b, n_co, n_a, n_b,
       CAST((CAST(n_co AS HUGEINT) * 10000) // {_duck_isqrt('nn')} AS BIGINT)
         AS cos_bp
FROM j
WHERE (CAST(n_co AS HUGEINT) * 10000) // {_duck_isqrt('nn')} >= 500
"""


def customer_er_fs_weights(spark, sf_dir):
    # Fellegi-Sunter agreement weights learned from the planted ER
    # benchmark (operators/entity_link.py::er_fs_weights): per
    # comparison feature, m = P(agree|match) and u = P(agree|non-match)
    # over the BLOCKED candidate population, plus the integer
    # likelihood-ratio proxy lr_x100 — the "learn match weights from
    # labeled data" step that turns the ER stack into a trainable
    # matcher.
    return er_fs_weights(
        _er_planted_mentions(spark, sf_dir),
        F.expr("mention_id div 4"),
        b=_ER_B,
        df_cap_pct=_ER_DF_PCT,
        max_bucket=_ER_BUCKET,
    )


def er_fs_weights_sql() -> str:
    # reuse the customer-ER oracle's CTE chain verbatim through `cand`
    # (same blocking constants, the er_quality precedent), then score
    # the three comparison features against the planted truth
    prefix = customer_er_sql().split("\nsizes AS")[0].rstrip().rstrip(",")
    return (
        prefix
        + """,
sizes AS (SELECT mention_id, count(*) AS sz FROM grams GROUP BY mention_id),
inter AS (SELECT c.ia, c.ib, count(*) AS n_common
          FROM cand c JOIN grams ga ON ga.mention_id = c.ia
                      JOIN grams gb ON gb.mention_id = c.ib AND gb.h = ga.h
          GROUP BY c.ia, c.ib),
feat AS (
  SELECT (c.ia // 4 = c.ib // 4) AS is_match,
         (i.n_common * 100) // (sa.sz + sb.sz - i.n_common) >= 70 AS f_jacc,
         substr(ma.name, 1, 4) = substr(mb.name, 1, 4) AS f_prefix,
         abs(length(ma.name) - length(mb.name)) <= 1 AS f_len
  FROM cand c
  JOIN inter i ON i.ia = c.ia AND i.ib = c.ib
  JOIN sizes sa ON sa.mention_id = c.ia
  JOIN sizes sb ON sb.mention_id = c.ib
  JOIN men ma ON ma.mention_id = c.ia
  JOIN men mb ON mb.mention_id = c.ib),
st AS (
  SELECT 'jaccard70' AS feature, is_match, f_jacc AS agree FROM feat
  UNION ALL SELECT 'prefix4', is_match, f_prefix FROM feat
  UNION ALL SELECT 'len1', is_match, f_len FROM feat),
agg AS (
  SELECT feature,
         CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         CAST(sum(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_nonmatch,
         CAST(sum(CASE WHEN is_match AND agree THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_match,
         CAST(sum(CASE WHEN NOT is_match AND agree THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_nonmatch
  FROM st GROUP BY feature)
SELECT feature, n_match, n_nonmatch,
       CASE WHEN n_match > 0
            THEN CAST((10000 * n_agree_match) // n_match AS BIGINT) END AS m_bp,
       CASE WHEN n_nonmatch > 0
            THEN CAST((10000 * n_agree_nonmatch) // n_nonmatch AS BIGINT) END AS u_bp,
       CASE WHEN n_match > 0 AND n_nonmatch > 0 THEN
         CAST((((10000 * n_agree_match) // n_match) * 100)
              // greatest((10000 * n_agree_nonmatch) // n_nonmatch, 1) AS BIGINT)
       END AS lr_x100
FROM agg"""
    )


def lineitem_gini_split(spark, sf_dir):
    # exact decision-stump search (operators/stats.py::gini_best_split):
    # weighted Gini impurity of every quantity threshold against the
    # returned-flag label, scaled-truncated integer cost, rk=1 = the
    # split CART would take — the supervised-ML inner loop as an
    # auditable engine-reproducible query.
    li = _t(spark, sf_dir, "lineitem")
    return gini_best_split(
        li, F.col("l_quantity"), F.col("l_returnflag") == "R"
    )


LINEITEM_GINI_SQL = """
WITH g AS (
  SELECT CAST(l_quantity AS BIGINT) AS v, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS pos
  FROM lineitem GROUP BY 1),
c AS (SELECT v AS threshold,
        sum(n) OVER w AS nl, sum(pos) OVER w AS pl,
        sum(n) OVER () AS nt, sum(pos) OVER () AS pt
      FROM g WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
k AS (SELECT threshold, nl, pl, nt - nl AS nr, pt - pl AS pr
      FROM c WHERE nl < nt),
cost AS (SELECT threshold,
        CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
        CAST(nr AS BIGINT) AS n_right, CAST(pr AS BIGINT) AS pos_right,
        CAST((1000000 * (nl * nl - pl * pl - (nl - pl) * (nl - pl))) // nl
           + (1000000 * (nr * nr - pr * pr - (nr - pr) * (nr - pr))) // nr
           AS BIGINT) AS cost_scaled
      FROM k)
SELECT threshold, n_left, pos_left, n_right, pos_right, cost_scaled,
       CAST(row_number() OVER (ORDER BY cost_scaled ASC, threshold ASC)
            AS BIGINT) AS rk
FROM cost
"""


def orders_benford_audit(spark, sf_dir):
    # Benford first-digit audit of order totals (operators/stats.py::
    # benford_audit): observed vs published log10(1+1/d) x10000 constants
    # — the fabricated-data / unit-mixing screen for monetary columns,
    # pure integer arithmetic.
    return benford_audit(
        _t(spark, sf_dir, "orders"), F.round(F.col("o_totalprice") * 100)
    )


ORDERS_BENFORD_SQL = """
WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
obs AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM v WHERE v > 0 GROUP BY 1),
n AS (SELECT sum(n_obs) AS nt FROM obs),
exp AS (SELECT CAST(d AS BIGINT) AS digit, CAST(x AS BIGINT) AS exp_x10000
        FROM (VALUES (1, 3010), (2, 1761), (3, 1249), (4, 969), (5, 792),
                     (6, 669), (7, 580), (8, 512), (9, 458)) AS t(d, x))
SELECT o.digit, o.n_obs,
       CAST(10000 * o.n_obs // n.nt AS BIGINT) AS obs_x10000,
       e.exp_x10000,
       CAST(10000 * o.n_obs // n.nt - e.exp_x10000 AS BIGINT) AS dev_x10000
FROM obs o CROSS JOIN n JOIN exp e USING (digit)
"""


def orders_ivm_agg(spark, sf_dir):
    # incremental view maintenance (operators/merge.py::
    # maintain_group_agg): the per-priority (count, sum-cents) view
    # maintained from a CDC delta (inserts = 1997+ orders, deletes =
    # every pre-1997 order with orderkey % 10 == 0) WITHOUT rescanning
    # the base — the oracle recomputes from scratch, so the hash match
    # re-proves the maintenance algebra on every run.
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cut = "1997-01-01"
    base = (
        orders.filter(F.col("o_orderdate") < cut)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(cents).cast("long").alias("sum_cents"),
        )
    )
    ins = orders.filter(F.col("o_orderdate") >= cut).select(
        "o_orderpriority", cents.alias("v"), F.lit(False).alias("is_del")
    )
    dels = orders.filter(
        (F.col("o_orderdate") < cut) & (F.col("o_orderkey") % 10 == 0)
    ).select("o_orderpriority", cents.alias("v"), F.lit(True).alias("is_del"))
    return maintain_group_agg(
        base, ins.unionByName(dels), "o_orderpriority", "v", "is_del"
    )


ORDERS_IVM_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders
WHERE o_orderdate >= DATE '1997-01-01' OR o_orderkey % 10 <> 0
GROUP BY 1
"""


def lineitem_join_card(spark, sf_dir):
    # histogram join-cardinality estimation (operators/stats.py::
    # join_cardinality_estimate): the textbook uniform-assumption
    # estimate n_a*n_b div max(d_a,d_b) per key-hash bucket next to the
    # EXACT join size (per-key count products, never the join itself)
    # and the signed error — where a planner's uniform assumption breaks
    # is exactly where skew hides.
    return join_cardinality_estimate(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        "o_orderkey",
        "l_orderkey",
        n_buckets=16,
    )


LINEITEM_JOIN_CARD_SQL = """
WITH ka AS (SELECT CAST(o_orderkey AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS c
            FROM orders GROUP BY 1),
kb AS (SELECT CAST(l_orderkey AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS c
       FROM lineitem GROUP BY 1),
sa AS (SELECT k % 16 AS bucket, CAST(sum(c) AS BIGINT) AS n_a,
              CAST(count(*) AS BIGINT) AS d_a FROM ka GROUP BY 1),
sb AS (SELECT k % 16 AS bucket, CAST(sum(c) AS BIGINT) AS n_b,
              CAST(count(*) AS BIGINT) AS d_b FROM kb GROUP BY 1),
ex AS (SELECT ka.k % 16 AS bucket, CAST(sum(ka.c * kb.c) AS BIGINT) AS exact_rows
       FROM ka JOIN kb USING (k) GROUP BY 1),
j AS (SELECT bucket, coalesce(n_a, 0) AS n_a, coalesce(d_a, 0) AS d_a,
             coalesce(n_b, 0) AS n_b, coalesce(d_b, 0) AS d_b
      FROM sa FULL OUTER JOIN sb USING (bucket))
SELECT j.bucket, j.n_a, j.d_a, j.n_b, j.d_b,
       CAST(CASE WHEN j.n_a > 0 AND j.n_b > 0
                 THEN j.n_a * j.n_b // greatest(j.d_a, j.d_b)
                 ELSE 0 END AS BIGINT) AS est_rows,
       CAST(coalesce(ex.exact_rows, 0) AS BIGINT) AS exact_rows,
       CAST(CASE WHEN ex.exact_rows > 0 THEN
              (CASE WHEN j.n_a * j.n_b // greatest(j.d_a, j.d_b)
                         - ex.exact_rows < 0 THEN -1 ELSE 1 END)
              * (10000 * abs(j.n_a * j.n_b // greatest(j.d_a, j.d_b)
                             - ex.exact_rows) // ex.exact_rows)
            END AS BIGINT) AS err_bp
FROM j LEFT JOIN ex USING (bucket)
"""


def customer_er_snm_quality(spark, sf_dir):
    # sorted-neighborhood blocking (operators/entity_link.py::
    # snm_candidate_pairs, window 4) evaluated with the SAME
    # blocking_quality_report and planted truth as the token/stop-gram
    # strategy (customer_er_quality) — the two classic blocking
    # paradigms, head-to-head comparable by construction.
    m = _er_planted_mentions(spark, sf_dir)
    return blocking_quality_report(
        m, F.expr("mention_id div 4"), snm_candidate_pairs(m, window=4)
    )


def er_snm_quality_sql() -> str:
    # mention CTEs verbatim from the customer-ER oracle; metric tail
    # verbatim from the blocking-quality oracle — single source of truth
    # for both the benchmark and the report arithmetic
    men_prefix = customer_er_sql().split("\ngrams AS")[0].rstrip().rstrip(",")
    metric_tail = er_quality_sql().split("\nmt AS")[1]
    return (
        men_prefix
        + """,
r AS (SELECT mention_id,
             row_number() OVER (ORDER BY name, mention_id) AS rk
      FROM men),
cand AS (SELECT a.mention_id AS ia, b.mention_id AS ib
         FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk < 4),
mt AS"""
        + metric_tail
    )


def documents_analyze_stats(spark, sf_dir):
    # ANALYZE TABLE as a query (operators/stats.py::analyze_table_stats):
    # per column exact NDV, null count, and average rendered width x100 —
    # the catalog numbers join_cardinality_estimate's histograms refine;
    # one aggregate pass for all columns.
    return analyze_table_stats(_t(spark, sf_dir, "documents"))


def documents_analyze_sql() -> str:
    arms = []
    for c in ["doc_id", "text", "lang", "source", "n_chars"]:
        arms.append(f"""
SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(CASE WHEN count({c}) > 0
                 THEN 100 * sum(length(CAST({c} AS VARCHAR))) // count({c})
            END AS BIGINT) AS avg_len_x100
FROM documents""")
    return "\nUNION ALL\n".join(arms)


def customer_decile_lift(spark, sf_dir):
    # cumulative lift table (operators/stats.py::decile_lift): customers
    # ranked by order revenue, 10 tiles; lift at tile 1 is the revenue-
    # concentration headline, tile 10 is exactly 10000 by construction
    # (self-check the oracle re-proves).
    return decile_lift(
        _t(spark, sf_dir, "orders"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long"),
    )


CUSTOMER_DECILE_SQL = """
WITH per AS (SELECT o_custkey AS ent,
                    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS cents
             FROM orders GROUP BY 1),
r AS (SELECT ent, cents,
             row_number() OVER (ORDER BY cents DESC, ent ASC) AS rn,
             count(*) OVER () AS n
      FROM per),
t AS (SELECT CAST((rn - 1) * 10 // n + 1 AS BIGINT) AS tile,
             CAST(count(*) AS BIGINT) AS n_entities,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM r GROUP BY 1),
tot AS (SELECT sum(revenue_cents) AS tt FROM t),
c AS (SELECT tile, n_entities, revenue_cents,
             sum(revenue_cents) OVER (ORDER BY tile
                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
SELECT c.tile, c.n_entities, c.revenue_cents,
       CAST(10000 * c.revenue_cents // tot.tt AS BIGINT) AS share_bp,
       CAST(10000 * c.cum // tot.tt AS BIGINT) AS cum_share_bp,
       CAST((10000 * c.cum // tot.tt) * 10 // c.tile AS BIGINT) AS lift_x10000
FROM c, tot
"""


def supplier_part_core(spark, sf_dir):
    # (alpha,beta)-bipartite core of the supplier x part graph
    # (operators/graph.py::bipartite_core, 3 peel rounds, alpha=520
    # beta=10): suppliers stocking >= 520 parts that are each stocked by
    # >= 10 such suppliers — the SIDED mutual-reinforcement core a
    # one-sided k-core cannot express. Thresholds chosen by a measured
    # sweep: this near-uniform graph either barely peels or cascades to
    # empty; (520, 10) shrinks 51731 -> 26128 -> 24363 -> 1571 at
    # sf0.01 — every round does real work and the core survives.
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        F.col("l_partkey").cast("long").alias("dst"),
    )
    return bipartite_core(edges, alpha=520, beta=10, rounds=3)


def supplier_part_core_sql() -> str:
    alpha = 520
    beta = 10
    rounds = 3
    sql = """WITH e0 AS MATERIALIZED (
  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                  CAST(l_partkey AS BIGINT) AS dst
  FROM lineitem)"""
    for r in range(1, rounds + 1):
        p = f"e{r - 1}"
        sql += f""",
l{r} AS (SELECT src FROM {p} GROUP BY src HAVING count(*) >= {alpha}),
r{r} AS (SELECT dst FROM {p} GROUP BY dst HAVING count(*) >= {beta}),
e{r} AS MATERIALIZED (
  SELECT {p}.src, {p}.dst FROM {p}
  JOIN l{r} USING (src) JOIN r{r} USING (dst))"""
    last = f"e{rounds}"
    sql += f""",
ld AS (SELECT src, CAST(count(*) AS BIGINT) AS left_deg FROM {last} GROUP BY 1),
rd AS (SELECT dst, CAST(count(*) AS BIGINT) AS right_deg FROM {last} GROUP BY 1)
SELECT {last}.src, {last}.dst, ld.left_deg, rd.right_deg
FROM {last} JOIN ld USING (src) JOIN rd USING (dst)"""
    return sql


def orders_chi2_independence(spark, sf_dir):
    # Pearson chi-square independence audit + Cramér's V
    # (operators/stats.py::chi2_independence): is order STATUS associated
    # with order PRIORITY?  The full r×c contingency (zero cells
    # included) is built from two tiny level-total frames; each cell
    # contributes ((obs·n − rt·ct)²·10⁶) div (n·rt·ct) in decimal(38,0)
    # — one truncating division per cell, so any engine reproduces the
    # sum bit-for-bit; V lands in exact basis points via isqrt_expr.
    return chi2_independence(
        _t(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


def orders_chi2_sql() -> str:
    v_arg = "(chi2_e6 * CAST(100 AS HUGEINT)) // (n * least(r - 1, c - 1))"
    return f"""
WITH obs AS (SELECT o_orderstatus AS x, o_orderpriority AS y,
                    CAST(count(*) AS HUGEINT) AS obs
             FROM orders
             WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
             GROUP BY 1, 2),
rt AS (SELECT x, CAST(sum(obs) AS HUGEINT) AS rt FROM obs GROUP BY 1),
ct AS (SELECT y, CAST(sum(obs) AS HUGEINT) AS ct FROM obs GROUP BY 1),
tot AS (SELECT CAST(sum(obs) AS HUGEINT) AS n,
               CAST(count(DISTINCT x) AS HUGEINT) AS r,
               CAST(count(DISTINCT y) AS HUGEINT) AS c
        FROM obs),
cells AS (SELECT rt.rt, ct.ct, coalesce(o.obs, CAST(0 AS HUGEINT)) AS obs
          FROM rt CROSS JOIN ct
          LEFT JOIN obs o ON o.x = rt.x AND o.y = ct.y),
agg AS (SELECT n, r, c,
               CAST(sum(((obs * n - rt * ct) * (obs * n - rt * ct)
                         * CAST(1000000 AS HUGEINT)) // (n * rt * ct))
                    AS HUGEINT) AS chi2_e6
        FROM cells CROSS JOIN tot GROUP BY 1, 2, 3)
SELECT CAST(n AS BIGINT) AS n,
       CAST(r AS BIGINT) AS n_levels_x,
       CAST(c AS BIGINT) AS n_levels_y,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       CAST(chi2_e6 AS BIGINT) AS chi2_e6,
       CAST({_duck_isqrt(v_arg)} AS BIGINT) AS cramers_v_bp
FROM agg
"""


def lineitem_weighted_median(spark, sf_dir):
    # exact lower weighted median (operators/stats.py::
    # weighted_median_by_group): per return flag, the smallest extended
    # price whose cumulative QUANTITY reaches half the flag's total
    # quantity — the volume-weighted price point a unit-weight median
    # misrepresents; ties pre-aggregated per (flag, price) so both
    # engines cross the threshold identically.
    return weighted_median_by_group(
        _t(spark, sf_dir, "lineitem"),
        "l_returnflag",
        F.col("l_extendedprice"),
        F.col("l_quantity").cast("long"),
    )


LINEITEM_WMEDIAN_SQL = """
WITH grid AS (SELECT l_returnflag AS grp, l_extendedprice AS v,
                     CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND CAST(l_quantity AS BIGINT) > 0
              GROUP BY 1, 2),
cum AS (SELECT grp, v,
          sum(w) OVER (PARTITION BY grp ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cw,
          sum(w) OVER (PARTITION BY grp) AS W,
          count(*) OVER (PARTITION BY grp) AS nv
        FROM grid),
hit AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY v) AS rk
        FROM cum WHERE cw * 2 >= W)
SELECT grp AS l_returnflag, CAST(nv AS BIGINT) AS n_values,
       CAST(W AS BIGINT) AS total_weight, v AS weighted_median
FROM hit WHERE rk = 1
"""


def orders_chi2_cells(spark, sf_dir):
    # per-cell drill-down of the chi-square audit (operators/stats.py::
    # chi2_cell_residuals): WHICH (status, priority) cells drive the
    # association — observed vs expected×100 and the signed Pearson
    # standardized residual ×100 via the shared isqrt contract; shares
    # _contingency_cells with the summary statistic so grid and
    # statistic can never disagree.
    return chi2_cell_residuals(
        _t(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


def orders_chi2_cells_sql() -> str:
    mag = _duck_isqrt(
        "((obs * n - rt * ct) * (obs * n - rt * ct)"
        " * CAST(10000 AS HUGEINT)) // (n * rt * ct)"
    )
    return f"""
WITH obs AS (SELECT o_orderstatus AS x, o_orderpriority AS y,
                    CAST(count(*) AS HUGEINT) AS obs
             FROM orders
             WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
             GROUP BY 1, 2),
rt AS (SELECT x, CAST(sum(obs) AS HUGEINT) AS rt FROM obs GROUP BY 1),
ct AS (SELECT y, CAST(sum(obs) AS HUGEINT) AS ct FROM obs GROUP BY 1),
tot AS (SELECT CAST(sum(obs) AS HUGEINT) AS n FROM obs),
cells AS (SELECT rt.x, ct.y, rt.rt, ct.ct,
                 coalesce(o.obs, CAST(0 AS HUGEINT)) AS obs
          FROM rt CROSS JOIN ct
          LEFT JOIN obs o ON o.x = rt.x AND o.y = ct.y)
SELECT x, y, CAST(obs AS BIGINT) AS obs,
       CAST((rt * ct * 100) // n AS BIGINT) AS exp_x100,
       CAST((CASE WHEN obs * n - rt * ct < 0 THEN -1
                  WHEN obs * n - rt * ct > 0 THEN 1 ELSE 0 END)
            * ({mag}) AS BIGINT) AS resid_x100
FROM cells CROSS JOIN tot
"""


def lineitem_simpson_audit(spark, sf_dir):
    # aggregation-reversal audit (operators/stats.py::
    # simpson_reversal_audit): does the quantity-discount association
    # sign flip between the pooled table and any return flag? Signs come
    # from the exact decimal covariance numerator n·Σxy − Σx·Σy
    # (integer-scaled inputs: quantity as long, discount in percent) —
    # no denominators, no rounding, engine-bit-exact.
    return simpson_reversal_audit(
        _t(spark, sf_dir, "lineitem"),
        F.col("l_quantity").cast("long"),
        F.round(F.col("l_discount") * 100).cast("long"),
        "l_returnflag",
    )


LINEITEM_SIMPSON_SQL = """
WITH per AS (
  SELECT l_returnflag AS seg,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(l_quantity AS BIGINT)
                  * CAST(round(l_discount * 100) AS BIGINT)) AS HUGEINT)
           AS sxy
  FROM lineitem GROUP BY 1),
pooled AS (
  SELECT CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END AS pooled_sign
  FROM (SELECT sum(n) * sum(sxy) - sum(sx) * sum(sy) AS s FROM per))
SELECT per.seg AS l_returnflag,
       CAST(per.n AS BIGINT) AS n_rows,
       CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1
                 WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS BIGINT)
         AS cov_sign,
       CAST(pooled.pooled_sign AS BIGINT) AS pooled_sign,
       (CASE WHEN n * sxy - sx * sy > 0 THEN 1
             WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END)
         * pooled.pooled_sign = -1 AS sign_flipped
FROM per CROSS JOIN pooled
"""


def lineitem_ks_test(spark, sf_dir):
    # exact two-sample Kolmogorov-Smirnov (operators/stats.py::
    # ks_two_sample): D between the extended-price distributions of
    # returned (R) vs delivered (N) lines, d_bp = max|c_a·n_b − c_b·n_a|
    # ·10⁴ div (n_a·n_b) over the pooled value grid — the
    # distribution-SHAPE alarm Mann-Whitney's rank shift can't see.
    return ks_two_sample(
        _t(spark, sf_dir, "lineitem"),
        "l_returnflag",
        F.col("l_extendedprice"),
        "R",
        "N",
    )


LINEITEM_KS_SQL = """
WITH vals AS (SELECT l_returnflag AS g, l_extendedprice AS v,
                     CAST(count(*) AS BIGINT) AS c
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL AND l_returnflag IN ('R', 'N')
              GROUP BY 1, 2),
grid AS (SELECT v,
                CAST(coalesce(sum(CASE WHEN g = 'R' THEN c END), 0) AS BIGINT)
                  AS ca,
                CAST(coalesce(sum(CASE WHEN g = 'N' THEN c END), 0) AS BIGINT)
                  AS cb
         FROM vals GROUP BY 1),
scored AS (SELECT v,
             sum(ca) OVER w AS fa, sum(cb) OVER w AS fb,
             sum(ca) OVER () AS na, sum(cb) OVER () AS nb
           FROM grid
           WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
gapped AS (SELECT v, na, nb, abs(fa * nb - fb * na) AS gap FROM scored)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       v AS d_at,
       CAST(gap * 10000 // (na * nb) AS BIGINT) AS d_bp
FROM (SELECT *, row_number() OVER (ORDER BY gap DESC, v ASC) AS rk
      FROM gapped)
WHERE rk = 1
"""


def nation_supplier_hhi(spark, sf_dir):
    # Herfindahl concentration audit (operators/stats.py::hhi_by_group):
    # per nation, HHI of supplier revenue (lineitem cents through the
    # supplier dim, broadcast joins) — Σ share² in exact bp with ONE
    # truncating division per nation; 10⁴ = monopoly, 10⁴/n = perfectly
    # split.
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    joined = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
    )
    return hhi_by_group(
        joined,
        "n_name",
        "s_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long"),
    )


NATION_HHI_SQL = """
WITH per AS (
  SELECT n.n_name AS grp, s.s_suppkey AS m,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS HUGEINT)
           AS w
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE round(l.l_extendedprice * 100) > 0
  GROUP BY 1, 2)
SELECT grp AS n_name,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(w) AS BIGINT) AS total_weight,
       CAST(sum(w * w) * CAST(10000 AS HUGEINT)
            // (sum(w) * sum(w)) AS BIGINT) AS hhi_bp
FROM per GROUP BY 1
"""


def lineitem_quantiles_bisect(spark, sf_dir):
    # exact quantiles WITHOUT sort or shuffle (operators/stats.py::
    # exact_quantiles_bisect): parallel binary search on the cents value
    # domain — ~24 map-side aggregate rounds pin p50/p90/p99 exactly per
    # return flag; nothing ever shuffles, the driver holds only bisection
    # bounds. The scale path where sort-window quantiles would funnel an
    # ultra-high-cardinality grid through a per-group sort.
    return exact_quantiles_bisect(
        _t(spark, sf_dir, "lineitem"),
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        (0.5, 0.9, 0.99),
    )


LINEITEM_BISECT_SQL = """
WITH v AS (SELECT l_returnflag AS grp,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
r AS (SELECT grp, v,
             row_number() OVER (PARTITION BY grp ORDER BY v) AS rn
      FROM v),
qs(q) AS (VALUES (0.5), (0.9), (0.99))
SELECT n.grp AS l_returnflag, qs.q::DOUBLE AS q, n.n AS n_rows, r.v AS value
FROM n CROSS JOIN qs
JOIN r ON r.grp = n.grp
      AND r.rn = greatest(1, CAST(ceil(qs.q * n.n) AS BIGINT))
"""


def nation_dhondt_seats(spark, sf_dir):
    # highest-averages (D'Hondt) apportionment
    # (training/features.py::dhondt_allocate) — corpus_quota_alloc's
    # divisor-method twin: 100 seats split across nations by supplier
    # revenue (cents through the broadcast supplier/nation dims) via
    # truncated integer quotients W div i with a fully pinned tie-break.
    # Σ seats == 100 exactly (pytest law); zero-revenue nations keep a
    # 0-seat row.
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    joined = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
    )
    return dhondt_allocate(
        joined,
        "n_name",
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        100,
    ).select(F.col("grp").alias("n_name"), "weight", "seats")


DHONDT_SQL = """
WITH w AS (
  SELECT n.n_name AS grp,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS w
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY 1),
q AS (SELECT grp, w, i, w // i AS q
      FROM w CROSS JOIN (SELECT unnest(generate_series(1, 100)) AS i)
      WHERE w > 0),
r AS (SELECT grp,
             row_number() OVER (ORDER BY q DESC, w DESC, grp ASC, i ASC)
               AS rk
      FROM q),
won AS (SELECT grp, CAST(count(*) AS BIGINT) AS seats
        FROM r WHERE rk <= 100 GROUP BY 1)
SELECT w.grp AS n_name, w.w AS weight,
       CAST(coalesce(won.seats, 0) AS BIGINT) AS seats
FROM w LEFT JOIN won ON won.grp = w.grp
"""


def customer_palma_ratio(spark, sf_dir):
    # Palma inequality ratio (operators/stats.py::palma_ratio) over
    # per-customer order spend in cents — the top-10% / bottom-40%
    # share ratio in exact bp; gini_split's tail-naming complement
    # (Gini summarizes the whole curve, Palma says where the
    # concentration lives). Cohort sizes and both rank tie-breaks
    # pinned.
    return palma_ratio(
        _t(spark, sf_dir, "orders"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long"),
    )


PALMA_SQL = """
WITH per AS (
  SELECT o_custkey AS k,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1),
ranked AS (
  SELECT v,
         row_number() OVER (ORDER BY v DESC, k ASC) AS rd,
         row_number() OVER (ORDER BY v ASC, k ASC) AS ra,
         count(*) OVER () AS n
  FROM per),
s AS (
  SELECT max(n) AS n,
         sum(CASE WHEN rd <= n // 10 THEN v ELSE 0 END) AS top_sum,
         sum(CASE WHEN ra <= (4 * n) // 10 THEN v ELSE 0 END) AS bottom_sum
  FROM ranked)
SELECT CAST(n AS BIGINT) AS n_keys,
       CAST(n // 10 AS BIGINT) AS top_k,
       CAST((4 * n) // 10 AS BIGINT) AS bottom_k,
       CAST(top_sum AS BIGINT) AS top_sum,
       CAST(bottom_sum AS BIGINT) AS bottom_sum,
       CASE WHEN bottom_sum > 0 THEN
         CAST((10000 * top_sum) // bottom_sum AS BIGINT) END AS palma_bp
FROM s
"""


def part_price_index(spark, sf_dir):
    # exact Laspeyres/Paasche/Fisher price indices 1996→1997 over
    # matched parts (operators/stats.py::price_index): unit prices in
    # truncated cents, basket sums in DECIMAL(38,0), Fisher's geometric
    # mean via the exact integer isqrt — the econometric "price vs
    # volume" split raw revenue growth confounds. One conditional
    # groupBy pass, no window, no sort.
    li = _t(spark, sf_dir, "lineitem")
    return price_index(
        li,
        "l_partkey",
        F.year(F.col("l_shipdate").cast("date")),
        F.floor(F.col("l_quantity")).cast("long"),
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        1996,
        1997,
    )


def price_index_sql() -> str:
    return f"""
WITH f AS (
  SELECT l_partkey AS k, year(CAST(l_shipdate AS DATE)) AS p,
         CAST(floor(l_quantity) AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997)),
per AS (SELECT k,
               sum(CASE WHEN p = 1996 THEN q END) AS q0,
               sum(CASE WHEN p = 1996 THEN c END) AS c0,
               sum(CASE WHEN p = 1997 THEN q END) AS q1,
               sum(CASE WHEN p = 1997 THEN c END) AS c1
        FROM f GROUP BY 1),
pp AS (SELECT k, q0, q1, c0 // q0 AS p0, c1 // q1 AS p1 FROM per
       WHERE q0 IS NOT NULL AND q1 IS NOT NULL AND q0 > 0 AND q1 > 0),
s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             sum(CAST(p1 AS HUGEINT) * q0) AS l_num,
             sum(CAST(p0 AS HUGEINT) * q0) AS l_den,
             sum(CAST(p1 AS HUGEINT) * q1) AS p_num,
             sum(CAST(p0 AS HUGEINT) * q1) AS p_den
      FROM pp),
i AS (SELECT n_keys,
             CAST((10000 * l_num) // l_den AS BIGINT) AS laspeyres_bp,
             CAST((10000 * p_num) // p_den AS BIGINT) AS paasche_bp
      FROM s)
SELECT n_keys, laspeyres_bp, paasche_bp,
       CAST({_duck_isqrt('CAST(laspeyres_bp AS HUGEINT) * paasche_bp')}
            AS BIGINT) AS fisher_bp
FROM i
"""


def orders_holt_forecast(spark, sf_dir):
    # Holt linear (double exponential) smoothing over monthly order
    # revenue (operators/stats.py::holt_linear): α=1/2, β=3/10 as exact
    # rationals, div truncating toward zero (the oracle sign-factors
    # DuckDB's flooring //); init l₁=y₁, l₂=y₂, b₂=y₂−y₁ pinned; fits
    # + 3 forecast months. The adaptive-trend forecaster next to the
    # deck's OLS/Theil-Sen global trends; the sequential recurrence
    # folds over the month-domain-bounded grid like life_table.
    monthly = (
        _t(spark, sf_dir, "orders")
        .select(
            (
                F.year(F.col("o_orderdate").cast("date")) * 12
                + F.month(F.col("o_orderdate").cast("date"))
                - 1
            ).alias("idx"),
            F.floor(F.col("o_totalprice").cast(_DEC) * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("idx")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    return holt_linear(monthly, "idx", "y", horizon=3)


def holt_sql() -> str:
    horizon = 3
    def sdiv(a: str, d: int) -> str:
        return (
            f"(CASE WHEN ({a}) < 0 THEN -((-({a})) // {d})"
            f" ELSE ({a}) // {d} END)"
        )

    lnew = sdiv("o.y + rec.l + rec.b", 2)
    bnew = sdiv(f"3 * ({lnew} - rec.l) + 7 * rec.b", 10)
    return f"""
WITH RECURSIVE m AS (
  SELECT (year(CAST(o_orderdate AS DATE)) * 12
          + month(CAST(o_orderdate AS DATE)) - 1) AS idx,
         CAST(sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,4)) * 100)
                       AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1),
o AS (SELECT idx, y, row_number() OVER (ORDER BY idx) AS rn FROM m),
rec AS (
  SELECT rn, idx, y, CAST(y AS BIGINT) AS l, CAST(0 AS BIGINT) AS b,
         CAST(NULL AS BIGINT) AS tr, CAST(NULL AS BIGINT) AS yhat
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.rn, o.idx, o.y,
         CASE WHEN o.rn = 2 THEN o.y ELSE {lnew} END,
         CASE WHEN o.rn = 2 THEN o.y - rec.l ELSE {bnew} END,
         CASE WHEN o.rn = 2 THEN o.y - rec.l ELSE {bnew} END,
         CASE WHEN o.rn = 2 THEN CAST(NULL AS BIGINT)
              ELSE rec.l + rec.b END
  FROM o JOIN rec ON o.rn = rec.rn + 1)
SELECT CAST(idx AS INT) AS month_id, 'fit' AS kind, y AS y_cents,
       l AS level_c, tr AS trend_c, yhat AS yhat_c
FROM rec
UNION ALL
SELECT CAST(last.idx + h.h AS INT), 'forecast', NULL, NULL, NULL,
       CAST(last.l + h.h * last.b AS BIGINT)
FROM (SELECT idx, l, b FROM rec ORDER BY rn DESC LIMIT 1) last
CROSS JOIN (SELECT unnest(generate_series(1, {int(horizon)})) AS h) h
"""


def customer_tier_migration(spark, sf_dir):
    # customer value-tier migration matrix
    # (operators/mining.py::tier_migration): exact spend quintiles per
    # temporal half (split at the date midpoint, each half ranked
    # independently), tier 0 = absent — the segment-dynamics report
    # behind retention/churn/acquisition planning; orders_rfm_segments'
    # dynamic twin.
    return tier_migration(_t(spark, sf_dir, "orders"))


TIER_MIGRATION_SQL = """
WITH n AS (
  SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS d,
         CAST(floor(CAST(o_totalprice AS DECIMAL(18,4)) * 100) AS BIGINT)
           AS cents
  FROM orders),
b AS (SELECT min(d) AS d0, max(d) AS d1 FROM n),
s AS (SELECT d0 + CAST(date_diff('day', d0, d1) // 2 AS INT) AS split FROM b),
h AS (SELECT cust,
             sum(CASE WHEN d <= split THEN cents END) AS c1,
             sum(CASE WHEN d > split THEN cents END) AS c2
      FROM n CROSS JOIN s GROUP BY 1),
t1 AS (SELECT cust,
              CAST(1 + ((row_number() OVER (ORDER BY c1, cust) - 1) * 5)
                   // count(*) OVER () AS BIGINT) AS tf
       FROM h WHERE c1 IS NOT NULL),
t2 AS (SELECT cust, c2,
              CAST(1 + ((row_number() OVER (ORDER BY c2, cust) - 1) * 5)
                   // count(*) OVER () AS BIGINT) AS tt
       FROM h WHERE c2 IS NOT NULL),
j AS (SELECT coalesce(t1.tf, 0) AS tier_from,
             coalesce(t2.tt, 0) AS tier_to,
             coalesce(t2.c2, 0) AS c2
      FROM t1 FULL OUTER JOIN t2 ON t1.cust = t2.cust)
SELECT tier_from, tier_to, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(c2) AS BIGINT) AS cents_to
FROM j GROUP BY 1, 2
"""


def lineitem_eoq(spark, sf_dir):
    # economic order quantity per part (operators/stats.py::eoq_by_key):
    # EOQ = isqrt((2·D·S) div H) over exact integer demand with S = 5000
    # / H = 200 cents and ceiling replenishment counts — the isqrt
    # machinery applied to operations planning (the price-index family's
    # inventory sibling). One map-side groupBy, then per-row math.
    return eoq_by_key(
        _t(spark, sf_dir, "lineitem"),
        "l_partkey",
        F.floor(F.col("l_quantity")).cast("long"),
    ).select(F.col("k").alias("l_partkey"), "demand_qty", "eoq_units", "n_orders")


def eoq_sql() -> str:
    rad = "(2 * CAST(demand_qty AS HUGEINT) * 5000) // 200"
    return f"""
WITH per AS (
  SELECT l_partkey, CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
           AS demand_qty
  FROM lineitem GROUP BY 1),
q AS (SELECT l_partkey, demand_qty,
             greatest(CAST({_duck_isqrt(rad)} AS BIGINT), 1) AS eoq_units
      FROM per WHERE demand_qty > 0)
SELECT l_partkey, demand_qty, eoq_units,
       CAST((demand_qty + eoq_units - 1) // eoq_units AS BIGINT) AS n_orders
FROM q
"""


def supplier_scorecard_query(spark, sf_dir):
    # composite vendor scorecard
    # (operators/relational.py::supplier_scorecard): per supplier —
    # volume, exact-cent revenue, fulfillment-lag SLA misses (shipped
    # > 60 days after the order date) and return rates in truncated
    # bp, pinned revenue rank. The procurement review report; orderkey
    # equi-join + one map-side groupBy + broadcast dim + one rank
    # window over the per-supplier aggregate.
    return supplier_scorecard(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
    )


SUPPLIER_SCORECARD_SQL = """
WITH per AS (
  SELECT l_suppkey AS s, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
         CAST(sum(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                      CAST(l_shipdate AS DATE)) > 60
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ret
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey GROUP BY 1)
SELECT s_suppkey, s_name, n_lines, revenue_cents,
       CAST((10000 * n_late) // n_lines AS BIGINT) AS late_bp,
       CAST((10000 * n_ret) // n_lines AS BIGINT) AS return_bp,
       CAST(row_number() OVER (ORDER BY revenue_cents DESC, s_suppkey ASC)
            AS BIGINT) AS rev_rank
FROM per JOIN supplier ON s_suppkey = s
"""


def orders_double_charge(spark, sf_dir):
    # double-charge screen (operators/forensics.py::
    # near_duplicate_payments): same-customer order pairs within $1 000
    # and 90 days — a BAND join rewritten to the exploded-bucket
    # equi-join (the dedup_simhash_pairs technique applied to money;
    # never a cross join). The oracle states the same semantics as a
    # brute-force self-join DuckDB can afford at sf0.01.
    return near_duplicate_payments(_t(spark, sf_dir, "orders"))


DOUBLE_CHARGE_SQL = """
WITH n AS (SELECT o_custkey AS cust, o_orderkey AS okey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  CAST(o_orderdate AS DATE) AS d
           FROM orders)
SELECT a.cust AS o_custkey, a.okey AS okey_a, b.okey AS okey_b,
       a.cents AS cents_a, b.cents AS cents_b,
       CAST(abs(a.cents - b.cents) AS BIGINT) AS diff_c,
       CAST(abs(date_diff('day', b.d, a.d)) AS BIGINT) AS day_gap
FROM n a JOIN n b ON a.cust = b.cust AND a.okey < b.okey
WHERE abs(a.cents - b.cents) <= 100000
  AND abs(date_diff('day', a.d, b.d)) <= 90
"""


def orders_structuring(spark, sf_dir):
    # structuring/smurfing screen (operators/forensics.py::
    # structuring_census): customers whose same-ISO-week orders each
    # stay under $300 000 but sum past it — the split-to-dodge-the-
    # threshold pattern a reporting control watches. One filter + one
    # map-side-combinable groupBy.
    return structuring_census(_t(spark, sf_dir, "orders"))


STRUCTURING_SQL = """
SELECT o_custkey,
       CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
         AS week_start,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM (SELECT o_custkey, o_orderdate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders)
WHERE cents < 30000000
GROUP BY 1, 2
HAVING count(*) >= 2 AND sum(cents) >= 30000000
"""


def lineitem_round_bias(spark, sf_dir):
    # fabricated-figure screen (operators/forensics.py::
    # round_number_bias): observed vs expected share of round
    # quantities (mult of 5; expected 2 000 bp on the 1..50 domain) and
    # whole-dollar prices (expected 100 bp) in exact truncated bp —
    # humans invent round figures, real processes don't. One
    # conditional global aggregate.
    return round_number_bias(_t(spark, sf_dir, "lineitem"))


ROUND_BIAS_SQL = """
WITH b AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS q,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem),
a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN q % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS h_qty,
             CAST(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS h_price
      FROM b)
SELECT 'qty_mult_of_5' AS metric, n, h_qty AS n_hits,
       CAST((10000 * h_qty) // n AS BIGINT) AS share_bp,
       CAST(2000 AS BIGINT) AS expected_bp,
       CAST((10000 * h_qty) // n - 2000 AS BIGINT) AS excess_bp
FROM a
UNION ALL
SELECT 'whole_dollar_price', n, h_price,
       CAST((10000 * h_price) // n AS BIGINT),
       CAST(100 AS BIGINT),
       CAST((10000 * h_price) // n - 100 AS BIGINT)
FROM a
"""


def part_dual_source_risk(spark, sf_dir):
    # supply-chain resilience census per brand
    # (operators/relational.py::dual_source_risk): single-supplier and
    # single-nation shares of the OBSERVED catalog (supplier sets from
    # lineitem — who actually shipped), in exact bp. Distinct pair
    # projection + two broadcast dims + two narrow aggregates.
    return dual_source_risk(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "part"),
    )


DUAL_SOURCE_SQL = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
e AS (SELECT p.l_partkey, p.l_suppkey, s.s_nationkey
      FROM pairs p JOIN supplier s ON s.s_suppkey = p.l_suppkey),
pp AS (SELECT l_partkey,
              count(DISTINCT l_suppkey) AS n_supp,
              count(DISTINCT s_nationkey) AS n_nat
       FROM e GROUP BY 1),
wb AS (SELECT pp.n_supp, pp.n_nat, pt.p_brand
       FROM pp JOIN part pt ON pt.p_partkey = pp.l_partkey)
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_single_supplier,
       CAST((10000 * sum(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS single_supplier_bp,
       CAST(sum(CASE WHEN n_nat = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_single_nation,
       CAST((10000 * sum(CASE WHEN n_nat = 1 THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS single_nation_bp
FROM wb GROUP BY 1
"""


def customer_pareto_cut(spark, sf_dir):
    # Pareto-cut census ("is it really 80/20?")
    # (operators/stats.py::pareto_cut): minimal richest-first customer
    # prefix covering >= 80% of exact-cent order revenue, the coverage
    # test kept cross-multiplied (5·cum >= 4·total) so no ratio is
    # materialized. One narrow per-customer aggregate + a window
    # cumsum over the aggregate + a single-row finisher.
    return pareto_cut(_t(spark, sf_dir, "orders"))


PARETO_CUT_SQL = """
WITH per AS (SELECT o_custkey,
                    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS rev
             FROM orders GROUP BY 1),
c AS (SELECT rev,
             CAST(sum(rev) OVER (ORDER BY rev DESC, o_custkey
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(sum(rev) OVER () AS BIGINT) AS tot
      FROM per)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN 5 * (cum - rev) < 4 * tot THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cover,
       CAST((10000 * sum(CASE WHEN 5 * (cum - rev) < 4 * tot
                              THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
         AS cover_share_bp,
       CAST(max(cum) AS BIGINT) AS total_cents
FROM c
"""


def orders_month_seasonality(spark, sf_dir):
    # month-of-year seasonality index
    # (operators/stats.py::month_seasonality): per calendar month,
    # revenue and order-count index in exact truncated bp (10000 = an
    # average observed month; denominator = DISTINCT months observed,
    # so short datasets still center). The calendar companion to the
    # Holt forecast / MoM-growth monitors. 12-ary groupBy with
    # map-side combine; products carried in DECIMAL(38,0).
    return month_seasonality(_t(spark, sf_dir, "orders"))


MONTH_SEASONALITY_SQL = """
WITH per AS (SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_month,
                    CAST(count(*) AS BIGINT) AS n_orders,
                    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS rev_cents
             FROM orders GROUP BY 1),
t AS (SELECT CAST(count(*) AS HUGEINT) AS nm,
             CAST(sum(rev_cents) AS HUGEINT) AS rt,
             CAST(sum(n_orders) AS HUGEINT) AS ct
      FROM per)
SELECT o_month, n_orders, rev_cents,
       CAST((10000 * CAST(rev_cents AS HUGEINT) * nm) // rt AS BIGINT)
         AS rev_index_bp,
       CAST((10000 * CAST(n_orders AS HUGEINT) * nm) // ct AS BIGINT)
         AS cnt_index_bp
FROM per CROSS JOIN t
"""


def customer_overdue(spark, sf_dir):
    # churn-risk screen by purchase rhythm
    # (operators/mining.py::overdue_customers): customers silent past
    # 2× their own mean inter-order gap, exact integer days with the
    # comparison cross-multiplied (silence·n_gaps > 2·span). "Now" =
    # the corpus's latest order date over ALL customers. One narrow
    # per-customer aggregate; the reactivation-trigger companion to
    # the life-table / tier-migration retention reports.
    return overdue_customers(_t(spark, sf_dir, "orders"))


OVERDUE_SQL = """
WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
                    min(CAST(o_orderdate AS DATE)) AS first_d,
                    max(CAST(o_orderdate AS DATE)) AS last_d
             FROM orders GROUP BY 1),
t AS (SELECT max(last_d) AS clock FROM per),
s AS (SELECT o_custkey, n_orders,
             CAST(date_diff('day', first_d, last_d) AS BIGINT) AS span_days,
             n_orders - 1 AS n_gaps,
             CAST(date_diff('day', last_d, t.clock) AS BIGINT)
               AS days_since_last
      FROM per CROSS JOIN t WHERE n_orders >= 3)
SELECT o_custkey, n_orders, span_days,
       CAST(span_days // n_gaps AS BIGINT) AS mean_gap_days,
       days_since_last,
       days_since_last * n_gaps > 2 * span_days AS overdue
FROM s
"""


def part_brand_dispersion(spark, sf_dir):
    # per-brand quartile price dispersion
    # (operators/stats.py::brand_price_dispersion): robust pricing
    # spread disp_bp = 10⁴·(q3−q1) div (q3+q1) in exact cents, the
    # quartiles taken at the lower-nearest rank ((n−1)k div 4 + 1) so
    # both engines agree with no interpolation. One per-brand rank
    # window over the part dim + a conditional aggregate.
    return brand_price_dispersion(_t(spark, sf_dir, "part"))


BRAND_DISPERSION_SQL = """
WITH pc AS (SELECT p_brand, p_partkey,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS c
            FROM part),
r AS (SELECT p_brand, c,
             CAST(row_number() OVER (PARTITION BY p_brand
                                     ORDER BY c, p_partkey) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY p_brand) AS BIGINT) AS n
      FROM pc),
a AS (SELECT p_brand,
             max(n) AS n_parts,
             max(CASE WHEN rn = ((n - 1) * 1) // 4 + 1 THEN c END) AS q1_cents,
             max(CASE WHEN rn = ((n - 1) * 2) // 4 + 1 THEN c END)
               AS median_cents,
             max(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN c END) AS q3_cents
      FROM r GROUP BY 1)
SELECT p_brand, n_parts, q1_cents, median_cents, q3_cents,
       CAST(q3_cents - q1_cents AS BIGINT) AS iqr_cents,
       CAST((10000 * (q3_cents - q1_cents)) // (q3_cents + q1_cents)
            AS BIGINT) AS disp_bp
FROM a
"""


def customer_monthly_streaks(spark, sf_dir):
    # per-customer monthly-activity streaks
    # (operators/mining.py::monthly_streaks): gaps-and-islands on the
    # month index (12·year + month) — active-month count, maximal
    # consecutive runs, longest run. The loyalty-rhythm companion to
    # customer_overdue. Distinct (customer, month) projection first,
    # so the windows run over the collapsed calendar, not the fact
    # table.
    return monthly_streaks(_t(spark, sf_dir, "orders"))


MONTHLY_STREAKS_SQL = """
WITH m AS (SELECT DISTINCT o_custkey,
                  CAST(year(CAST(o_orderdate AS DATE)) * 12
                       + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS midx
           FROM orders),
i AS (SELECT o_custkey, midx,
             midx - row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY midx) AS isl
      FROM m),
r AS (SELECT o_custkey, isl, CAST(count(*) AS BIGINT) AS run_len
      FROM i GROUP BY 1, 2)
SELECT o_custkey, CAST(sum(run_len) AS BIGINT) AS n_active_months,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(run_len) AS BIGINT) AS max_streak_months
FROM r GROUP BY 1
"""


def lineitem_discount_audit(spark, sf_dir):
    # discount-policy audit per tier
    # (operators/stats.py::discount_audit): volume, exact-cent gross
    # and given discount, realized give-back share in bp — the
    # pricing sanity drilldown behind the q19-style revenue checks.
    # One ≤11-ary groupBy; the double product is rounded once, both
    # engines IEEE-identical (the repo's cents convention).
    return discount_audit(_t(spark, sf_dir, "lineitem"))


DISCOUNT_AUDIT_SQL = """
WITH p AS (SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS g,
                  CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)
                    AS d
           FROM lineitem),
a AS (SELECT disc_pct, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(g) AS BIGINT) AS gross_cents,
             CAST(sum(d) AS BIGINT) AS discount_cents
      FROM p GROUP BY 1)
SELECT disc_pct, n_lines, gross_cents, discount_cents,
       CAST((10000 * discount_cents) // gross_cents AS BIGINT) AS giveback_bp
FROM a
"""


def lineitem_returns_by_lag(spark, sf_dir):
    # return rate by fulfillment-lag week
    # (operators/stats.py::returns_by_lag): does slow shipping drive
    # returns? Exact bp rate per whole-week lag bucket; one orderkey
    # equi-join (the scorecard shape) + one bounded groupBy. The
    # logistics-quality signal table an SLA/churn model trains on.
    return returns_by_lag(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


RETURNS_BY_LAG_SQL = """
WITH j AS (SELECT CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                 CAST(l.l_shipdate AS DATE)) // 7 AS BIGINT)
                    AS lag_weeks,
                  CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
           FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
a AS (SELECT lag_weeks, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(r) AS BIGINT) AS n_returns
      FROM j GROUP BY 1)
SELECT lag_weeks, n_lines, n_returns,
       CAST((10000 * n_returns) // n_lines AS BIGINT) AS return_bp
FROM a
"""


def orders_size_histogram(spark, sf_dir):
    # order-size distribution (operators/stats.py::order_size_histogram):
    # lines per order, then orders per size with exact bp share — the
    # basket-shape census, q13's sibling along the order axis. Two
    # bounded aggregates; shares window over the histogram only.
    return order_size_histogram(_t(spark, sf_dir, "lineitem"))


ORDER_SIZE_SQL = """
WITH s AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
           FROM lineitem GROUP BY 1),
h AS (SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders
      FROM s GROUP BY 1)
SELECT n_lines, n_orders,
       CAST((10000 * n_orders) // (sum(n_orders) OVER ()) AS BIGINT)
         AS share_bp
FROM h
"""


def nation_trade_balance(spark, sf_dir):
    # per-nation trade balance (operators/relational.py::trade_balance):
    # each nation's exact-cent revenue as supplier vs as buyer over the
    # same fact table, surplus, and supply-to-consumption ratio in bp —
    # the whole-matrix rollup of the q7 nation-pair shape. Two fact
    # passes with broadcast dims, nation-keyed merge of two tiny
    # aggregates.
    return trade_balance(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


TRADE_BALANCE_SQL = """
WITH srev AS (
  SELECT s.s_nationkey AS nationkey,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS supp_rev_cents
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1),
crev AS (
  SELECT c.c_nationkey AS nationkey,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cust_rev_cents
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1),
m AS (SELECT coalesce(s.nationkey, c.nationkey) AS nationkey,
             coalesce(s.supp_rev_cents, 0) AS supp_rev_cents,
             coalesce(c.cust_rev_cents, 0) AS cust_rev_cents
      FROM srev s FULL JOIN crev c ON c.nationkey = s.nationkey)
SELECT n.n_name,
       m.supp_rev_cents, m.cust_rev_cents,
       CAST(m.supp_rev_cents - m.cust_rev_cents AS BIGINT) AS balance_cents,
       CASE WHEN m.cust_rev_cents > 0 THEN
         CAST((10000 * m.supp_rev_cents) // m.cust_rev_cents AS BIGINT)
       END AS supp_to_cust_bp
FROM m JOIN nation n ON n.n_nationkey = m.nationkey
"""


def customer_segment_profile(spark, sf_dir):
    # market-segment profile (operators/relational.py::segment_profile):
    # per c_mktsegment — customers, orders, exact-cent revenue, revenue
    # share bp, truncated mean order value. The account-planning rollup
    # over the one TPC-H dimension the rest of the deck never reads;
    # one custkey equi-join + one bounded groupBy.
    return segment_profile(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    )


SEGMENT_PROFILE_SQL = """
WITH j AS (SELECT o.o_custkey,
                  CAST(round(o.o_totalprice * 100) AS BIGINT) AS c,
                  cu.c_mktsegment
           FROM orders o JOIN customer cu ON cu.c_custkey = o.o_custkey),
per AS (SELECT c_mktsegment,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(c) AS BIGINT) AS revenue_cents
        FROM j GROUP BY 1)
SELECT c_mktsegment, n_customers, n_orders, revenue_cents,
       CAST((10000 * revenue_cents) // (sum(revenue_cents) OVER ())
            AS BIGINT) AS revenue_share_bp,
       CAST(revenue_cents // n_orders AS BIGINT) AS avg_order_cents
FROM per
"""


def lineitem_tax_audit(spark, sf_dir):
    # tax-tier audit (operators/stats.py::tax_audit) — discount_audit's
    # sibling on the other pricing lever: per tax level, net taxable
    # base (q1's extendedprice·(1−discount) charge convention), tax
    # collected, realized effective rate in bp (the 8 % tier must read
    # ~800). One ≤9-ary map-side groupBy.
    return tax_audit(_t(spark, sf_dir, "lineitem"))


TAX_AUDIT_SQL = """
WITH p AS (SELECT CAST(round(l_tax * 100) AS BIGINT) AS tax_pct,
                  CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT) AS b,
                  CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                             * 100) AS BIGINT)
                  - CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT) AS t
           FROM lineitem),
a AS (SELECT tax_pct, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(b) AS BIGINT) AS base_cents,
             CAST(sum(t) AS BIGINT) AS tax_cents
      FROM p GROUP BY 1)
SELECT tax_pct, n_lines, base_cents, tax_cents,
       CAST((10000 * tax_cents) // base_cents AS BIGINT) AS effective_bp
FROM a
"""


def supplier_shard_plan(spark, sf_dir):
    # load-aware snake-order shard plan
    # (operators/layout.py::snake_shard_plan): suppliers ranked by
    # exact revenue, dealt into 8 shards boustrophedon (near-LPT,
    # fully deterministic and shuffle-expressible — true greedy LPT is
    # sequential) — the load-balanced complement of the key-stable
    # consistent-hash reshard planner. Output = the per-shard load
    # census with fairness ratio (10000 = perfect).
    return snake_shard_plan(_t(spark, sf_dir, "lineitem"))


SHARD_PLAN_SQL = """
WITH per AS (SELECT l_suppkey,
                    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                         AS BIGINT) AS rev
             FROM lineitem GROUP BY 1),
a AS (SELECT rev, row_number() OVER (ORDER BY rev DESC, l_suppkey) - 1 AS r0
      FROM per),
s AS (SELECT rev,
             CAST(CASE WHEN (r0 % 16) < 8 THEN r0 % 16
                       ELSE 15 - (r0 % 16) END AS BIGINT) AS shard
      FROM a),
sh AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_suppliers,
              CAST(sum(rev) AS BIGINT) AS load_cents
       FROM s GROUP BY 1)
SELECT shard, n_suppliers, load_cents,
       CAST((10000 * load_cents) // (sum(load_cents) OVER ()) AS BIGINT)
         AS load_share_bp,
       CAST((10000 * 8 * load_cents) // (sum(load_cents) OVER ()) AS BIGINT)
         AS vs_fair_bp
FROM sh
"""


def part_size_price_curve(spark, sf_dir):
    # price-vs-size curve (operators/stats.py::size_price_curve): per
    # p_size, part count + exact lower-median retail cents at the
    # brand_price_dispersion quartile convention (k=2), so the two
    # reports reconcile on shared groups. Bounded rank window over the
    # part dim.
    return size_price_curve(_t(spark, sf_dir, "part"))


SIZE_PRICE_SQL = """
WITH pc AS (SELECT p_size, p_partkey,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS c
            FROM part),
r AS (SELECT p_size, c,
             CAST(row_number() OVER (PARTITION BY p_size
                                     ORDER BY c, p_partkey) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY p_size) AS BIGINT) AS n
      FROM pc)
SELECT p_size, CAST(max(n) AS BIGINT) AS n_parts,
       CAST(max(CASE WHEN rn = ((n - 1) * 2) // 4 + 1 THEN c END) AS BIGINT)
         AS median_cents
FROM r GROUP BY 1
"""


def orders_gap_histogram(spark, sf_dir):
    # purchase-rhythm histogram (operators/mining.py::gap_histogram):
    # customers bucketed by mean inter-order gap in whole weeks (the
    # overdue_customers integer-mean convention) with exact bp shares
    # — the population view behind reactivation cadence choices.
    return gap_histogram(_t(spark, sf_dir, "orders"))


GAP_HISTOGRAM_SQL = """
WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
                    min(CAST(o_orderdate AS DATE)) AS f,
                    max(CAST(o_orderdate AS DATE)) AS l
             FROM orders GROUP BY 1),
h AS (SELECT CAST(date_diff('day', f, l) // (n - 1) // 7 AS BIGINT)
               AS mean_gap_weeks
      FROM per WHERE n >= 3),
g AS (SELECT mean_gap_weeks, CAST(count(*) AS BIGINT) AS n_customers
      FROM h GROUP BY 1)
SELECT mean_gap_weeks, n_customers,
       CAST((10000 * n_customers) // (sum(n_customers) OVER ()) AS BIGINT)
         AS share_bp
FROM g
"""


def customer_balance_buckets(spark, sf_dir):
    # account-balance histogram in $500 buckets, negatives included
    # (operators/stats.py::balance_buckets): the credit-exposure
    # profile, with the bucket key pinned to mathematical FLOOR —
    # Spark's `div` truncates toward zero while DuckDB's `//` floors,
    # a silent cross-engine divergence on every negative balance, so
    # both sides compute floor from non-negative operands explicitly.
    return balance_buckets(_t(spark, sf_dir, "customer"))


BALANCE_BUCKETS_SQL = """
WITH c AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS c FROM customer),
b AS (SELECT CAST(CASE WHEN c >= 0 THEN c // 50000
                       ELSE -((-c + 49999) // 50000) END AS BIGINT)
               AS bucket
      FROM c),
h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_customers
      FROM b GROUP BY 1)
SELECT bucket, CAST(bucket * 50000 AS BIGINT) AS lo_cents, n_customers,
       CAST((10000 * n_customers) // (sum(n_customers) OVER ()) AS BIGINT)
         AS share_bp
FROM h
"""


def orders_year_growth(spark, sf_dir):
    # year-over-year revenue growth (operators/stats.py::year_growth):
    # per year, exact-cent revenue and signed truncated-bp growth vs
    # the previous year (sign factored so truncation is toward zero on
    # both engines; first year NULL) — the board-deck number beside
    # the MoM monitor; partial boundary years stay visible.
    return year_growth(_t(spark, sf_dir, "orders"))


YEAR_GROWTH_SQL = """
WITH per AS (SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
                    CAST(count(*) AS BIGINT) AS n_orders,
                    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS rev_cents
             FROM orders GROUP BY 1),
l AS (SELECT *, lag(rev_cents) OVER (ORDER BY o_year) AS prev FROM per)
SELECT o_year, n_orders, rev_cents,
       CASE WHEN prev > 0 THEN
         CASE WHEN rev_cents >= prev
              THEN CAST((10000 * (rev_cents - prev)) // prev AS BIGINT)
              ELSE CAST(-((10000 * (prev - rev_cents)) // prev) AS BIGINT)
         END
       END AS yoy_bp
FROM l
"""


def lineitem_quantity_profile(spark, sf_dir):
    # quantity-mix profile (operators/stats.py::quantity_profile): per
    # integer quantity, line and revenue shares in bp — the two
    # disagreeing (small quantities overweight in lines, underweight
    # in revenue) is exactly the shape q17's threshold exploits. One
    # ≤50-ary map-side groupBy.
    return quantity_profile(_t(spark, sf_dir, "lineitem"))


QUANTITY_PROFILE_SQL = """
WITH per AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
                    CAST(count(*) AS BIGINT) AS n_lines,
                    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                         AS BIGINT) AS rev_cents
             FROM lineitem GROUP BY 1)
SELECT qty, n_lines, rev_cents,
       CAST((10000 * n_lines) // (sum(n_lines) OVER ()) AS BIGINT)
         AS line_share_bp,
       CAST((10000 * rev_cents) // (sum(rev_cents) OVER ()) AS BIGINT)
         AS rev_share_bp
FROM per
"""


def supplier_return_outliers(spark, sf_dir):
    # vendor-quality outlier screen
    # (operators/relational.py::return_outlier_suppliers): suppliers
    # whose return rate runs > 2× the corpus rate, cross-multiplied
    # (no rate materialized) and volume-floored (≥20 lines). The
    # population screen fed by the scorecard's return column; corpus
    # totals broadcast via a 1-row aggregate.
    return return_outlier_suppliers(_t(spark, sf_dir, "lineitem"))


RETURN_OUTLIERS_SQL = """
WITH per AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_lines,
                    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_returns
             FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(sum(n_lines) AS BIGINT) AS tl,
               CAST(sum(n_returns) AS BIGINT) AS tr
        FROM per)
SELECT l_suppkey, n_lines, n_returns,
       CAST((10000 * n_returns) // n_lines AS BIGINT) AS return_bp,
       CAST((10000 * tr) // tl AS BIGINT) AS corpus_return_bp
FROM per CROSS JOIN tot
WHERE n_lines >= 20 AND n_returns * tl > 2 * tr * n_lines
"""


def orders_new_vs_repeat(spark, sf_dir):
    # acquisition-vs-retention revenue split per year
    # (operators/mining.py::new_vs_repeat): an order is 'new' iff its
    # year equals its customer's first order year; exact-cent split +
    # new share bp. First-year via a per-customer aggregate joined
    # back — no window over the fact table.
    return new_vs_repeat(_t(spark, sf_dir, "orders"))


NEW_VS_REPEAT_SQL = """
WITH base AS (SELECT o_custkey,
                     CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS c
              FROM orders),
f AS (SELECT o_custkey, min(y) AS first_y FROM base GROUP BY 1),
per AS (SELECT b.y AS o_year,
               CAST(sum(CASE WHEN b.y = f.first_y THEN b.c ELSE 0 END)
                    AS BIGINT) AS new_rev_cents,
               CAST(sum(CASE WHEN b.y <> f.first_y THEN b.c ELSE 0 END)
                    AS BIGINT) AS repeat_rev_cents
        FROM base b JOIN f ON f.o_custkey = b.o_custkey
        GROUP BY 1)
SELECT o_year, new_rev_cents, repeat_rev_cents,
       CAST((10000 * new_rev_cents) // (new_rev_cents + repeat_rev_cents)
            AS BIGINT) AS new_share_bp
FROM per
"""


def supplier_catalog_breadth(spark, sf_dir):
    # generalist-vs-specialist supplier census
    # (operators/relational.py::catalog_breadth): distinct parts
    # supplied, exact-bp share of the observed catalog, brands touched
    # — dual_source_risk's transpose (that asks suppliers-per-part);
    # catalog size broadcast via a 1-row aggregate.
    return catalog_breadth(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


CATALOG_BREADTH_SQL = """
WITH pairs AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
cat AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS c FROM pairs),
per AS (SELECT p.l_suppkey,
               CAST(count(DISTINCT p.l_partkey) AS BIGINT)
                 AS n_parts_supplied,
               CAST(count(DISTINCT pt.p_brand) AS BIGINT) AS n_brands
        FROM pairs p JOIN part pt ON pt.p_partkey = p.l_partkey
        GROUP BY 1)
SELECT l_suppkey, n_parts_supplied,
       CAST((10000 * n_parts_supplied) // cat.c AS BIGINT)
         AS catalog_share_bp,
       n_brands
FROM per CROSS JOIN cat
"""


def orders_priority_speed(spark, sf_dir):
    # SLA-promise audit (operators/stats.py::priority_speed): per
    # order priority, exact truncated mean + max fulfillment lag —
    # a priority tier whose mean matches the others' is a label, not
    # a service. Orderkey equi-join + ≤5-ary groupBy.
    return priority_speed(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


PRIORITY_SPEED_SQL = """
WITH j AS (SELECT o.o_orderpriority,
                  CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                 CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag
           FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
a AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(lag) AS BIGINT) AS s,
             CAST(max(lag) AS BIGINT) AS max_lag_days
      FROM j GROUP BY 1)
SELECT o_orderpriority, n_lines,
       CAST(s // n_lines AS BIGINT) AS mean_lag_days,
       max_lag_days
FROM a
"""


def part_type_vocabulary(spark, sf_dir):
    # p_type vocabulary decomposition (operators/stats.py::
    # type_vocabulary): the hidden grade/finish/material schema inside
    # the flat composite label, per (position, token) with exact
    # per-position bp shares — the profiling step before normalizing
    # the dimension. Bounded posexplode + bounded groupBy.
    return type_vocabulary(_t(spark, sf_dir, "part"))


TYPE_VOCAB_SQL = """
WITH toks AS (
  SELECT CAST(u.i - 1 AS BIGINT) AS pos, t[u.i] AS token
  FROM (SELECT string_split(p_type, ' ') AS t FROM part),
       unnest(generate_series(1, CAST(len(t) AS BIGINT))) u(i)),
per AS (SELECT pos, token, CAST(count(*) AS BIGINT) AS n_parts
        FROM toks GROUP BY 1, 2)
SELECT pos, token, n_parts,
       CAST((10000 * n_parts) // (sum(n_parts) OVER (PARTITION BY pos))
            AS BIGINT) AS pos_share_bp
FROM per
"""


def customer_spend_volatility(spark, sf_dir):
    # spend-volatility screen (operators/mining.py::spend_volatility):
    # cadence_regularity's monetary sibling — CV² of order values in
    # exact 1e8 fixed point (DECIMAL(38,0) sums), subscription-like
    # near 0, volatile past 1e8. One narrow per-customer aggregate.
    return spend_volatility(_t(spark, sf_dir, "orders"))


SPEND_VOLATILITY_SQL = """
WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
                    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                         AS HUGEINT) AS sc,
                    CAST(sum(CAST(round(o_totalprice * 100) AS HUGEINT)
                             * CAST(round(o_totalprice * 100) AS BIGINT))
                         AS HUGEINT) AS scc
             FROM orders GROUP BY 1)
SELECT o_custkey, n_orders,
       CAST(sc // n_orders AS BIGINT) AS mean_cents,
       CAST((100000000 * (n_orders * scc - sc * sc)) // (sc * sc) AS BIGINT)
         AS cv2_x1e8,
       (100000000 * (n_orders * scc - sc * sc)) // (sc * sc) > 100000000
         AS volatile
FROM per WHERE n_orders >= 3 AND sc > 0
"""


def customer_segment_dispersion(spark, sf_dir):
    # per-segment balance quartile dispersion
    # (operators/stats.py::segment_balance_dispersion):
    # brand_price_dispersion's shape on a column that goes NEGATIVE —
    # quartile coefficient guarded NULL when q3+q1 ≤ 0 (meaningless
    # across the sign boundary, a pinned semantic the positive-only
    # price version never needed).
    return segment_balance_dispersion(_t(spark, sf_dir, "customer"))


SEGMENT_DISPERSION_SQL = """
WITH cc AS (SELECT c_mktsegment, c_custkey,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS c
            FROM customer),
r AS (SELECT c_mktsegment, c,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY c, c_custkey) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n
      FROM cc),
a AS (SELECT c_mktsegment,
             max(n) AS n_customers,
             max(CASE WHEN rn = ((n - 1) * 1) // 4 + 1 THEN c END) AS q1_cents,
             max(CASE WHEN rn = ((n - 1) * 2) // 4 + 1 THEN c END)
               AS median_cents,
             max(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN c END) AS q3_cents
      FROM r GROUP BY 1)
SELECT c_mktsegment, n_customers, q1_cents, median_cents, q3_cents,
       CAST(q3_cents - q1_cents AS BIGINT) AS iqr_cents,
       CASE WHEN q3_cents + q1_cents > 0 THEN
         CAST((10000 * (q3_cents - q1_cents)) // (q3_cents + q1_cents)
              AS BIGINT)
       END AS disp_bp
FROM a
"""


def customer_first_value_matrix(spark, sf_dir):
    # first-order-value vs lifetime quartile contingency
    # (operators/mining.py::first_value_matrix): does a big first
    # order predict a big lifetime? Both quartiled by the RFM exact
    # rank-quantile convention (ties pinned on custkey; first order
    # pinned by (date, orderkey)); a dominating diagonal = predictive.
    # Rank windows run over the per-customer aggregate only.
    return first_value_matrix(_t(spark, sf_dir, "orders"))


FIRST_VALUE_MATRIX_SQL = """
WITH base AS (SELECT o_custkey, o_orderkey, o_orderdate,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS c
              FROM orders),
r AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn
      FROM base),
per AS (SELECT o_custkey, max(CASE WHEN rn = 1 THEN c END) AS first_c,
               CAST(sum(c) AS BIGINT) AS life_c
        FROM r GROUP BY 1),
s AS (SELECT CAST(1 + ((row_number() OVER (ORDER BY first_c, o_custkey) - 1)
                       * 4) // (count(*) OVER ()) AS BIGINT) AS first_q,
             CAST(1 + ((row_number() OVER (ORDER BY life_c, o_custkey) - 1)
                       * 4) // (count(*) OVER ()) AS BIGINT) AS lifetime_q
      FROM per),
cells AS (SELECT first_q, lifetime_q, CAST(count(*) AS BIGINT) AS n_customers
          FROM s GROUP BY 1, 2)
SELECT first_q, lifetime_q, n_customers,
       CAST((10000 * n_customers) // (sum(n_customers) OVER ()) AS BIGINT)
         AS share_bp
FROM cells
"""


def part_brand_suppliers(spark, sf_dir):
    # brand-exclusivity histogram
    # (operators/relational.py::brand_supplier_histogram):
    # dual_source_risk lifted to the brand level — brands bucketed by
    # distinct observed suppliers, bp shares; the single-supplier
    # bucket is the brand-level procurement exposure.
    return brand_supplier_histogram(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


BRAND_SUPPLIERS_SQL = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
per AS (SELECT pt.p_brand,
               CAST(count(DISTINCT p.l_suppkey) AS BIGINT)
                 AS n_suppliers_per_brand
        FROM pairs p JOIN part pt ON pt.p_partkey = p.l_partkey
        GROUP BY 1),
h AS (SELECT n_suppliers_per_brand, CAST(count(*) AS BIGINT) AS n_brands
      FROM per GROUP BY 1)
SELECT n_suppliers_per_brand, n_brands,
       CAST((10000 * n_brands) // (sum(n_brands) OVER ()) AS BIGINT)
         AS share_bp
FROM h
"""


def orders_weekend_effect(spark, sf_dir):
    # weekend-vs-weekday order profile
    # (operators/stats.py::weekend_effect): counts, exact-cent
    # revenue, both bp shares, mean order value — on the dow_hour
    # weekday() pin (0=Monday) so the calendar reports agree. One
    # 2-ary groupBy.
    return weekend_effect(_t(spark, sf_dir, "orders"))


WEEKEND_EFFECT_SQL = """
WITH per AS (SELECT (isodow(CAST(o_orderdate AS DATE)) - 1) >= 5
               AS is_weekend,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1)
SELECT is_weekend, n_orders, rev_cents,
       CAST((10000 * n_orders) // (sum(n_orders) OVER ()) AS BIGINT)
         AS order_share_bp,
       CAST((10000 * rev_cents) // (sum(rev_cents) OVER ()) AS BIGINT)
         AS rev_share_bp,
       CAST(rev_cents // n_orders AS BIGINT) AS avg_order_cents
FROM per
"""
