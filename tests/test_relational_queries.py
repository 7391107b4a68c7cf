"""Gates for the round-5 relational operator-class queries (TPC-H Q4 /
Q13 / Q16 / Q17 / Q19 / Q22 shapes + the CEP sequence query): full DuckDB
oracle parity at sf0.001 (tools/sweep.py's oracle mode: cell values and
column types), plus physical-plan assertions for the scale properties
each class exists to provide (semi/anti joins instead of join+distinct,
hash join under a disjunctive predicate, one exchange for the CEP window)."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from tools.sweep import sweep

SF = "/root/testdata/sf0.001"

NEW_QUERIES = [
    "q4_order_priority",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q12_priority_lines",
    "q15_top_supplier",
    "q21_waiting_suppliers",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_stock",
    "q20_dominant_suppliers",
    "q13_customer_distribution",
    "q16_supplier_variety",
    "q17_small_quantity",
    "q19_disjunctive_revenue",
    "q22_dormant_customers",
    "events_cep_sequence",
    "events_topk_per_type",
    "events_scd2_history",
    "events_markov_transitions",
    "customer_merge_census",
    "dq_integrity_report",
    "corpus_split_assign",
    "events_hourly_dense",
    "parts_fuzzy_names",
    "parts_degree_mixing",
    "lineitem_fingerprint",
    "nation_revenue_share",
    "corpus_eval_sample",
    "text_burstiness",
]


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_oracle_parity_sf0001(spark, name):
    (rec,) = sweep(spark, "oracle", SF, only=[name])
    assert rec["status"] == "ok" and rec["rows"], rec


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q4_plans_semi_join(spark):
    """The EXISTS decorrelates to a LEFT SEMI join — never join+distinct
    (which would shuffle and materialize the full match multiplicity) and
    never a nested loop; the returnflag filter reaches the lineitem scan."""
    plan = _plan(E.queries()["q4_order_priority"](spark, SF))
    assert "LeftSemi" in plan, plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln)
    assert "l_returnflag" in scan  # pushed filter, pruned columns


def test_q16_plans_anti_join(spark):
    """NOT IN over a non-nullable key plans a (broadcast) LEFT ANTI join;
    the 6-row complaint set must broadcast, not shuffle the distinct
    part-supplier pairs a second time."""
    plan = _plan(E.queries()["q16_supplier_variety"](spark, SF))
    assert "LeftAnti" in plan, plan
    assert "BroadcastExchange" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_q19_disjunction_stays_hash_join(spark):
    """The OR of three conjunction groups shares the l_partkey = p_partkey
    equi-conjunct; Catalyst must extract it and plan a broadcast HASH join.
    A BNLJ here is the classic disjunctive-join scale killer."""
    plan = _plan(E.queries()["q19_disjunctive_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_q22_scalar_join_and_anti(spark):
    """The dormancy screen is a LEFT ANTI join, and the scalar threshold
    joins in as Spark's standard scalar-subquery shape: exactly one
    BroadcastNestedLoopJoin whose broadcast side is the 1-row global
    aggregate (a per-row constant comparison, not an all-pairs join) —
    never a CartesianProduct."""
    plan = _plan(E.queries()["q22_dormant_customers"](spark, SF))
    assert "LeftAnti" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    # the build side of that BNLJ (the IdentityBroadcastMode exchange) is
    # the 1-row global aggregate, not a table scan
    build = plan.split("IdentityBroadcastMode", 1)[1]
    assert "HashAggregate" in build.split("FileScan", 1)[0], plan
    assert "Cartesian" not in plan


def test_cep_single_exchange(spark):
    """Both the lag window and the rollup cluster on user_id, so the whole
    CEP pattern query shuffles events exactly once — the same guarantee
    events_session_stats carries."""
    plan = _plan(E.queries()["events_cep_sequence"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_topk_per_type_single_exchange(spark):
    """The per-group top-k is one exchange on the group key followed by an
    in-partition window sort + filter — never a groupBy-collect_list
    (which would materialize whole groups in aggregation buffers)."""
    plan = _plan(E.queries()["events_topk_per_type"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "collect_list" not in plan


def test_neighbor_jaccard_wedge_is_equi_join(spark):
    """Pairs are generated ONLY at shared neighbors: the wedge join must
    plan as a hash/sort-merge EQUI-join on the center node (the node_a <
    node_b order predicate rides as a join filter), never a
    CartesianProduct or BNLJ — all-pairs here is the structural-similarity
    scale killer."""
    from dr_source_spark.operators.graph import neighbor_jaccard

    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (1, 4), (2, 4), (5, 3)], "src long, dst long"
    )
    plan = _plan(neighbor_jaccard(edges, min_pct=0, min_common=1, max_hub_degree=100))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_cep_requires_adjacency_unlike_funnel(spark):
    """Semantics pin: a user whose view -> click -> purchase steps are in
    order but NOT consecutive matches the funnel, not the CEP pattern —
    the two queries answer different questions."""
    rows = [
        # user 1: strictly consecutive triple -> CEP match
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, ""),
        (2, "2024-01-01 10:01:00", 1, "click", 1.0, ""),
        (3, "2024-01-01 10:02:00", 1, "purchase", 1.0, ""),
        # user 2: ordered but interrupted by an error event -> no CEP match
        (4, "2024-01-01 10:00:00", 2, "view", 1.0, ""),
        (5, "2024-01-01 10:01:00", 2, "click", 1.0, ""),
        (6, "2024-01-01 10:01:30", 2, "error", 1.0, ""),
        (7, "2024-01-01 10:02:00", 2, "purchase", 1.0, ""),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        got = {r.user_id: r.n_sequences for r in E.queries()["events_cep_sequence"](spark, d).collect()}
    assert got == {1: 1}


def test_q6_filters_reach_the_scan(spark):
    """The pure scan-aggregate class: every Q6 predicate (shipdate band,
    discount band, quantity cap) is pushed to the parquet scan, the scan
    reads only the three predicate columns + the two measure columns,
    and there are no joins at all."""
    plan = _plan(E.queries()["q6_forecast_revenue"](spark, SF))
    assert "Join" not in plan
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln)
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in scan, scan
    assert "l_orderkey" not in scan  # column pruning held


def test_q15_scalar_max_broadcasts_one_row(spark):
    """The view + global-scalar-max class: the 1-row max side is
    broadcast and Catalyst rewrites crossJoin+equality-filter into a
    broadcast HASH join on the equality key (better than a nested
    loop) — never a CartesianProduct, never a rounded-double
    equality."""
    plan = _plan(E.queries()["q15_top_supplier"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    cross = [ln for ln in plan.splitlines()
             if "BroadcastHashJoin" in ln and "Cross" in ln and "_mx" in ln]
    assert len(cross) == 1, plan


def test_q21_plans_semi_and_anti_on_the_equi_key(spark):
    """The dual-correlation class: EXISTS -> LeftSemi, NOT EXISTS ->
    LeftAnti, both hash joins on l_orderkey with the supplier
    inequality as a residual condition — no nested loop, which is what
    a naive translation of the correlated pair produces."""
    plan = _plan(E.queries()["q21_waiting_suppliers"](spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_q10_cut_is_deterministic_on_exact_cents(spark):
    """Top-20 membership is decided on exact floor-cents with a custkey
    tie-break (TakeOrderedAndProject in-plan); the rounded double is
    display-only."""
    df = E.queries()["q10_returned_items"](spark, SF)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert df.count() == 20


def test_q2_min_join_back_is_hash_and_cut_is_deterministic(spark):
    """The per-group-min + join-back class: the join back onto
    (partkey, min cost) is a HASH join on the two-column equi-key —
    never a nested loop — and the top-100 cut is a
    TakeOrderedAndProject on exact-cents-backed keys."""
    plan = _plan(E.queries()["q2_min_cost_supplier"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q9_dimensions_broadcast(spark):
    """The multi-dimension profit rollup: part/supplier/nation all
    broadcast (at least three BroadcastHashJoins) so the only shuffled
    join is lineitem-orders on the orderkey."""
    plan = _plan(E.queries()["q9_product_type_profit"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q11_only_nested_loop_is_the_one_row_total(spark):
    """The group-share-threshold class: the single
    BroadcastNestedLoopJoin is the 1-row global-total broadcast (the
    same scalar-subquery shape as q22), never a CartesianProduct."""
    plan = _plan(E.queries()["q11_important_stock"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    bnlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(bnlj) <= 1, plan
    if bnlj:
        assert "Cross" in bnlj[0], plan


def test_q20_plans_semi_join_chain(spark):
    """The nested semi-join chain: the dominant-supplier key set feeds a
    LEFT SEMI join against supplier; the correlated aggregate threshold
    decorrelates to hash joins only."""
    plan = _plan(E.queries()["q20_dominant_suppliers"](spark, SF))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_scd2_versions_chain_and_single_exchange(spark, tmp_path):
    """valid_to equals the NEXT version's valid_from (half-open
    intervals tile the timeline with no gap or overlap), exactly one
    version per key is current, and the whole snapshot is ONE exchange
    on the entity key."""
    from dr_source_spark.operators.relational import scd2_history

    rows = [
        (1, "2024-01-01 10:00:00", 7, "a", 1.0, ""),
        (2, "2024-01-02 10:00:00", 7, "b", 2.0, ""),
        (3, "2024-01-03 10:00:00", 7, "c", 3.0, ""),
        (4, "2024-01-01 09:00:00", 8, "x", 4.0, ""),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    p = str(tmp_path / "ev.parquet")
    ev.write.parquet(p)
    df = scd2_history(spark.read.parquet(p), "user_id", ["ts", "event_id"], ["event_type"])
    plan = _plan(df)  # before any action: AQE rewrites executed plans
    assert plan.count("Exchange hashpartitioning") == 1, plan
    got = {(r.user_id, r.version): (r.event_type, r.valid_from, r.valid_to, r.is_current) for r in df.collect()}
    assert got[(7, 1)][0] == "a" and got[(7, 1)][2] == got[(7, 2)][1]
    assert got[(7, 2)][2] == got[(7, 3)][1]
    assert [v[3] for k, v in sorted(got.items()) if k[0] == 7] == [False, False, True]
    assert got[(8, 1)][3] is True


def test_markov_transitions_hand_computed(spark):
    """Per-user lag chains: user boundaries never transition, counts
    and basis-point probabilities are exact (a->b twice, a->c once =>
    p(a->b) = 6666 bp)."""
    from dr_source_spark.operators.relational import markov_transitions

    rows = [
        (1, "2024-01-01 10:00:00", 1, "a", 1.0, ""),
        (2, "2024-01-01 10:01:00", 1, "b", 1.0, ""),
        (3, "2024-01-01 10:02:00", 1, "a", 1.0, ""),
        (4, "2024-01-01 10:03:00", 1, "c", 1.0, ""),
        (5, "2024-01-01 10:00:00", 2, "a", 1.0, ""),
        (6, "2024-01-01 10:01:00", 2, "b", 1.0, ""),
        # user 2 ends on 'b'; user 3 starts on 'z' — no b->z step
        (7, "2024-01-01 10:00:00", 3, "z", 1.0, ""),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {(r.t_from, r.t_to): (r.n_steps, r.p_bp) for r in markov_transitions(ev).collect()}
    assert got == {("a", "b"): (2, 6666), ("a", "c"): (1, 3333), ("b", "a"): (1, 10000)}
