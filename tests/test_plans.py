"""Physical-plan assertions: the plans must be the plans we'd want at
100 TB — filters/columns pushed into the parquet scan, small dims broadcast,
aggregates partial+final inside whole-stage codegen, top-k as
TakeOrderedAndProject. Guards against regressions that only show up as
silent slowdowns at scale."""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _cache_free(spark, realcode_corpus):
    """Plan gates must see REAL scans. Any earlier module that cached a
    DataFrame over the same parquet (e.g. test_training_ops' docs fixture)
    makes Spark's CacheManager substitute an InMemoryRelation whose stored
    plan text still carries the ORIGINAL full-schema FileScan line — the
    pruning assertions would then fail on state, not on the operator.
    Clear the cache for this module; re-mark the session-scoped corpus
    cache afterwards so later modules keep their speed."""
    spark.catalog.clearCache()
    yield
    realcode_corpus.cache()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_and_column_pushdown(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1997-09-01").select("l_returnflag", "l_quantity")
    plan = _optimized(q)
    scan_line = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    # filter pushed to the scan
    assert "isnotnull(l_shipdate" in scan_line and "l_shipdate" in scan_line.split("DataFilters")[1][:120]
    # column pruning: scan projects exactly the 3 needed columns
    cols = scan_line.split("[")[1].split("]")[0]
    assert {c.split("#")[0] for c in cols.split(",")} == {"l_quantity", "l_returnflag", "l_shipdate"}


def test_small_dims_are_broadcast(spark):
    import __spark_entry__ as E

    plan = _plan(E.queries()["join_region_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q1_partial_final_aggregation_codegen(spark):
    import __spark_entry__ as E

    plan = _plan(E.queries()["q1_pricing_summary"](spark, SF))
    assert plan.count("HashAggregate") >= 2  # partial + final (map-side combine)
    assert "partial_sum" in plan and "partial_count" in plan
    assert "SortAggregate" not in plan  # decimal sums stay hash-aggregable


def test_topk_uses_take_ordered(spark):
    import __spark_entry__ as E

    plan = _plan(E.queries()["topk_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_detector_stage_prunes_content_early(spark, realcode_corpus):
    """The wide content column must not survive past the detector UDF."""
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.analyze import run_detectors
    from dr_source_spark.sources.corpus import ingest_source_files

    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    findings = run_detectors(ingest_source_files(realcode_corpus), ckb)
    assert "content" not in findings.columns
    # everything ABOVE the detector UDF in the plan is content-free: the
    # wide column dies inside the mapInArrow stage
    from dr_source_spark.operators.triples import findings_to_triples

    plan = _plan(findings_to_triples(findings))
    assert "MapInArrow" in plan and "MapInPandas" not in plan
    above_udf = plan.split("MapInArrow")[0]
    assert "content#" not in above_udf


def test_triples_projection_is_single_pass(spark, realcode_corpus, tmp_path):
    """findings→triples must scan the detector output ONCE (conditional
    explode), never as a union of per-predicate branches — each union branch
    re-runs the whole detector stage when findings are uncached."""
    from dr_source_spark.pipeline import extract

    res = extract(spark, realcode_corpus, run_id="plan")
    for df in (res.triples, res.nodes, res.edges):
        plan = _plan(df)
        # exactly one detector stage in the whole physical plan, and it is
        # the Arrow one (the index job's MapInPandas is a separate query,
        # not part of this plan)
        assert plan.count("MapInArrow") == 1, f"detector stage ran {plan.count('MapInArrow')}x"
        assert "MapInPandas" not in plan
        assert "Union" not in plan

    # once the triples write has filled the detector cache, nodes and edges
    # read it through InMemoryTableScan. The filled cache's AQE plan prints
    # its final and its initial plan, so its one MapInArrow node shows twice
    # in the text: count distinct detector nodes by their result id
    res.triples.write.parquet(str(tmp_path / "triples"))
    for df in (res.nodes, res.edges):
        plan = _plan(df)
        above_udf = plan.split("MapInArrow")[0]
        assert "InMemoryTableScan" in above_udf and "InMemoryRelation" in above_udf
        detectors = set(re.findall(r"MapInArrow process_arrow\(.*?\)#(\d+)", plan))
        assert len(detectors) == 1, f"{len(detectors)} detector stages"
        assert "MapInPandas" not in plan
        assert "Union" not in plan
    res.cleanup()


def test_detector_parallelism_widens_but_never_narrows(spark):
    """With no bytes-per-task, a 1-split input of unknown size must widen to
    the cluster width, and an input that already arrives wider (e.g. many
    natural parquet splits) must NEVER be collapsed (the round-2
    regression: an inputFiles()-count trigger repartitioned natural splits
    down unconditionally)."""
    from dr_source_spark.operators.analyze import ensure_min_parallelism

    target = spark.sparkContext.defaultParallelism
    rows = [("r", f"p{i}.py", "c", ".py", "x = 1") for i in range(200)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, ext string, content string"
    )

    widened = ensure_min_parallelism(df.coalesce(1))
    assert widened.rdd.getNumPartitions() >= target

    wide_in = df.repartition(target * 12, "repo", "path")
    assert ensure_min_parallelism(wide_in).rdd.getNumPartitions() == target * 12


def test_parallelism_decision_runs_no_upstream_shuffle(spark):
    """Sizing an input whose plan holds a shuffle (a repartition, join
    mode's called_defs) submits no Spark job:
    adaptive execution would run the shuffle to count its output
    partitions, and the real query would run it again."""
    from dr_source_spark.operators.analyze import ensure_min_parallelism

    sc = spark.sparkContext
    rows = [("r", f"p{i}.py", "c", ".py", f"x = {i % 50}") for i in range(200)]
    shuffled = spark.createDataFrame(
        rows, "repo string, path string, commit string, ext string, content string"
    ).repartition(1, "content")
    sc.setJobGroup("width-decision", "ensure_min_parallelism")
    try:
        widened = ensure_min_parallelism(shuffled)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("width-decision")) == []
    if sc.defaultParallelism > 1:
        assert "Exchange hashpartitioning(repo" in _plan(widened)


# the columns run_detectors reads, whose plan size sizes the stage
_DETECTOR_COLS = ("repo", "path", "commit", "ext", "content")


def _detector_input(spark, rows_df, tmp_path, files: int):
    """rows_df written as ``files`` parquet files and read back through the
    ingest stage: a scan with real size statistics, one split per file."""
    from dr_source_spark.sources.corpus import ingest_source_files

    path = str(tmp_path / "src")
    rows_df.repartition(files).write.parquet(path)
    return ingest_source_files(spark.read.parquet(path))


def _below_detector(plan: str) -> str:
    assert plan.count("MapInArrow") == 1
    return plan.split("MapInArrow")[1]


def test_detector_keeps_small_single_split_input_as_one_task(spark, tmp_path):
    """A commit-sized input (one split, less than one task's bytes) runs as
    the one task it arrives in: no shuffle below the detector."""
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.analyze import DETECTOR_TASK_BYTES, _plan_size_bytes, run_detectors

    rows = [("r", f"p{i}.py", "c", "python", f"x{i} = {i}\n") for i in range(10)]
    schema = "repo string, path string, commit string, lang string, content string"
    files = _detector_input(spark, spark.createDataFrame(rows, schema), tmp_path, 1)
    assert files.rdd.getNumPartitions() == 1
    assert 0 < _plan_size_bytes(files.select(*_DETECTOR_COLS)) < DETECTOR_TASK_BYTES

    findings = run_detectors(files, compile_kb(load_kb(project_dir="/nonexistent")))
    assert "Exchange" not in _below_detector(_plan(findings))
    assert findings.rdd.getNumPartitions() == 1


def test_detector_reads_cores_wide_persisted_ingest_without_shuffle(spark, realcode_corpus, tmp_path):
    """An ingest that is already split cores-wide and persisted (extract()'s
    detector input) reaches the detector without a content shuffle."""
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.analyze import run_detectors

    cores = spark.sparkContext.defaultParallelism
    files = _detector_input(spark, realcode_corpus, tmp_path, cores)
    files = files.select("repo", "path", "commit", "ext", "lang", "content").persist()
    try:
        assert files.rdd.getNumPartitions() == cores
        findings = run_detectors(files, compile_kb(load_kb(project_dir="/nonexistent")))
        below = _below_detector(_plan(findings))
        assert "InMemoryTableScan" in below and "Exchange" not in below
        assert findings.rdd.getNumPartitions() == cores
    finally:
        files.unpersist()


def test_detector_widens_large_single_split_input_to_cores(spark, realcode_corpus, tmp_path):
    """One split carrying more than cores x DETECTOR_TASK_BYTES is hashed
    out to exactly cores tasks."""
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.analyze import DETECTOR_TASK_BYTES, _plan_size_bytes, run_detectors

    cores = spark.sparkContext.defaultParallelism
    files = _detector_input(spark, realcode_corpus, tmp_path, 1)
    assert files.rdd.getNumPartitions() == 1
    assert _plan_size_bytes(files.select(*_DETECTOR_COLS)) > cores * DETECTOR_TASK_BYTES

    findings = run_detectors(files, compile_kb(load_kb(project_dir="/nonexistent")))
    assert "Exchange hashpartitioning(repo" in _below_detector(_plan(findings))
    assert findings.rdd.getNumPartitions() == cores


def test_run_detectors_preserves_wide_input_partitioning(spark):
    """mapInArrow is narrow — the findings partition count must equal the
    (already wide) input partition count, proving run_detectors did not
    inject a collapsing repartition."""
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.analyze import run_detectors

    target = spark.sparkContext.defaultParallelism
    rows = [("r", f"p{i}.py", "c", ".py", "x = 1") for i in range(200)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, ext string, content string"
    ).repartition(target * 12, "repo", "path")
    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    findings = run_detectors(df, ckb)
    assert findings.rdd.getNumPartitions() == target * 12


def test_scan_diff_uses_hash_joins_not_cartesian(spark):
    import __spark_entry__ as E

    plan = _plan(E.queries()["a9_scan_diff_new"](spark, SF))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_near_dup_join_is_equi_on_bucket(spark):
    from dr_source_spark.training.similarity import embedding_near_duplicates

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = embedding_near_duplicates(emb, threshold=0.5, num_planes=6)
    plan = _plan(pairs)
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    rows = pairs.collect()
    assert all(r.id_a < r.id_b and r.sim >= 0.5 for r in rows)


def test_repetition_metrics_plan_is_shuffle_free(spark):
    """The Gopher repetition signals must stay a pure map over the scan —
    any Exchange means a per-doc metric picked up a needless shuffle."""
    from dr_source_spark.training.text import repetition_metrics

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(repetition_metrics(docs))
    assert "Exchange" not in plan
    # the scan-side project is codegen'd ("*(1)"); the higher-order-function
    # lambdas (transform/aggregate) evaluate outside codegen but stay
    # row-local — the load-bearing property is the absence of any Exchange
    assert "*(1)" in plan


def test_ngram_overlap_broadcasts_benchmark_side(spark):
    """Decontamination joins the tiny eval-set side via broadcast — a
    SortMergeJoin here would shuffle the full corpus gram explode."""
    from dr_source_spark.training.text import ngram_overlap

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(ngram_overlap(docs, docs.filter(F.col("doc_id") % 97 == 0)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_ngrams_uses_take_ordered(spark):
    """Corpus-wide top-k must be a TakeOrderedAndProject, never a global
    sort of the full ngram histogram."""
    from dr_source_spark.training.text import top_ngrams

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(top_ngrams(docs))
    assert "TakeOrderedAndProject" in plan


def test_sample_stratified_prunes_text_column(spark):
    """The sampling decision uses only (doc_id, lang) — the wide text
    column must not be read from parquet at all."""
    from dr_source_spark.training.text import sample_stratified

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _optimized(sample_stratified(docs, {"en": 0.5}))
    scan_line = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "text" not in scan_line.split("ReadSchema")[-1]


def test_pii_scrub_is_shuffle_free(spark):
    from dr_source_spark.training.text import pii_scrub

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert "Exchange" not in _plan(pii_scrub(docs))


def test_simhash_pairs_join_is_banded_equi(spark):
    """simhash_near_dup_pairs must self-join on exploded (band, band_sig)
    keys — a shuffled equi-join. An OR of per-band equalities has no
    conjunctive equi-key and Catalyst would plan BroadcastNestedLoopJoin
    (all-pairs), fatal at corpus scale (ADVICE r3)."""
    from dr_source_spark.training.dedup import simhash_near_dup_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = simhash_near_dup_pairs(docs)
    plan = _plan(pairs)
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_triangle_counting_is_equi_join_only(spark, monkeypatch):
    """Degree-ordered triangle counting: wedge generation and closure are
    equi-joins (plus an inequality residual) — no Cartesian anywhere. The
    distributed route is forced: a small graph would run on the driver."""
    import __spark_entry__ as E
    from dr_source_spark.operators import graph

    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
    plan = _plan(E.queries()["kg_triangles"](spark, SF))
    assert "CartesianProduct" not in plan


def test_curation_decisions_single_shuffle(spark):
    """The composed curation verdict costs exactly the exact-dedup shuffle:
    one fingerprint exchange pair (groupBy + join-back), no extra
    repartitions, everything else columnar."""
    from dr_source_spark.training.curate import curation_decisions

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = _plan(curation_decisions(docs))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_repeated_spans_equi_joins_only(spark):
    """Gram-position matching joins on (doc id, gram hash) equi-keys and
    the diagonal islands are window work — no Cartesian/BNLJ anywhere
    (an all-pairs gram match would be fatal at corpus scale)."""
    from dr_source_spark.training.dedup import minhash_lsh_candidates, repeated_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = _plan(repeated_spans(docs, minhash_lsh_candidates(docs)))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_two_hop_paths_pushes_predicate_filters(spark):
    """Property-path sides are predicate-pruned BEFORE the mid-node
    equi-join: the filters sit below the join, and no Cartesian exists."""
    from dr_source_spark.operators.graph import two_hop_paths

    edges = spark.createDataFrame(
        [("a", "P1", "m"), ("m", "P2", "b")], "src string, pred string, dst string"
    )
    plan = _plan(two_hop_paths(edges, "P1", "P2", "chain"))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_pack_sequences_no_full_data_single_partition(spark):
    """End-to-end packing plan: the only SinglePartition exchange is the
    bucket-totals window (n_buckets rows), never the document data."""
    from dr_source_spark.training.pack import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = _plan(pack_sequences(docs))
    assert plan.count("Exchange SinglePartition") <= 1


def test_asof_join_is_join_free(spark):
    """The merge-carry as-of shape contains NO join operator at all —
    one union, one per-key window; a range-join formulation would plan
    BroadcastNestedLoop."""
    from dr_source_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.groupBy("user_id", "ts").agg(F.max("value").alias("value"))
    plan = _plan(asof_join(left, right))
    assert "Join" not in plan and "Cartesian" not in plan


def test_interval_bucket_join_is_equi_join(spark):
    """The bucketized range join plans a hash/SMJ equi-join on the bucket
    key — never the BroadcastNestedLoop a raw lo<=v<=hi condition gets."""
    from dr_source_spark.operators.rangejoin import interval_bucket_join

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "value")
    bands = spark.range(40).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 25.0).alias("lo"),
        (F.col("id") * 25.0 + 30.0).alias("hi"),
    )
    plan = _plan(interval_bucket_join(ev.filter(F.col("value").isNotNull()), bands, value_col="value"))
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_incremental_dedup_probe_is_broadcast_no_cartesian(spark):
    """incremental_dedup_decisions: the new-batch band signatures are the
    broadcast probe onto the (huge, never-shuffled-for-the-probe) index
    signature table — the plan must contain a BroadcastHashJoin and no
    Cartesian/BNLJ anywhere (the verify stage joins back token sets only
    for candidates)."""
    from dr_source_spark.training.dedup import incremental_dedup_decisions

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = incremental_dedup_decisions(
        docs.filter("doc_id % 3 != 0"), docs.filter("doc_id % 3 = 0")
    )
    plan = _plan(out)
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_importance_scoring_join_is_broadcast(spark):
    """importance_select: the bucket-weight table (<= buckets rows)
    broadcasts onto the raw gram stream — BroadcastHashJoin on the
    scoring join, no Cartesian anywhere (the only BNLJ-free corpus-side
    plan shape that survives 100 TB)."""
    from dr_source_spark.training.select import importance_select

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = importance_select(
        docs.filter("doc_id % 10 = 0"), docs.filter("doc_id % 10 != 0")
    )
    plan = _plan(out)
    assert "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan


def test_incremental_dedup_backfill_mode_shuffled_equi(spark):
    """broadcast_new=False (backfill batches too large to broadcast):
    the probe degrades to a shuffled equi-join on (band, band_sig) —
    still no Cartesian/BNLJ anywhere."""
    from dr_source_spark.training.dedup import incremental_dedup_decisions

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = incremental_dedup_decisions(
        docs.filter("doc_id % 3 != 0"),
        docs.filter("doc_id % 3 = 0"),
        broadcast_new=False,
    )
    plan = _plan(out)
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_hyperball_propagation_equi_joins_only(spark, monkeypatch):
    """HyperBall's per-round register propagation is an equi-join on the
    edge endpoint plus a max-aggregate; the exact-ball witness joins on
    the member key. No Cartesian/BNLJ anywhere — an all-pairs shape here
    would be fatal on a 10^12-edge graph. The distributed route is
    forced: a small graph would run on the driver."""
    from dr_source_spark.operators import graph
    from dr_source_spark.operators.graph import hyperball_neighborhoods

    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    plan = _plan(hyperball_neighborhoods(edges, nodes, p=4))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_personalized_pagerank_seed_flag_is_broadcast(spark):
    """The seed flag joins onto the node table as a broadcast (the seed
    set is small by construction). Gated on the PRE-checkpoint node-table
    plan via _ppr_node_table — the operator's returned DataFrame sits
    behind localCheckpoint, where the executed plan is a Scan ExistingRDD
    and any join assertion would be vacuous."""
    from dr_source_spark.operators.graph import _ppr_node_table

    edges = spark.createDataFrame(
        [("s", "a"), ("a", "s"), ("a", "b"), ("b", "a")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    e = edges.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    plan = _plan(_ppr_node_table(e, deg, seeds))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # the seed flag really does broadcast: dropping F.broadcast would
    # shuffle the node table instead
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_session_stats_single_exchange(spark):
    """Both window specs and both stacked aggregates cluster on (or on a
    superset of) user_id, so the whole sessionization query shuffles the
    events exactly ONCE — at 100 TB a second exchange here would double
    the job's network cost."""
    from dr_source_spark.operators.relational import session_stats

    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(session_stats(events))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ppjoin_no_cartesian_and_prefix_equijoin(spark):
    """ppjoin_pairs: candidate generation and verification are token
    EQUI-joins — the whole point of prefix filtering is that no plan
    node ever compares all pairs. No Cartesian/BNLJ anywhere."""
    from dr_source_spark.training.dedup import ppjoin_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(ppjoin_pairs(docs, tau_bp=8000))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_auc_windows_run_over_aggregated_score_table(spark):
    """auc_by_group: the cumulative window must sit ABOVE the row-table
    aggregate in the plan tree (i.e. it ranks the distinct-score count
    table, never the raw rows) — the property that makes exact AUC
    feasible at 100 TB."""
    from dr_source_spark.training.evalmetrics import auc_by_group

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        auc_by_group(docs, "source", F.col("n_chars"), (F.col("lang") == "en").cast("long"))
    )
    assert "Window" in plan
    below_window = plan[plan.index("Window"):]
    assert "HashAggregate" in below_window  # partial/final agg feeds the window
    assert "FileScan" in below_window.split("HashAggregate", 1)[1]


def test_kendall_pair_join_operates_on_aggregated_grid(spark):
    """kendall_tau_grid: the x<y pair join is legitimately a nested-loop
    — but it must consume the AGGREGATED joint-count grid, never raw
    rows (the subtree below the join must aggregate before scanning)."""
    from dr_source_spark.operators.stats import kendall_tau_grid

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(
        kendall_tau_grid(li, F.floor(F.col("l_quantity")), F.floor(F.col("l_discount") * 100))
    )
    join_at = min(
        [i for i in (plan.find("BroadcastNestedLoop"), plan.find("CartesianProduct")) if i >= 0]
        or [len(plan)]
    )
    below = plan[join_at:]
    assert "HashAggregate" in below  # grid built by aggregation below the join


def test_rfm_rank_windows_over_customer_aggregate(spark):
    """rfm_segments: the three rank windows must run over the
    per-customer aggregate table (one HashAggregate below the first
    Window), not the order rows."""
    from dr_source_spark.operators.mining import rfm_segments

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    plan = _plan(rfm_segments(orders))
    assert "Window" in plan
    below = plan[plan.index("Window"):]
    assert "HashAggregate" in below
    assert "FileScan" in below.split("HashAggregate", 1)[1]


def test_batch13_15_new_joins_are_equi_not_cartesian(spark):
    """The wedge/banded joins added in round 5's continuation batches
    must stay equi-joins: RA link prediction (wedge at the shared
    neighbor), item-item cosine (self-join at the entity key), dHash
    pairs (banded (band_idx, band_val) key). A CartesianProduct or
    BroadcastNestedLoopJoin here is the all-pairs regression this
    family exists to avoid."""
    from dr_source_spark.operators.graph import resource_allocation
    from dr_source_spark.operators.mining import item_cosine_pairs
    from dr_source_spark.training.multimodal import dhash_pairs

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], "src string, dst string"
    )
    plan = _plan(resource_allocation(edges, min_common=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    baskets = spark.createDataFrame(
        [(1, "A"), (1, "B"), (2, "A"), (2, "B")], "ent long, item string"
    )
    plan = _plan(item_cosine_pairs(baskets, min_co=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    sigs = spark.createDataFrame(
        [(1, 1, 2, 3, 4), (2, 1, 2, 3, 4)],
        "media_id long, b0 long, b1 long, b2 long, b3 long",
    )
    plan = _plan(dhash_pairs(sigs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mann_whitney_grid_cross_is_broadcast(spark):
    """mann_whitney_grid's grid_a x grid_b enumeration is a deliberate
    cross join over the COLLAPSED value grid (cells, not rows); the
    plan must broadcast one side (grid-sized), and the upstream
    row->cell collapse must be a partial+final aggregate."""
    from dr_source_spark.operators.stats import mann_whitney_grid

    df = spark.createDataFrame(
        [(True, 1), (False, 2), (True, 2)], "side boolean, v long"
    )
    plan = _plan(mann_whitney_grid(df, F.col("side"), F.col("v")))
    assert "BroadcastNestedLoopJoin BuildRight, Inner" in plan or (
        "CartesianProduct" not in plan and "Broadcast" in plan
    )
    assert plan.count("HashAggregate") >= 2


def test_weighted_sample_is_shuffle_free(spark):
    """weighted_bernoulli_sample: one global 1-row aggregate broadcast
    back over the scan — the doc filter itself must not shuffle the
    table (no Exchange between the scan and the filter output other
    than the broadcast)."""
    from dr_source_spark.training.select import weighted_bernoulli_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(weighted_bernoulli_sample(docs, "n_chars", target=10))
    # the only exchange feeds the 1-row total (broadcast); the big side
    # never repartitions
    assert "BroadcastExchange" in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_cohort_matrix_aggregates_are_partial_final(spark):
    from dr_source_spark.operators.stats import cohort_matrix

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    plan = _plan(
        cohort_matrix(
            orders, "o_custkey", "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long"),
        )
    )
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_batch17_plans_no_cartesian_and_aggregated_grids(spark):
    """Batch-17 scale shapes: walk_counts' per-round edge⋈score joins
    and theil_sen's pair enumeration must be equi-joins (the i<j
    residual rides a hash join on the group key, never a Cartesian);
    peak_concurrency and gini_best_split must collapse rows to the
    boundary/value grid with a partial+final aggregate before any
    window touches the data."""
    from dr_source_spark.operators.graph import walk_counts
    from dr_source_spark.operators.relational import peak_concurrency
    from dr_source_spark.operators.stats import gini_best_split, theil_sen_by_group

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    plan = _plan(walk_counts(edges, rounds=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(peak_concurrency(events, "event_type", "ts", 30))
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # boundary pre-agg partial+final

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(gini_best_split(li, F.col("l_quantity"), F.col("l_returnflag") == "R"))
    assert plan.count("HashAggregate") >= 2  # per-value grid partial+final

    plan = _plan(
        theil_sen_by_group(
            events, F.col("event_type"), F.col("ts"),
            F.round(F.col("value") * 100).cast("long"),
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_batch18_plans_equi_joins_and_broadcast_corpus_count(spark):
    """Batch-18 scale shapes: metapath_census joins per-(node, pred)
    COUNT tables (never edge pairs) — equi-join on the node key only;
    reciprocity is join-free (one unordered-pair groupBy);
    burstiness's corpus-doc count is a 1-row broadcast over the
    per-word aggregate (partial+final), with the top-k as a
    TakeOrderedAndProject."""
    from dr_source_spark.operators.graph import metapath_census, reciprocity
    from dr_source_spark.training.text import burstiness

    edges = spark.createDataFrame(
        [("a", "p", "b"), ("a", "q", "c"), ("b", "p", "c")],
        "src string, pred string, dst string",
    )
    for shape in ("chain", "co_subject", "co_object"):
        plan = _plan(metapath_census(edges, shape=shape))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("HashAggregate") >= 2  # count tables partial+final

    plan = _plan(reciprocity(edges))
    assert "Join" not in plan  # pair-key groupBy, no self-join
    assert plan.count("HashAggregate") >= 2

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(burstiness(docs, min_total=2, k=10))
    assert "CartesianProduct" not in plan
    # the only nested-loop is the deliberate 1-row corpus-count broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_batch19_plans_equi_joins_and_narrow_windows(spark):
    """Batch-19 scale shapes: wl_colors' per-round neighbor-color join
    and signature-rank join must be equi-joins (never a Cartesian);
    benford's only nested-loop is the deliberate 1-row total broadcast;
    simpson collapses text to (grp, word, count) with partial+final
    aggregates; bowley's ranking window rides a 3-column projection."""
    from dr_source_spark.operators.graph import wl_colors
    from dr_source_spark.operators.stats import benford_audit, bowley_skew_by_group
    from dr_source_spark.training.text import simpson_diversity

    edges = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")], "src string, pred string, dst string"
    )
    plan = _plan(wl_colors(edges, rounds=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    plan = _plan(benford_audit(orders, F.round(F.col("o_totalprice") * 100)))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert plan.count("HashAggregate") >= 2

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(simpson_diversity(docs))
    assert "Join" not in plan  # pure aggregate chain, no join at all
    assert plan.count("HashAggregate") >= 2

    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(
        bowley_skew_by_group(
            events, F.col("event_type"), F.round(F.col("value") * 100),
            F.col("event_id"),
        )
    )
    assert "CartesianProduct" not in plan
    scan_line = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    cols = scan_line.split("[")[1].split("]")[0]
    assert {c.split("#")[0] for c in cols.split(",")} == {
        "event_type", "value", "event_id",
    }


def test_batch20_plans_ivm_join_free_and_estimates_equi(spark):
    """Batch-20 scale shapes: maintain_group_agg is JOIN-FREE (union +
    one merge groupBy — the O(|delta| + |groups|) promise);
    join_cardinality_estimate's exact arm joins per-key COUNT tables
    (equi on the key, never the fact rows); heaps_curve's only
    nested-loops are the deliberate k-row checkpoint broadcasts."""
    from dr_source_spark.operators.merge import maintain_group_agg
    from dr_source_spark.operators.stats import join_cardinality_estimate
    from dr_source_spark.training.text import heaps_curve

    base = spark.createDataFrame([("g", 1, 1)], "grp string, n_rows long, sum_cents long")
    delta = spark.createDataFrame([("g", 1, False)], "grp string, v long, is_del boolean")
    plan = _plan(maintain_group_agg(base, delta, "grp", "v", "is_del"))
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(join_cardinality_estimate(orders, li, "o_orderkey", "l_orderkey"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(heaps_curve(docs, 10))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 3  # 1-row total + k-row cps


def test_snm_pairs_single_equi_join(spark):
    """Sorted-neighborhood candidates must come from ONE equi-join on the
    block key (probe side exploded to own+previous block), never an
    inequality-only or Cartesian join."""
    from dr_source_spark.operators.entity_link import snm_candidate_pairs

    m = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "mention_id long, name string"
    )
    plan = _plan(snm_candidate_pairs(m, window=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_batch21_plans_reshard_join_free_and_single_pass_analyze(spark):
    """Batch-21 scale shapes: reshard_plan is JOIN-FREE (the ring is a
    literal expression — zero joins, one 2x2 aggregate);
    analyze_table_stats computes every column's counters in ONE
    aggregate pass (no per-column scan union); decile_lift collapses to
    one row per entity before any window."""
    from dr_source_spark.operators.layout import reshard_plan
    from dr_source_spark.operators.stats import analyze_table_stats, decile_lift

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(reshard_plan(docs, "doc_id", 4, 5, vnodes=16))
    assert "Join" not in plan

    plan = _plan(analyze_table_stats(docs))
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1  # one pass, not per-column

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    plan = _plan(decile_lift(orders, "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long")))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # 1-row total broadcast
    assert plan.count("HashAggregate") >= 2


def test_batch22_plans_matching_and_cdc_narrow(spark):
    """Batch-22 scale shapes: greedy_matching is per-round one groupBy +
    two equi-joins + anti-joins (never an edge-pair join);
    cdc_chunk_census keeps the text column out of every shuffle except
    the single per-doc boundary window and chunk-extraction join."""
    from dr_source_spark.operators.graph import greedy_matching
    from dr_source_spark.training.dedup import cdc_chunk_census

    e = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")], "src string, pred string, dst string"
    )
    plan = _plan(greedy_matching(e, rounds=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(cdc_chunk_census(docs))
    assert "CartesianProduct" not in plan
    # only the two deliberate 1-row census broadcasts may nested-loop
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_batch23_plans_core_and_sliding_narrow(spark):
    """Batch-23 scale shapes: bipartite_core peels with degree groupBys +
    equi-joins (no pair joins); sliding_distinct_actives collapses to the
    (day, entity) grid before the bounded <= window_days fanout — its
    only nested-loop is the 1-row max-day broadcast."""
    from dr_source_spark.operators.graph import bipartite_core
    from dr_source_spark.operators.relational import sliding_distinct_actives

    e = spark.createDataFrame([("a", "b"), ("c", "b")], "src string, dst string")
    plan = _plan(bipartite_core(e, alpha=1, beta=1, rounds=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(sliding_distinct_actives(events, "user_id", "ts", 7))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert plan.count("HashAggregate") >= 2  # grid collapse partial+final


def test_batch24_plans_schema_graph_and_best_run(spark):
    """Batch-24 scale shapes: schema_graph joins the deduped triple
    projection to the node-kind table on narrow keys; best_run rides
    two per-group windows over the densified daily grid (rows collapse
    to (grp, day) first — partial+final) and one narrow start-recovery
    join."""
    from dr_source_spark.operators.stats import best_run_by_group
    from dr_source_spark.operators.triples import schema_graph

    triples = spark.createDataFrame(
        [("a:f@c", "HAS_VULN", "CWE-89", 1, "r")],
        "subj string, pred string, obj string, line int, run_id string",
    )
    plan = _plan(schema_graph(triples))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(
        best_run_by_group(
            events, "event_type", "ts", F.round(F.col("value") * 100).cast("long")
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_batch49_50_plans_topk_and_no_cartesian(spark):
    import __spark_entry__ as E
    from tools.sweep import bnlj_builds, classify_build

    # top-k cuts must plan as TakeOrderedAndProject (per-partition
    # top-k + k-merge), never a global Sort over the full pair table.
    # The round-6 class-level k-cut attaches its ONE-ROW boundary
    # aggregate as a broadcast scalar, which plans as a nested-loop
    # attach (the sanctioned scalar-total shape, O(n)); any OTHER
    # nested-loop join — i.e. a pair-level one — stays forbidden, so
    # every BNLJ build side must classify as a scalar aggregate.
    for name in ("kg_neighbor_jaccard_topk",):
        df = E.queries()[name](spark, SF)
        plan = _plan(df)
        assert "TakeOrderedAndProject" in plan, name
        assert "CartesianProduct" not in plan, name
        builds = [b for _node, b in bnlj_builds(df._jdf.queryExecution().executedPlan())]
        assert builds, name
        for build in builds:
            assert classify_build(build) == "scalar", (name, build.toString())
    # both extremes sides of the norm screen take the TakeOrdered path
    plan = _plan(E.queries()["emb_norm_extremes"](spark, SF))
    assert plan.count("TakeOrderedAndProject") == 2
    # the churn screen and Pareto cut stay join-free over the fact scan:
    # one aggregate, window only over the per-customer aggregate
    for name in ("customer_overdue", "customer_pareto_cut"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "Join" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_batch55_62_plans_broadcast_and_no_fact_windows(spark):
    import __spark_entry__ as E

    # trade balance: dims broadcast, no cartesian on the fact legs
    plan = _plan(E.queries()["nation_trade_balance"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # new-vs-repeat: the first-order year is an aggregate JOIN, never a
    # window over the fact table (Window would appear in the plan)
    plan = _plan(E.queries()["orders_new_vs_repeat"](spark, SF))
    assert "Window" not in plan
    # key skew census: TakeOrdered cut + the 1-row total broadcast
    plan = _plan(E.queries()["events_key_skew"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # snake shard plan + histograms keep the fact scan window-free: every
    # window in these plans runs over a post-aggregate (tiny) stream —
    # assert no SortMergeJoin sneaks in anywhere
    for name in ("supplier_shard_plan", "customer_balance_buckets",
                 "orders_gap_histogram", "lineitem_quantity_profile"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
