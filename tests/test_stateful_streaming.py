"""Custom stateful streaming operator (applyInPandasWithState) and
deep inter-file call chains (depth 2-3 across three files)."""

import pytest
from pyspark.sql import functions as F


def test_repo_risk_ledger_crossings(spark, tmp_path_factory):
    from dr_source_spark.schema import FINDINGS
    from dr_source_spark.streaming.stateful import repo_risk_ledger

    src = str(tmp_path_factory.mktemp("ledger_src"))
    ckpt = str(tmp_path_factory.mktemp("ledger_ckpt"))
    out = str(tmp_path_factory.mktemp("ledger_out"))

    def mk(repo, sev, n):
        return [
            (repo, f"f{i}.py", "c", "T (AST Taint)", f"m{i}", sev, 1, "p", [], None, None, None, None, None, "T")
            for i in range(n)
        ]

    # batch 1: repoA scores 3 HIGHs = 12 → crosses 1,2,4,8
    spark.createDataFrame(mk("repoA", "HIGH", 3), FINDINGS).write.mode("append").parquet(src)
    stream = spark.readStream.schema(FINDINGS).parquet(src)
    q = (
        repo_risk_ledger(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    crossed = sorted(r.threshold_crossed for r in rows if r.repo == "repoA")
    assert crossed == [1.0, 2.0, 4.0, 8.0]

    # batch 2: +2 LOW (score 14) → crosses nothing; +1 CRITICAL later run
    spark.createDataFrame(mk("repoA", "LOW", 2), FINDINGS).write.mode("append").parquet(src)
    q = (
        repo_risk_ledger(spark.readStream.schema(FINDINGS).parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows2 = spark.read.parquet(out).collect()
    assert sorted(r.threshold_crossed for r in rows2 if r.repo == "repoA") == [1.0, 2.0, 4.0, 8.0]
    # cumulative state survived the restart (score 14 recorded, next=16)
    spark.createDataFrame(mk("repoA", "CRITICAL", 1), FINDINGS).write.mode("append").parquet(src)
    q = (
        repo_risk_ledger(spark.readStream.schema(FINDINGS).parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows3 = spark.read.parquet(out).collect()
    assert sorted(r.threshold_crossed for r in rows3 if r.repo == "repoA") == [1.0, 2.0, 4.0, 8.0, 16.0]


def test_interfile_depth_chain_java(spark):
    """A→B→C across three files: taint crosses two index hops (depth ≤ 3,
    reference max_depth semantics)."""
    from dr_source_spark.detectors.java_taint import analyze_java
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.parsers.javaparse import extract_method_defs

    a = """import javax.servlet.http.HttpServletRequest;
public class A {
    public void doGet(HttpServletRequest request) throws Exception {
        String v = request.getParameter("x");
        hopOne(v);
    }
}"""
    b = """public class B {
    public void hopOne(String s1) throws Exception {
        hopTwo(s1);
    }
}"""
    c = """import java.sql.Statement;
public class C {
    Statement stmt;
    public void hopTwo(String s2) throws Exception {
        stmt.executeQuery(s2);
    }
}"""
    idx = {}
    for name, src in (("B.java", b), ("C.java", c), ("A.java", a)):
        for d in extract_method_defs(src):
            idx[d["name"]] = {"path": name, "lang": "java", "def_source": d["def_source"],
                              "def_line": d["def_line"], "params": d["params"]}
    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    findings = analyze_java(a, ckb.taint["java"], fn_index=idx)
    sqli = [f for f in findings if f["base_type"] == "SQL_INJECTION"]
    assert sqli, "depth-2 chain not detected"
    trace = " | ".join(sqli[0]["trace"])
    assert "in B.java" in trace and "in C.java" in trace


def test_windowed_counts_finalize_and_drop_late_rows(spark, tmp_path_factory):
    """Watermark semantics: a window's count is emitted once finalized, and
    a row arriving later than the watermark allows does NOT reopen it."""
    import datetime as dt

    from dr_source_spark.streaming.incremental import windowed_finding_counts

    src = str(tmp_path_factory.mktemp("win_src"))
    ckpt = str(tmp_path_factory.mktemp("win_ckpt"))
    out = str(tmp_path_factory.mktemp("win_out"))
    schema = "repo string, severity string, event_ts timestamp"
    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    def run():
        q = (
            windowed_finding_counts(
                spark.readStream.schema(schema).parquet(src),
                window_dur="10 minutes",
                watermark="10 minutes",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    # batch 1: three HIGHs inside [10:00, 10:10)
    spark.createDataFrame(
        [("r", "HIGH", t0), ("r", "HIGH", t0 + dt.timedelta(minutes=3)),
         ("r", "HIGH", t0 + dt.timedelta(minutes=9))],
        schema,
    ).write.mode("append").parquet(src)
    run()

    # batch 2: an event at 10:25 advances the watermark to 10:15 → the
    # [10:00, 10:10) window finalizes and is emitted
    spark.createDataFrame([("r", "LOW", t0 + dt.timedelta(minutes=25))], schema).write.mode(
        "append"
    ).parquet(src)
    rows = run()
    win1 = [r for r in rows if r.window_start == t0]
    assert win1 and win1[0].severity == "HIGH" and win1[0].n == 3

    # batch 3: a LATE row for the finalized window (event time 10:05, far
    # behind the 10:15 watermark) must be dropped, not re-emitted
    spark.createDataFrame([("r", "HIGH", t0 + dt.timedelta(minutes=5))], schema).write.mode(
        "append"
    ).parquet(src)
    # plus a fresh event so the batch isn't empty and watermark advances more
    spark.createDataFrame([("r", "LOW", t0 + dt.timedelta(minutes=40))], schema).write.mode(
        "append"
    ).parquet(src)
    rows = run()
    win1 = [r for r in rows if r.window_start == t0]
    assert len(win1) == 1 and win1[0].n == 3  # unchanged, late row dropped


def test_interval_join_boundaries_batch_mode(spark):
    """interval_join on batch frames (watermark is a no-op): boundary at
    exactly gap included, beyond excluded, cross-user excluded,
    purchase-before-click excluded."""
    from datetime import datetime

    from dr_source_spark.streaming.incremental import interval_join

    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, mins, uid):
        return (eid, datetime(2024, 1, 1, 12, mins, 0), uid)

    clicks = spark.createDataFrame(
        [ev(1, 0, 10), ev(2, 0, 20)], "event_id long, ts timestamp, user_id long"
    )
    purchases = spark.createDataFrame(
        [
            ev(100, 30, 10),   # exactly at gap -> included
            ev(101, 31, 10),   # beyond -> excluded
            ev(102, 5, 20),    # within -> included
            ev(103, 5, 99),    # other user -> excluded
            (104, datetime(2024, 1, 1, 11, 59, 0), 10),  # before click -> excluded
        ],
        "event_id long, ts timestamp, user_id long",
    )
    got = {
        (r.click_id, r.purchase_id, r.user_id, r.gap_seconds)
        for r in interval_join(clicks, purchases, gap_minutes=30).collect()
    }
    assert got == {(1, 100, 10, 1800), (2, 102, 20, 300)}


def test_hdr_sketch_accumulates_across_microbatches(spark, tmp_path_factory):
    """hdr_sketch as STREAMING STATE: with maxFilesPerTrigger=1 the two
    source files arrive in separate micro-batches, and the complete-mode
    result must equal the batch sketch of all rows — bucket counts
    accumulate across batches rather than reflecting only the last one
    (the mergeability property, exercised by the engine's own streaming
    runtime)."""
    from dr_source_spark.training.sketch import hdr_quantile_bounds, hdr_sketch

    src = str(tmp_path_factory.mktemp("hdr_src"))
    ckpt = str(tmp_path_factory.mktemp("hdr_ckpt"))

    rows_a = [("g", (i * 37) % 1000 + 1) for i in range(80)]
    rows_b = [("g", (i * 41) % 5000 + 1) for i in range(70)]
    spark.createDataFrame(rows_a, "grp string, v long").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows_b, "grp string, v long").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema("grp string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        hdr_sketch(stream)
        .writeStream.format("memory").queryName("hdr_micro")
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None  # the stream really ran

    got = sorted(map(tuple, spark.table("hdr_micro").collect()))
    want_df = hdr_sketch(
        spark.createDataFrame(rows_a + rows_b, "grp string, v long")
    )
    assert got == sorted(map(tuple, want_df.collect()))
    # and the read-time quantiles agree too
    assert (sorted(map(tuple, hdr_quantile_bounds(spark.table("hdr_micro")).collect()))
            == sorted(map(tuple, hdr_quantile_bounds(want_df).collect())))


def test_cms_registers_accumulate_across_microbatches(spark, tmp_path_factory):
    """cms_registers as STREAMING STATE: two source files arrive in
    separate micro-batches (maxFilesPerTrigger=1); the complete-mode
    register table must equal the batch sketch of the concatenated
    corpus — counter ADDITION is the state update, so this exercises the
    CMS merge law through Spark's own state store."""
    from dr_source_spark.training.sketch import cms_registers

    src = str(tmp_path_factory.mktemp("cms_src"))
    ckpt = str(tmp_path_factory.mktemp("cms_ckpt"))

    rows_a = [(i, f"tok{i % 7} tok{i % 3} shared") for i in range(40)]
    rows_b = [(100 + i, f"tok{i % 5} shared other") for i in range(30)]
    spark.createDataFrame(rows_a, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows_b, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        cms_registers(stream, depth=4, width=64)
        .writeStream.format("memory").queryName("cms_micro")
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None

    got = sorted(map(tuple, spark.table("cms_micro").collect()))
    want = sorted(
        map(
            tuple,
            cms_registers(
                spark.createDataFrame(rows_a + rows_b, "doc_id long, text string"),
                depth=4,
                width=64,
            ).collect(),
        )
    )
    assert got == want


def test_fingerprint_accumulates_across_microbatches(spark, tmp_path_factory):
    """fingerprint_buckets as STREAMING STATE: with maxFilesPerTrigger=1
    the two source files arrive in separate micro-batches; the
    complete-mode bucket table must equal the batch fingerprint of all
    rows — checksum sums ADD across batches (the commutative-merge law,
    exercised by the engine's own state store)."""
    from dr_source_spark.operators.relational import fingerprint_buckets

    src = str(tmp_path_factory.mktemp("fpr_src"))
    ckpt = str(tmp_path_factory.mktemp("fpr_ckpt"))
    rows_a = [(i, f"v{i}") for i in range(0, 40)]
    rows_b = [(i, f"v{i}") for i in range(40, 100)]
    spark.createDataFrame(rows_a, "k long, v string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows_b, "k long, v string").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        fingerprint_buckets(stream, "k", ["k", "v"], n_buckets=8)
        .writeStream.format("memory").queryName("fpr_micro")
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None

    got = sorted(map(tuple, spark.table("fpr_micro").collect()))
    want = sorted(
        map(
            tuple,
            fingerprint_buckets(
                spark.createDataFrame(rows_a + rows_b, "k long, v string"),
                "k",
                ["k", "v"],
                n_buckets=8,
            ).collect(),
        )
    )
    assert got == want and len(got) == 8
