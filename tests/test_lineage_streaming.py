"""Resume-from-checkpoint (lineage) and incremental streaming extraction."""

import os

import pytest
from pyspark.sql import functions as F

from dr_source_spark.kb import compile_kb, load_kb
from dr_source_spark.operators.lineage import completed_splits, extract_with_lineage, read_findings
from dr_source_spark.sources.corpus import ingest_source_files
from dr_source_spark.sources.synth import synth_code_corpus

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def ckb():
    return compile_kb(load_kb(project_dir="/nonexistent"))


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return ingest_source_files(synth_code_corpus(docs)).cache()


def test_interrupted_run_resumes_without_duplicates(spark, ckb, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lineage_out"))
    # phase 1: "interrupted" after 2 of 4 batches
    run1 = extract_with_lineage(spark, corpus, ckb, out, "runA", num_splits=8, num_batches=4, max_batches=2)
    assert run1.batches_run == 2
    done_mid = completed_splits(spark, f"{out}/lineage", "runA")
    assert 0 < len(done_mid) < 8

    # phase 2: resume — only remaining splits processed
    run2 = extract_with_lineage(spark, corpus, ckb, out, "runA", num_splits=8, num_batches=4)
    assert run2.splits_done == 8

    # coverage: findings equal a single-shot clean run, no duplicates
    got = read_findings(spark, out, "runA")
    clean_out = str(tmp_path_factory.mktemp("lineage_clean"))
    extract_with_lineage(spark, corpus, ckb, clean_out, "runB", num_splits=8, num_batches=1)
    want = read_findings(spark, clean_out, "runB")
    key = ["path", "line", "vuln_type", "message"]
    assert got.count() == want.count()
    assert got.select(key).exceptAll(want.select(key)).count() == 0


def test_rerun_completed_run_is_noop(spark, ckb, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lineage_noop"))
    extract_with_lineage(spark, corpus, ckb, out, "runC", num_splits=4, num_batches=2)
    again = extract_with_lineage(spark, corpus, ckb, out, "runC", num_splits=4, num_batches=2)
    assert again.batches_run == 0  # nothing pending


def test_lineage_counts_match_findings(spark, ckb, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lineage_counts"))
    extract_with_lineage(spark, corpus, ckb, out, "runD", num_splits=4, num_batches=1)
    lin = spark.read.parquet(f"{out}/lineage").filter(F.col("run_id") == "runD")
    assert lin.agg(F.sum("files")).first()[0] == corpus.count()
    assert lin.agg(F.sum("findings")).first()[0] == read_findings(spark, out, "runD").count()


def test_streaming_incremental_picks_up_new_files(spark, ckb, tmp_path_factory):
    from dr_source_spark.streaming.incremental import incremental_extract

    src = str(tmp_path_factory.mktemp("stream_src"))
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    first = synth_code_corpus(docs.filter("doc_id < 30"))
    first.write.mode("append").parquet(src)
    incremental_extract(spark, src, out, ckpt, ckb)
    n1 = spark.read.parquet(f"{out}/findings").count()
    assert n1 > 0

    # new snapshot lands → only the delta is processed
    second = synth_code_corpus(docs.filter("doc_id >= 30 and doc_id < 60"), commit="bench2")
    second.write.mode("append").parquet(src)
    incremental_extract(spark, src, out, ckpt, ckb)
    findings = spark.read.parquet(f"{out}/findings")
    n2 = findings.count()
    assert n2 > n1
    # no duplicates: every (commit, path, line, vuln, message) unique
    assert findings.dropDuplicates(["commit", "path", "line", "vuln_type", "message"]).count() == n2


def test_streaming_stateful_dedup_across_batches(spark, ckb, tmp_path_factory):
    from dr_source_spark.streaming.incremental import incremental_extract

    src = str(tmp_path_factory.mktemp("sdedup_src"))
    out = str(tmp_path_factory.mktemp("sdedup_out"))
    ckpt = str(tmp_path_factory.mktemp("sdedup_ckpt"))

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter("doc_id < 30")
    corpus = synth_code_corpus(docs)
    corpus.write.mode("append").parquet(src)
    incremental_extract(spark, src, out, ckpt, ckb, dedup_across_batches=True)
    n1 = spark.read.parquet(f"{out}/findings").count()
    assert n1 > 0

    # the SAME files land again in a later snapshot → stateful dropDuplicates
    # suppresses re-analysis entirely
    corpus.write.mode("append").parquet(src)
    incremental_extract(spark, src, out, ckpt, ckb, dedup_across_batches=True)
    assert spark.read.parquet(f"{out}/findings").count() == n1


def _parquet_files(path: str) -> set:
    return {f for f in os.listdir(path) if f.endswith(".parquet")} if os.path.isdir(path) else set()


def _rows(df) -> list:
    return sorted(r[0] for r in df.select(F.to_json(F.struct("*"))).collect())


def test_streaming_commits_match_batch_detector(spark, ckb, tmp_path_factory):
    """A base snapshot and two 10-file commits drained one at a time: each
    commit runs as the one task it arrives in (one new findings file), and
    the appended findings equal run_detectors over the same files as an
    exact multiset."""
    from dr_source_spark.operators.analyze import run_detectors
    from dr_source_spark.streaming.incremental import incremental_extract

    src = str(tmp_path_factory.mktemp("commits_src"))
    out = str(tmp_path_factory.mktemp("commits_out"))
    ckpt = str(tmp_path_factory.mktemp("commits_ckpt"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def land_and_drain(lo: int, hi: int, commit: str) -> set:
        """Land documents [lo, hi) as one parquet file, drain the stream,
        and return the findings files that drain wrote."""
        before = _parquet_files(f"{out}/findings")
        batch = synth_code_corpus(docs.filter(f"doc_id >= {lo} and doc_id < {hi}"), commit=commit)
        batch.coalesce(1).write.mode("append").parquet(src)
        incremental_extract(spark, src, out, ckpt, ckb)
        return _parquet_files(f"{out}/findings") - before

    land_and_drain(0, 60, "base")
    for lo, commit in ((60, "c1"), (70, "c2")):
        assert len(land_and_drain(lo, lo + 10, commit)) == 1

    got = _rows(spark.read.parquet(f"{out}/findings"))
    want = _rows(run_detectors(ingest_source_files(spark.read.parquet(src)), ckb))
    assert len(got) > 0
    assert got == want


def test_sessionize_gap_boundary(spark, tmp_path_factory):
    """Events within the gap merge — including an event at EXACTLY the gap
    boundary (Spark merges it; the oracle's strictly-greater break
    condition encodes the same rule). 30m01s after that is a new session."""
    import datetime as dt

    from dr_source_spark.streaming.incremental import sessionize

    base = str(tmp_path_factory.mktemp("sess"))
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (t0, 1, 1.0),
        (t0 + dt.timedelta(minutes=29), 1, 2.0),   # merges (29 < 30)
        (t0 + dt.timedelta(minutes=59), 1, 4.0),   # exactly 30 after prev: merges
        (t0 + dt.timedelta(minutes=89, seconds=1), 1, 16.0),  # 30m01s: NEW session
        (t0, 2, 8.0),
    ]
    spark.createDataFrame(rows, "ts timestamp, user_id long, value double").write.parquet(f"{base}/src")
    stream = spark.readStream.schema("ts timestamp, user_id long, value double").parquet(f"{base}/src")
    q = (
        sessionize(stream)
        .writeStream.format("memory").queryName("sess_gap_test")
        .outputMode("complete").option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.n_events, r.sum_value)
        for r in spark.table("sess_gap_test").collect()
    }
    assert got == {(1, 3, 7.0), (1, 1, 16.0), (2, 1, 8.0)}


# ---------------------------------------------------------------------------
# Resumable curation (training/curate_job.py)
# ---------------------------------------------------------------------------


def _cur_docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_curation_stage1_interrupt_resume_and_parity(spark, tmp_path_factory):
    """Interrupted stage-1 run resumes without re-processing; the staged
    two-phase keep list equals the one-shot final_keep_list operator
    row-for-row (same thresholds) — the checkpointed-artifact pipeline is
    the SAME verdict, just resumable."""
    from dr_source_spark.training.curate import final_keep_list
    from dr_source_spark.training.curate_job import (
        curate_finalize,
        curate_stage1_with_lineage,
    )

    docs = _cur_docs(spark)
    out = str(tmp_path_factory.mktemp("curate_out"))

    run1 = curate_stage1_with_lineage(
        spark, docs, out, "curA", num_splits=8, num_batches=4, max_batches=2
    )
    assert run1.batches_run == 2
    assert 0 < len(completed_splits(spark, f"{out}/lineage", "curA")) < 8

    run2 = curate_stage1_with_lineage(
        spark, docs, out, "curA", num_splits=8, num_batches=4
    )
    assert run2.splits_done == 8

    staged = curate_finalize(spark, docs, out, "curA")
    want = final_keep_list(docs)
    assert staged.count() == docs.count()
    assert staged.exceptAll(want).count() == 0
    assert want.exceptAll(staged).count() == 0


def test_curation_stage1_rerun_completed_is_noop(spark, tmp_path_factory):
    from dr_source_spark.training.curate_job import curate_stage1_with_lineage

    docs = _cur_docs(spark).filter(F.col("doc_id") < 30)
    out = str(tmp_path_factory.mktemp("curate_noop"))
    curate_stage1_with_lineage(spark, docs, out, "curB", num_splits=4, num_batches=2)
    again = curate_stage1_with_lineage(
        spark, docs, out, "curB", num_splits=4, num_batches=2
    )
    assert again.batches_run == 0


def test_curation_lineage_counts_cover_corpus(spark, tmp_path_factory):
    from dr_source_spark.training.curate_job import curate_stage1_with_lineage

    docs = _cur_docs(spark).filter(F.col("doc_id") < 50)
    out = str(tmp_path_factory.mktemp("curate_counts"))
    curate_stage1_with_lineage(spark, docs, out, "curC", num_splits=4, num_batches=1)
    lin = spark.read.parquet(f"{out}/lineage").filter(F.col("run_id") == "curC")
    assert lin.agg(F.sum("docs")).first()[0] == docs.count()
    stats = spark.read.parquet(f"{out}/doc_stats").filter(F.col("run_id") == "curC")
    assert stats.count() == docs.count()


def test_curation_finalize_refuses_incomplete_stage1(spark, tmp_path_factory):
    """finalize on an interrupted stage 1 must raise, not silently drop
    the unprocessed splits' documents from the keep list (the audit
    invariant: every input doc gets a verdict row)."""
    import pytest

    from dr_source_spark.training.curate_job import (
        curate_finalize,
        curate_stage1_with_lineage,
    )

    docs = _cur_docs(spark)
    out = str(tmp_path_factory.mktemp("curate_partial"))
    run = curate_stage1_with_lineage(
        spark, docs, out, "curD", num_splits=8, num_batches=4, max_batches=2
    )
    assert 0 < run.splits_done < 8
    with pytest.raises(ValueError, match="stage 1 incomplete"):
        curate_finalize(spark, docs, out, "curD")
