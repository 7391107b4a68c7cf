"""extract() runs the detector once per call: findings, tier_errors,
triples, nodes and edges all read one cached detector frame, and
ExtractionResult.cleanup() releases it."""

import os
import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

from perfbench.trace import SparkMetrics


def _files_analyzed(spark, consume) -> int:
    """Rows entering the detector's MapInArrow, summed over every SQL
    execution ``consume()`` submits, read from the SQL status store with
    perfbench/trace.py's plan reader. A plan that reads the cached detector
    output still shows the MapInArrow node, but with no rows entering it.
    Stages are not read: once a session passes spark.ui.retainedStages, the
    app status store drops skipped stages first."""
    metrics = SparkMetrics(spark)
    t0_ms = time.time() * 1000
    consume()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    rows, it = 0, metrics.sql.executionsList().reverseIterator()
    while it.hasNext():
        e = it.next()
        if e.submissionTime() < t0_ms:
            break
        rows += sum(op.get("rows_in") or 0 for op in metrics._plan_ops(e.executionId()) if op["name"] == "MapInArrow")
    return int(rows)


def test_one_detector_pass_per_extract(spark, realcode_corpus, tmp_path):
    from dr_source_spark.pipeline import extract
    from dr_source_spark.sources.corpus import ingest_source_files

    res = extract(spark, realcode_corpus, run_id="once")

    def consume():
        for name in ("triples", "nodes", "edges"):
            getattr(res, name).write.parquet(os.path.join(tmp_path, name))
        res.tier_errors.count()
        res.findings.count()

    try:
        analyzed = _files_analyzed(spark, consume)
    finally:
        res.cleanup()
    files = ingest_source_files(realcode_corpus)
    assert analyzed == files.count() > 0


def _rows(df):
    return sorted(r[0] for r in df.select(F.to_json(F.struct("*"))).collect())


def test_cleanup_releases_detector_cache(spark, realcode_corpus):
    """cleanup() unpersists the detector frame, and a second extract() over
    the same input in the same session gives the same outputs."""
    from dr_source_spark.pipeline import extract

    outputs = ("findings", "triples", "nodes", "edges")
    first = extract(spark, realcode_corpus, run_id="again")
    assert first._detected.storageLevel != StorageLevel.NONE
    want = [_rows(getattr(first, name)) for name in outputs]
    first.cleanup()
    assert first._detected.storageLevel == StorageLevel.NONE

    second = extract(spark, realcode_corpus, run_id="again")
    try:
        assert [_rows(getattr(second, name)) for name in outputs] == want
    finally:
        second.cleanup()
    assert want[0] and want[1]
