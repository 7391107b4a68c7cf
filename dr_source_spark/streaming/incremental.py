"""Incremental extraction via Structured Streaming.

The reference's only incremental story is re-scan + SQLite set-diff
(SURVEY.md §2A A9). At scale the natural shape is a stream over corpus
snapshots: ``readStream`` on the source_files table (new parquet files =
new commits), ``foreachBatch`` running the same detector stage, appending
findings; the checkpoint directory gives exactly-once per input file and a
crash-resume story that composes with the lineage table.

``trigger(availableNow=True)`` drains everything currently available and
stops — the batch-job shape that still keeps streaming checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schema import SOURCE_FILES
from ..sources.corpus import ingest_source_files


def incremental_extract(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    ckb,
    dedup_across_batches: bool = False,
):
    """Stream new source_files parquet from ``source_dir`` → findings parquet,
    draining what is available and returning the finished query.

    Each micro-batch runs the fused detector stage without the inter-file
    index (callee resolution stays within a file). Re-running after new
    files land processes only the delta (streaming file-source ledger).

    dedup_across_batches: stateful streaming dropDuplicates on
    (repo, path, content) identity — a file re-shipped unchanged in a later
    snapshot is analyzed once; state lives in the checkpoint (the streaming
    analog of the lineage anti-join).
    """
    from pyspark.sql import functions as F

    from ..operators.analyze import run_detectors

    stream = spark.readStream.schema(SOURCE_FILES).parquet(source_dir)
    if dedup_across_batches:
        stream = stream.withColumn("_sha", F.sha2(F.col("content"), 256)).dropDuplicates(
            ["repo", "path", "_sha"]
        ).drop("_sha")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        files = ingest_source_files(batch_df)
        findings = run_detectors(files, ckb)
        findings.write.mode("append").parquet(f"{output_dir}/findings")

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def sessionize(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessionization with ``session_window`` — the streaming
    operator behind per-entity activity rollups (scan bursts per repo,
    user sessions per service). Events of one key merge into a session
    while each arrives within ``gap`` of the previous one; an event at
    EXACTLY ``gap`` after the previous still merges (boundary-inclusive —
    pinned by tests/test_lineage_streaming.py::test_sessionize_gap_boundary).

    State is per-open-session and bounded by the watermark: once the
    watermark passes a session's close, its state is dropped. Batch
    parity: the same expression works on a static DataFrame (Catalyst
    rewrites session_window into a sort-merge within partition), which is
    what the availableNow driver query checks against a SQL islands
    oracle (lag + cumulative break-sum)."""
    from pyspark.sql import functions as F

    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
        )
        .drop("session_window")
    )


def windowed_finding_counts(
    findings_stream: DataFrame,
    ts_col: str = "event_ts",
    window_dur: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window severity counts over a findings stream —
    the late-data-tolerant rollup for continuously-arriving scan results.

    ``withWatermark`` bounds state: a window's aggregate is finalized (and,
    in append mode, emitted exactly once) when the watermark passes its end;
    rows arriving later than ``watermark`` behind the max seen event time
    are dropped rather than growing state forever. At corpus scale this is
    what keeps a permanently-running ingestion query at O(active windows)
    state instead of O(all history)."""
    from pyspark.sql import functions as F

    return (
        findings_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_dur), F.col("severity"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "severity",
            "n",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event pairs with
    the right events of the SAME user whose timestamp falls in
    [left.ts, left.ts + gap_minutes] — the attribution join (click →
    purchase within the window) every event pipeline runs.

    Both sides carry an event-time watermark plus the time-range join
    condition, which is exactly what Spark needs to bound the join state:
    a left row can be dropped from state once the right watermark passes
    left.ts + gap, so state size tracks the window, not the stream
    (structured-streaming stream-stream join semantics). The caller picks
    ``watermark`` ≥ the real out-of-orderness; a test harness replaying
    finite history can pass a watermark wider than the dataset span to
    make the result order-independent (nothing is ever late) without
    changing the plan shape.

    Returns (click_id, purchase_id, user_id, gap_seconds), inner-join.
    """
    from pyspark.sql import functions as F

    c = left.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    p = right.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {gap_minutes} MINUTES"))
    )
    return c.join(p, cond, "inner").select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).cast("long").alias("gap_seconds"),
    )
