"""Structured Streaming queries drained under availableNow."""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.relational import fingerprint_buckets
from ..streaming.incremental import interval_join, sessionize, windowed_finding_counts
from ..streaming.stateful import repo_risk_ledger
from ..training.curate import quality_reason_expr
from ..training.sketch import cms_registers, hdr_quantile_bounds, hdr_sketch
from ..training.text import license_expr
from ._common import (
    _CMS_W,
    _HDR_HI_SQL,
    _HDR_LO_SQL,
    _MINHASH_P,
    _duck_hdr_bucket,
    _duck_minhash_base,
    _duck_minhash_seeds,
    _t,
)


class _AvailableNow:
    """One availableNow run of a streaming query: a fresh scratch directory
    ``base`` keyed by the tables and the query (sources go under
    ``{base}/src``, the checkpoint under ``{base}/ckpt``), and the drain of
    the query's output into a memory sink."""

    def __init__(self, spark: SparkSession, sf_dir: str, name: str) -> None:
        tag = hashlib.md5((sf_dir + name).encode()).hexdigest()[:8]
        self.spark = spark
        self.base = f"/tmp/drs_stream_{tag}"
        self.sink = f"{name}_{tag}"
        shutil.rmtree(self.base, ignore_errors=True)

    def drain(self, out: DataFrame, mode: str = "complete") -> DataFrame:
        """Run ``out`` until its sources are exhausted; return the sink."""
        query = (
            out.writeStream.format("memory").queryName(self.sink)
            .outputMode(mode).option("checkpointLocation", f"{self.base}/ckpt")
            .trigger(availableNow=True).start()
        )
        query.awaitTermination()
        return self.spark.table(self.sink)


def stream_cms_registers(spark, sf_dir):
    # the count-min sketch AS STREAMING STATE: cms_registers is explode +
    # groupBy-count, so the SAME operator runs unchanged as a Structured
    # Streaming aggregation (complete mode, availableNow) — counter
    # ADDITION is exactly what Spark's streaming state update does per
    # micro-batch, so the drained register table must equal the batch
    # sketch cell-for-cell (the mergeability law exercised by the
    # engine's own state store rather than cms_merge)
    run = _AvailableNow(spark, sf_dir, "cms")
    (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .write.mode("overwrite").parquet(f"{run.base}/src")
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(f"{run.base}/src")
    return run.drain(cms_registers(stream, depth=4, width=_CMS_W)).select(
        F.col("row").cast("int").alias("row"),
        F.col("pos").cast("int").alias("pos"),
        F.col("cnt").cast("long").alias("cnt"),
    )


STREAM_CMS_SQL = rf"""
WITH {_duck_minhash_seeds(4)},
toks AS (SELECT w AS word FROM (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents) WHERE w <> ''),
hashed AS (SELECT word, {_duck_minhash_base('word')} AS h FROM toks),
positions AS (SELECT s.seed AS row, ((s.a * t.h + s.b) % {_MINHASH_P}) % {_CMS_W} AS pos
              FROM hashed t CROSS JOIN seeds s)
SELECT CAST(row AS INT) AS row, CAST(pos AS INT) AS pos, count(*)::BIGINT AS cnt
FROM positions GROUP BY 1, 2
"""


def stream_hdr_quantiles(spark, sf_dir):
    # the HDR sketch AS STREAMING STATE: hdr_sketch is a plain
    # groupBy-count, so the SAME operator runs unchanged as a Structured
    # Streaming aggregation (complete mode, availableNow) — this is the
    # whole point of a mergeable sketch at 100 TB: quantile monitoring
    # whose state is bounded bucket counts, not the value stream. The
    # drained bucket table then yields percentile bounds at read time.
    run = _AvailableNow(spark, sf_dir, "hdr")
    (
        _t(spark, sf_dir, "documents")
        .select("lang", "text")
        .write.mode("overwrite").parquet(f"{run.base}/src")
    )
    stream = spark.readStream.schema("lang string, text string").parquet(f"{run.base}/src")
    vals = stream.select(
        F.col("lang").alias("grp"),
        F.octet_length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("v"),
    )
    return hdr_quantile_bounds(run.drain(hdr_sketch(vals))).withColumnRenamed(
        "n_values", "n_docs"
    )


# _TEXT_HDR_SQL minus the exact rank statistic: row_number over the value
# stream is exactly what a streaming job cannot do — only the sketch side
# is streamable, so only it is emitted (and checked) here
STREAM_HDR_SQL = rf"""
WITH vals AS (
  SELECT lang AS grp, CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS v
  FROM documents
),
sk AS (
  SELECT grp, {_duck_hdr_bucket('v')} AS bucket, count(*) AS cnt
  FROM vals GROUP BY 1, 2
),
cum AS (
  SELECT grp, bucket, cnt,
    sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
    sum(cnt) OVER (PARTITION BY grp) AS n
  FROM sk
),
qs AS (SELECT unnest([50, 90, 99]) AS q),
picked AS (
  SELECT grp, q, n AS n_docs, min(bucket) AS bucket
  FROM cum CROSS JOIN qs
  WHERE cum >= (q * n + 99) // 100
  GROUP BY grp, q, n
)
SELECT grp, CAST(q AS INT) AS q, CAST(n_docs AS BIGINT) AS n_docs,
  CAST({_HDR_LO_SQL} AS BIGINT) AS est_lo,
  CAST({_HDR_HI_SQL} AS BIGINT) AS est_hi
FROM picked
"""


def stream_windowed_counts(spark, sf_dir):
    # Structured Streaming driver query: the watermarked tumbling-window
    # rollup (streaming/incremental.windowed_finding_counts) run in its
    # batch-equivalent availableNow mode over a findings-shaped stream
    # derived from events, drained into a memory sink (complete output =
    # every window, deterministically). Oracle: plain window aggregation.
    run = _AvailableNow(spark, sf_dir, "wfc")
    (
        _t(spark, sf_dir, "events")
        .select(F.col("ts").alias("event_ts"), F.col("event_type").alias("severity"))
        .write.mode("overwrite").parquet(f"{run.base}/src")
    )
    stream = spark.readStream.schema("event_ts timestamp, severity string").parquet(f"{run.base}/src")
    counts = windowed_finding_counts(stream, window_dur="1 hour", watermark="1 hour")
    return run.drain(counts).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "severity",
        F.col("n").cast("long").alias("n"),
    )


STREAM_WINDOWED_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type AS severity,
       count(*) AS n
FROM events GROUP BY 1, 2, 3
"""


def stream_risk_ledger(spark, sf_dir):
    # Custom STATEFUL streaming operator (applyInPandasWithState) under the
    # value oracle: the per-repo risk ledger emits one row per power-of-two
    # threshold its cumulative severity-weighted score crosses. availableNow
    # over one coalesced file = one batch, so every emitted row carries the
    # final (score, count) and the expected set is closed-form in SQL.
    run = _AvailableNow(spark, sf_dir, "ledger")
    sev = F.element_at(
        F.array(F.lit("CRITICAL"), F.lit("HIGH"), F.lit("MEDIUM"), F.lit("LOW"), F.lit("INFO")),
        (F.pmod(F.col("event_id"), F.lit(5)) + 1).cast("int"),
    )
    (
        _t(spark, sf_dir, "events")
        .select(F.col("event_type").alias("repo"), sev.alias("severity"))
        .coalesce(1)  # one file -> one availableNow batch -> final-state rows
        .write.mode("overwrite").parquet(f"{run.base}/src")
    )
    stream = spark.readStream.schema("repo string, severity string").parquet(f"{run.base}/src")
    return run.drain(repo_risk_ledger(stream), "append").select(
        "repo",
        F.col("cum_score").alias("cum_score"),
        F.col("cum_findings").cast("long").alias("cum_findings"),
        F.col("threshold_crossed").alias("threshold_crossed"),
    )


STREAM_LEDGER_SQL = """
WITH f AS (
  SELECT event_type AS repo,
         CASE event_id % 5 WHEN 0 THEN 8.0 WHEN 1 THEN 4.0 WHEN 2 THEN 2.0
                           WHEN 3 THEN 1.0 ELSE 0.5 END AS w
  FROM events
), agg AS (
  SELECT repo, sum(w) AS s, count(*) AS n FROM f GROUP BY repo
), th AS (SELECT CAST(power(2, unnest(generate_series(0, 62))) AS DOUBLE) AS t)
SELECT a.repo, a.s::DOUBLE AS cum_score, CAST(a.n AS BIGINT) AS cum_findings,
       th.t AS threshold_crossed
FROM agg a JOIN th ON th.t <= a.s
"""


def stream_sessionize(spark, sf_dir):
    # Gap-based session_window sessionization (30-min gap) over the events
    # stream, availableNow + complete memory sink; oracle = SQL islands
    # (lag + cumulative break-sum). An event at EXACTLY gap after the
    # previous one still merges (verified empirically), so the break
    # condition is strictly diff > gap on both sides.
    run = _AvailableNow(spark, sf_dir, "sess")
    (
        _t(spark, sf_dir, "events")
        .select("ts", "user_id", "value")
        .write.mode("overwrite").parquet(f"{run.base}/src")
    )
    stream = spark.readStream.schema("ts timestamp, user_id long, value double").parquet(f"{run.base}/src")
    return run.drain(sessionize(stream)).select(
        "user_id",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("n_events").cast("long").alias("n_events"),
        "sum_value",
    )


STREAM_SESSION_SQL = """
WITH d AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM s GROUP BY user_id, sid
"""


def stream_dedup_keys(spark, sf_dir):
    # stateful cross-batch streaming dedup (dropDuplicates) under a value
    # oracle: the events table is split into two OVERLAPPING parquet files
    # (= two availableNow micro-batches); the stream must emit each
    # (user_id, event_type) key exactly once even when its duplicates span
    # batches. Emitting ONLY the key columns makes the result order-free:
    # whichever occurrence won, the row set equals SELECT DISTINCT.
    run = _AvailableNow(spark, sf_dir, "sdedup")
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    ev.filter(F.col("event_id") % 3 != 2).coalesce(1).write.parquet(f"{run.base}/src/part1")
    ev.filter(F.col("event_id") % 3 != 0).coalesce(1).write.parquet(f"{run.base}/src/part2")
    stream = (
        spark.readStream.schema("event_id long, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{run.base}/src/part*")
    )
    deduped = stream.dropDuplicates(["user_id", "event_type"]).select("user_id", "event_type")
    return run.drain(deduped, "append")


STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def stream_curation(spark, sf_dir):
    # streaming corpus curation: the documents table split into two
    # OVERLAPPING micro-batches; the stream must emit each distinct text
    # fingerprint exactly once (cross-batch dropDuplicates state) with its
    # quality verdict. Emitting (fingerprint, reason) — never doc_id —
    # makes the result order-free: whichever duplicate occurrence won the
    # state race, the row set equals the batch DISTINCT (reason is a pure
    # function of the text).
    run = _AvailableNow(spark, sf_dir, "scur")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # planted NULL-text row: the null-hardening (NULL fingerprints as the
    # empty string and verdicts as too_short) is itself oracle-gated
    null_row = spark.createDataFrame([(3_000_001, None)], "doc_id long, text string")
    docs.filter(F.col("doc_id") % 3 != 2).union(null_row).coalesce(1).write.parquet(
        f"{run.base}/src/part1"
    )
    docs.filter(F.col("doc_id") % 3 != 0).coalesce(1).write.parquet(f"{run.base}/src/part2")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{run.base}/src/part*")
    )
    # verdict logic is imported, not re-specified: batch and streaming
    # curation share the SAME when-chain (training/curate.py), so they
    # cannot drift
    norm = F.regexp_replace(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " ")
    reason = quality_reason_expr(F.col("text"))
    curated = (
        stream.withColumn("fingerprint", F.sha2(norm, 256))
        .dropDuplicates(["fingerprint"])
        .select("fingerprint", reason.alias("reason"))
    )
    return run.drain(curated, "append")


STREAM_CURATION_SQL = r"""
WITH corpus AS (
  SELECT text FROM documents
  UNION ALL SELECT CAST(NULL AS VARCHAR)
),
t AS (SELECT coalesce(text, '') AS text,
             list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                         x -> x <> '') AS tk
      FROM corpus)
SELECT DISTINCT sha256(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
       CASE WHEN length(tk) < 5 THEN 'too_short'
            WHEN round(length(list_filter(tk,
                       x -> lower(x) IN ('the','a','an','and','or','of','to','in','is','it')))
                 / greatest(length(tk), 1), 4) < 0.05
                 THEN 'low_stopword_ratio'
            ELSE 'kept' END AS reason
FROM t
"""


def stream_join_attrib(spark, sf_dir):
    # watermarked stream-stream interval join (click -> purchase within
    # 30 min per user) over the events table replayed as THREE time-ranged
    # micro-batches. The watermark ('40 days', wider than the 30-day
    # dataset span) makes the replay order-free — no row is ever late, so
    # the append-mode result equals the batch join cell-for-cell while
    # still exercising real cross-batch join state (a click in batch 0
    # matches purchases arriving in batch 1+). streaming/incremental.py::
    # interval_join documents the production watermark sizing.
    run = _AvailableNow(spark, sf_dir, "sjoin")
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    bounds = [lo + span, lo + 2 * span]
    parts = [
        ev.filter(F.col("ts") < F.lit(bounds[0])),
        ev.filter((F.col("ts") >= F.lit(bounds[0])) & (F.col("ts") < F.lit(bounds[1]))),
        ev.filter(F.col("ts") >= F.lit(bounds[1])),
    ]
    for i, part in enumerate(parts):
        part.coalesce(1).write.parquet(f"{run.base}/src/part{i}")
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{run.base}/src/part*")
    )
    joined = interval_join(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        gap_minutes=30,
        watermark="40 days",
    )
    return run.drain(joined, "append")


STREAM_JOIN_SQL = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id,
       CAST(date_diff('second', to_timestamp(CAST(floor(epoch(c.ts)) AS BIGINT)),
                      to_timestamp(CAST(floor(epoch(p.ts)) AS BIGINT))) AS BIGINT) AS gap_seconds
FROM events c
JOIN events p ON p.user_id = c.user_id
  AND c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


def stream_fingerprint(spark, sf_dir):
    # the anti-entropy fingerprint AS STREAMING STATE: checksum addition
    # is commutative, so fingerprint_buckets runs unchanged as a
    # Structured Streaming aggregation (complete mode, availableNow) and
    # the drained bucket table must equal the batch fingerprint
    # cell-for-cell — per-micro-batch state update IS the merge, the
    # same law the CMS/HDR streaming queries pin. The shape a live
    # replication pipeline runs: continuous checksums on the ingest
    # stream, compared daily against the replica's batch fingerprint.
    run = _AvailableNow(spark, sf_dir, "fpr")
    (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
        .write.mode("overwrite").parquet(f"{run.base}/src")
    )
    stream = spark.readStream.schema(
        "l_orderkey long, l_linenumber int, l_returnflag string, l_linestatus string"
    ).parquet(f"{run.base}/src")
    buckets = fingerprint_buckets(
        stream,
        "l_orderkey",
        ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"],
        n_buckets=64,
    )
    return run.drain(buckets).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("hash_sum").cast("long").alias("hash_sum"),
    )


def stream_late_drop(spark, sf_dir):
    # Structured Streaming WATERMARK LATE-DROP accounting, oracle-gated:
    # events are staged as four file-source batches in rough time order
    # (day-of-month octile, capped at 3) with planted stragglers
    # (user_id % 7 == 0 shifted TWO batches later); the append-mode
    # windowed rollup (streaming/incremental.windowed_finding_counts,
    # 1 h window / 1 h watermark, maxFilesPerTrigger=1) then drops
    # stragglers whose window expired — 631 rows at sf0.01 — and emits
    # only closed windows. The oracle replays Spark 4.1's measured
    # microbatch semantics, fitted empirically against the engine on two
    # fixtures (0 cell diffs on both, tools-session r5): the watermark
    # FILTERING batch k is max event time over batches <= k-2 minus the
    # delay (one batch MORE lag than the docs' high-level description —
    # commit timing), while final EMISSION uses the global max minus
    # delay (an extra no-data batch flushes); a row drops iff its
    # window END <= that lagged watermark.
    run = _AvailableNow(spark, sf_dir, "latedrop")
    os.makedirs(f"{run.base}/src")
    ev = _t(spark, sf_dir, "events")
    bq = F.least((F.dayofmonth("ts") - 1) / F.lit(8), F.lit(3)).cast("int")
    bexpr = (
        F.when(F.col("user_id") % 7 == 0, F.least(bq + 2, F.lit(3))).otherwise(bq)
    )
    tagged = ev.select(
        F.col("ts").alias("event_ts"),
        F.col("event_type").alias("severity"),
        bexpr.alias("b"),
    )
    for b in range(4):
        tmp = f"{run.base}/tmp_{b}"
        tagged.filter(F.col("b") == b).drop("b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.startswith("part-")][0]
        dst = f"{run.base}/src/batch_{b}.parquet"
        shutil.copyfile(f"{tmp}/{part}", dst)
        # forced increasing mtimes pin the file-source batch order
        os.utime(dst, (1_700_000_000 + b * 1000,) * 2)
    stream = (
        spark.readStream.schema("event_ts timestamp, severity string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{run.base}/src")
    )
    counts = windowed_finding_counts(stream, window_dur="1 hour", watermark="1 hour")
    return run.drain(counts, "append").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "severity",
        F.col("n").cast("long").alias("n"),
    )


STREAM_LATE_DROP_SQL = """
WITH allr AS (
  SELECT ts AS event_ts, event_type AS severity,
         CASE WHEN user_id % 7 = 0
              THEN least(least(CAST((day(ts) - 1) // 8 AS INT), 3) + 2, 3)
              ELSE least(CAST((day(ts) - 1) // 8 AS INT), 3) END AS b
  FROM events),
bm AS (SELECT b, max(event_ts) AS mx FROM allr GROUP BY 1),
r AS (SELECT event_ts, severity, b,
             time_bucket(INTERVAL '1 hour', event_ts) AS ws,
             time_bucket(INTERVAL '1 hour', event_ts) + INTERVAL '1 hour' AS we
      FROM allr),
wmd AS (SELECT b.b,
               (SELECT max(mx) FROM bm WHERE bm.b <= b.b - 2)
                 - INTERVAL '1 hour' AS w
        FROM bm b),
adm AS (SELECT r.* FROM r JOIN wmd ON wmd.b = r.b
        WHERE wmd.w IS NULL OR r.we > wmd.w),
wmf AS (SELECT max(mx) - INTERVAL '1 hour' AS wf FROM bm)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(we, '%Y-%m-%d %H:%M:%S') AS window_end,
       severity, CAST(count(*) AS BIGINT) AS n
FROM adm, wmf WHERE we <= wmf.wf GROUP BY 1, 2, 3
"""


def stream_license_screen(spark, sf_dir):
    # STREAMING license census: the documents table split into two
    # micro-batches (maxFilesPerTrigger=1); per-doc classification via
    # the SAME license_expr the batch census uses (shared-expression
    # discipline — the quality_reason_expr convention), aggregated
    # cross-batch in complete mode under availableNow. The oracle is
    # the batch census SQL verbatim: stream == batch is the law being
    # checked.
    run = _AvailableNow(spark, sf_dir, "slic")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(f"{run.base}/src/part1")
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(f"{run.base}/src/part2")
    stream = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{run.base}/src/part*")
    )
    agg = (
        stream.select(
            "lang",
            license_expr().alias("license"),
            F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("_n"),
        )
        .groupBy("lang", "license")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n").cast("long").alias("total_chars"),
        )
    )
    return run.drain(agg)
