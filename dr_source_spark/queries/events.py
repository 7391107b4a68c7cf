"""Relational queries over the events table."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.decay import decayed_sum
from ..operators.layout import (
    equidepth_histogram,
    hilbert_manifest,
    range_partition_advice,
    zorder_manifest,
)
from ..operators.rangejoin import interval_bucket_join
from ..operators.relational import (
    audience_overlap,
    cadence_regularity,
    funnel_latency,
    funnel_progress,
    gap_fill_hourly,
    hypertable_rollup,
    interval_union_time,
    markov_stationary,
    markov_transitions,
    peak_concurrency,
    retention_cohorts,
    scd2_history,
    session_stats,
    sliding_distinct_actives,
    trigram_paths,
    u_shape_attribution,
    zscore_outlier_counts,
)
from ..operators.stats import (
    acf_by_group,
    best_run_by_group,
    bowley_skew_by_group,
    cusum_changepoint,
    daily_cycle,
    dow_hour_census,
    drift_chi2,
    json_field_profile,
    key_skew_census,
    life_table,
    mad_profile,
    mann_kendall_by_group,
    max_drawdown_by_group,
    rolling_band_outliers,
    runs_test_by_group,
    seasonal_residual_anomalies,
    theil_sen_by_group,
    trimmed_mean_by_group,
    type_burstiness,
    user_diversity,
    weekly_actives,
)
from ._common import _DEC, _duck_isqrt, _t


def events_topk_per_type(spark, sf_dir):
    # deterministic top-k PER GROUP (k=3): the most common production
    # window query, distinct from a10_latest_per_group's rank-1 shape.
    # row_number over (value desc, event_id asc) — the tie-break is the
    # unique key, so both engines select identical boundary rows even
    # when values collide. Plan: one exchange on event_type, then the
    # window + filter run in-partition; at 100 TB a groupBy-collect_list
    # alternative would materialize whole groups, the window streams
    # them sorted.
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "event_type",
            F.col("rank").cast("long").alias("rank"),
            "event_id",
            F.round(F.col("value").cast("double"), 4).alias("value"),
        )
    )


EVENTS_TOPK_SQL = """
SELECT event_type, CAST(rank AS BIGINT) AS rank, event_id,
       round(CAST(value AS DOUBLE), 4) AS value
FROM (SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id ASC) AS rank
      FROM events)
WHERE rank <= 3
"""


def events_cep_sequence(spark, sf_dir):
    # MATCH_RECOGNIZE-style complex-event-processing: STRICTLY CONSECUTIVE
    # view -> click -> purchase per user (ordered by ts with the unique
    # event_id as tie-break — no two lag chains can disagree across
    # engines). This differs from events_funnel, which only needs the
    # steps to occur in order SOMEWHERE in the history; a CEP pattern
    # requires adjacency, which is lag(event_type, 1..2) over the user
    # timeline. Both the window and the rollup cluster on user_id, so the
    # whole query plans ONE exchange — at 100 TB the events table
    # shuffles exactly once, like events_session_stats.
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.lag("event_type", 1).over(w).alias("p1"),
            F.lag("event_type", 2).over(w).alias("p2"),
        )
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("p1") == "click")
            & (F.col("p2") == "view")
        )
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_sequences"))
    )


EVENTS_CEP_SQL = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_sequences
FROM (SELECT user_id, event_type,
             lag(event_type, 1) OVER w AS p1,
             lag(event_type, 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
WHERE event_type = 'purchase' AND p1 = 'click' AND p2 = 'view'
GROUP BY user_id
"""


# --- data-layout planning (operators/layout.py) --------------------------

_Z_BITS, _Z_SPAN = 8, 256


def events_zorder_manifest(spark, sf_dir):
    # OPTIMIZE ZORDER dry-run: Morton-interleave (user bucket, hour
    # bucket), chop the Z-space into target files, emit the manifest with
    # the per-file min/max pruning stats a lakehouse format would keep.
    return zorder_manifest(_t(spark, sf_dir, "events"), dim_bits=_Z_BITS, file_span=_Z_SPAN)


_Z_ILEAVE = " + ".join(
    f"((u // {1 << i}) % 2) * {1 << (2 * i + 1)} + ((t // {1 << i}) % 2) * {1 << (2 * i)}"
    for i in range(_Z_BITS)
)


EVENTS_ZORDER_SQL = f"""
WITH b AS (
  -- pmod, not sign-preserving %: negative ids / pre-1970 timestamps must
  -- land in [0, 2^bits) before the bit interleave (matches F.pmod)
  SELECT user_id,
         ((user_id % {1 << _Z_BITS}) + {1 << _Z_BITS}) % {1 << _Z_BITS} AS u,
         ((CAST(floor(epoch(ts) / 3600) AS BIGINT) % {1 << _Z_BITS})
            + {1 << _Z_BITS}) % {1 << _Z_BITS} AS t
  FROM events),
z AS (SELECT user_id, u, t, ({_Z_ILEAVE})::BIGINT AS z FROM b)
SELECT z // {_Z_SPAN} AS file_id, count(*)::BIGINT AS n_events,
  min(z) AS z_lo, max(z) AS z_hi, count(DISTINCT user_id)::BIGINT AS n_users,
  min(u)::BIGINT AS u_lo, max(u)::BIGINT AS u_hi,
  min(t)::BIGINT AS t_lo, max(t)::BIGINT AS t_hi
FROM z GROUP BY file_id
"""


_H_BITS, _H_SPAN = 6, 64


def events_hilbert_manifest(spark, sf_dir):
    # the seam-free sibling of the Z-order dry-run: Hilbert-walk the
    # (user bucket, hour bucket) grid, chop the key space into target
    # files, emit the manifest with per-file min/max pruning stats.
    # Consecutive Hilbert cells are always grid-adjacent, so no file ever
    # straddles a quadrant seam (the Z-curve's teleport points).
    return hilbert_manifest(_t(spark, sf_dir, "events"), dim_bits=_H_BITS, file_span=_H_SPAN)


def _hilbert_level_ctes(bits: int) -> str:
    # one CTE per curve level — the same chained-projection shape the
    # Spark side uses (layout.with_hilbert_index), transliterated: within
    # a SELECT, x/y/d references read the PREVIOUS level's columns
    n = 1 << bits
    ctes = []
    for idx, i in enumerate(range(bits - 1, -1, -1)):
        s = 1 << i
        prev = "hb" if idx == 0 else f"h{idx - 1}"
        ctes.append(
            f"h{idx} AS (SELECT user_id, u, t,\n"
            f"  d + {s * s} * (CASE WHEN (x // {s}) % 2 = 0 THEN (y // {s}) % 2"
            f" ELSE 3 - (y // {s}) % 2 END) AS d,\n"
            f"  CASE WHEN (y // {s}) % 2 = 1 THEN x"
            f" WHEN (x // {s}) % 2 = 1 THEN {n - 1} - y ELSE y END AS x,\n"
            f"  CASE WHEN (y // {s}) % 2 = 1 THEN y"
            f" WHEN (x // {s}) % 2 = 1 THEN {n - 1} - x ELSE x END AS y\n"
            f"  FROM {prev})"
        )
    return ",\n".join(ctes)


EVENTS_HILBERT_SQL = f"""
WITH hb AS (
  -- pmod bucketing, as in the Z-order oracle; x/y walk the recurrence,
  -- u/t keep the original buckets for the manifest stats
  SELECT user_id,
         ((user_id % {1 << _H_BITS}) + {1 << _H_BITS}) % {1 << _H_BITS} AS u,
         ((CAST(floor(epoch(ts) / 3600) AS BIGINT) % {1 << _H_BITS})
            + {1 << _H_BITS}) % {1 << _H_BITS} AS t,
         ((user_id % {1 << _H_BITS}) + {1 << _H_BITS}) % {1 << _H_BITS} AS x,
         ((CAST(floor(epoch(ts) / 3600) AS BIGINT) % {1 << _H_BITS})
            + {1 << _H_BITS}) % {1 << _H_BITS} AS y,
         0::BIGINT AS d
  FROM events),
{_hilbert_level_ctes(_H_BITS)},
z AS (SELECT user_id, u, t,
  -- single-sided NULL would leak a garbage digit through the CASE
  -- else-branches — mask exactly as the Spark side does
  CASE WHEN u IS NULL OR t IS NULL THEN NULL ELSE d END::BIGINT AS h
  FROM h{_H_BITS - 1})
SELECT (h // {_H_SPAN})::BIGINT AS file_id, count(*)::BIGINT AS n_events,
  min(h) AS h_lo, max(h) AS h_hi, count(DISTINCT user_id)::BIGINT AS n_users,
  min(u)::BIGINT AS u_lo, max(u)::BIGINT AS u_hi,
  min(t)::BIGINT AS t_lo, max(t)::BIGINT AS t_hi
FROM z GROUP BY file_id
"""


_HIST_B = 16


def events_value_histogram(spark, sf_dir):
    # optimizer-style equi-depth column stats, tie-coalesced, built
    # WITHOUT a global sort: distinct-value counts -> two-level global
    # prefix-sum rank (operators/prefix.py) -> bucket = rank*B div N.
    return equidepth_histogram(_t(spark, sf_dir, "events"), buckets=_HIST_B)


EVENTS_HIST_SQL = f"""
WITH g AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS vk, count(*)::BIGINT AS cnt,
         min(value) AS lo, max(value) AS hi
  FROM events WHERE value IS NOT NULL GROUP BY vk),
t AS (SELECT sum(cnt)::BIGINT AS n FROM g),
p AS (SELECT vk, cnt, lo, hi,
  coalesce(sum(cnt) OVER (ORDER BY vk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
  FROM g)
SELECT ((pre * {_HIST_B}) // n)::BIGINT AS bucket, sum(cnt)::BIGINT AS n_rows,
  count(*)::BIGINT AS n_values, min(lo) AS v_lo, max(hi) AS v_hi
FROM p CROSS JOIN t GROUP BY bucket
"""


_ADVICE_PARTS = 8


def events_partition_advice(spark, sf_dir):
    # the histogram wired into a repartitioning advisor: exact range
    # boundaries + per-partition load (skew_pct, 100 = balanced) + the
    # salt verdict on each partition's heaviest indivisible value —
    # what repartitionByRange's sampler guesses, computed exactly with
    # the same no-global-sort prefix-sum shape.
    return range_partition_advice(_t(spark, sf_dir, "events"), parts=_ADVICE_PARTS)


EVENTS_ADVICE_SQL = f"""
WITH g AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS vk, count(*)::BIGINT AS cnt,
         min(value) AS lo, max(value) AS hi
  FROM events WHERE value IS NOT NULL GROUP BY vk),
t AS (SELECT sum(cnt)::BIGINT AS n FROM g),
p AS (SELECT vk, cnt, lo, hi,
  coalesce(sum(cnt) OVER (ORDER BY vk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
  FROM g),
a AS (SELECT ((pre * {_ADVICE_PARTS}) // n)::BIGINT AS partition, cnt, lo, hi, n
      FROM p CROSS JOIN t)
SELECT partition, sum(cnt)::BIGINT AS n_rows, count(*)::BIGINT AS n_values,
  min(lo) AS v_lo, max(hi) AS v_hi,
  ((sum(cnt) * 100 * {_ADVICE_PARTS}) // max(n))::BIGINT AS skew_pct,
  max(cnt)::BIGINT AS max_value_rows,
  ((max(cnt) * {_ADVICE_PARTS} + max(n) - 1) // max(n))::BIGINT AS salt_factor
FROM a GROUP BY partition
"""


def events_stickiness(spark, sf_dir):
    # weekly engagement stickiness: WAU, average DAU, and the DAU/WAU
    # ratio per ISO week — decomposable aggregates only (a trailing
    # 7-day distinct is not decomposable; calendar weeks are)
    ev = _t(spark, sf_dir, "events")
    daily = ev.select(
        F.date_trunc("week", F.col("ts")).alias("wk"),
        F.to_date("ts").alias("day"),
        "user_id",
    ).distinct()
    dau = daily.groupBy("wk", "day").agg(F.count("*").alias("dau"))
    avg_dau = dau.groupBy("wk").agg(F.round(F.avg("dau"), 4).alias("avg_dau"))
    wau = daily.select("wk", "user_id").distinct().groupBy("wk").agg(
        F.count("*").cast("long").alias("wau")
    )
    return (
        wau.join(avg_dau, "wk")
        .select(
            F.date_format("wk", "yyyy-MM-dd").alias("week"),
            "wau",
            "avg_dau",
            F.round(F.col("avg_dau") / F.col("wau"), 4).alias("stickiness"),
        )
    )


EVENTS_STICKINESS_SQL = """
WITH daily AS (
  SELECT DISTINCT date_trunc('week', ts) AS wk, CAST(ts AS DATE) AS day, user_id
  FROM events
),
dau AS (SELECT wk, day, count(*) AS dau FROM daily GROUP BY wk, day),
a AS (SELECT wk, round(avg(dau), 4) AS avg_dau FROM dau GROUP BY wk),
w AS (SELECT wk, CAST(count(DISTINCT user_id) AS BIGINT) AS wau FROM daily GROUP BY wk)
SELECT strftime(w.wk, '%Y-%m-%d') AS week, w.wau, a.avg_dau,
       round(a.avg_dau / w.wau, 4) AS stickiness
FROM w JOIN a ON a.wk = w.wk
"""


def events_session_stats(spark, sf_dir):
    # BATCH sessionization (operators/relational.session_stats): identical
    # 30-min strictly-greater gap rule as stream_sessionize, rolled up to
    # per-user session statistics — islands via lag + running break-sum,
    # one exchange for the whole query (plan-gated). A planted NULL-ts
    # row proves the operator's NULL-drop is oracle-gated (Spark and
    # DuckDB order NULLs on opposite ends, so an ordered NULL would
    # diverge)
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    planted = ev.limit(1).select("user_id", F.lit(None).cast("timestamp").alias("ts"))
    return session_stats(ev.unionByName(planted))


EVENTS_SESSION_STATS_SQL = """
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
), per AS (
  SELECT user_id, sid, count(*) AS n_ev,
         (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS dur
  FROM s GROUP BY user_id, sid
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n_ev) AS BIGINT) AS n_events,
       CAST(max(n_ev) AS BIGINT) AS max_session_events,
       CAST(max(dur) AS BIGINT) AS longest_session_secs
FROM per GROUP BY user_id
"""


def events_zscore_outliers(spark, sf_dir):
    # per-user anomaly screen (operators/relational.zscore_outlier_counts):
    # |value - user mean| > 3 sigma flags, decided in exact integer
    # arithmetic (squared z-test on 1e4-fixed-point values) so the flag
    # cannot straddle a float rounding boundary between engines. A
    # planted NULL-value row proves the operator's NULL-drop is
    # oracle-gated (count(*) would otherwise include a row the sums skip)
    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    planted = ev.limit(1).select("user_id", F.lit(None).cast("double").alias("value"))
    return zscore_outlier_counts(ev.unionByName(planted))


EVENTS_ZSCORE_SQL = """
WITH b AS (
  SELECT user_id, CAST(floor(value * 10000) AS BIGINT) AS v FROM events
  WHERE value IS NOT NULL
), s AS (
  SELECT user_id, v,
         count(*) OVER w AS n, sum(v) OVER w AS s1, sum(v * v) OVER w AS s2
  FROM b WINDOW w AS (PARTITION BY user_id)
)
SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN (n*v - s1) * (n*v - s1) > 9 * (n*s2 - s1*s1)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM s GROUP BY user_id
"""


def events_retention(spark, sf_dir):
    # weekly retention cohorts: first-event week x active-week offsets
    # (operators/relational.py::retention_cohorts)
    return retention_cohorts(_t(spark, sf_dir, "events"))


EVENTS_RETENTION_SQL = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', f.cohort, a.wk) // 7 AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM active a JOIN firsts f ON f.user_id = a.user_id
GROUP BY 1, 2
"""


def events_trailing(spark, sf_dir):
    # per-user daily activity with a trailing-7-day RANGE window (value
    # frame, not row frame — gaps in the day series matter): the rolling
    # engagement report. Decimal-exact sums so both engines agree bitwise.
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("_v"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("day").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    return daily.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.sum("n_events").over(w).cast("long").alias("n_7d"),
        F.round(F.sum("_v").over(w).cast("double"), 4).alias("value_7d"),
    )


EVENTS_TRAILING_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         sum(CAST(value AS DECIMAL(18,4))) AS v
  FROM events GROUP BY 1, 2
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events,
       CAST(sum(n_events) OVER w AS BIGINT) AS n_7d,
       round(CAST(sum(v) OVER w AS DOUBLE), 4) AS value_7d
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
"""


def events_band_join(spark, sf_dir):
    # range join (operators/rangejoin.py): events joined to overlapping
    # value bands [i*25, i*25+30] via bucketization — the equi-join
    # rewrite of the BNLJ-shaped interval join; bands overlap so points
    # can match two bands
    ev = _t(spark, sf_dir, "events").select("event_id", "value").filter(
        F.col("value").isNotNull()
    )
    bands = spark.range(40).select(
        F.col("id").cast("long").alias("band_id"),
        (F.col("id") * 25.0).alias("lo"),
        (F.col("id") * 25.0 + 30.0).alias("hi"),
    )
    return interval_bucket_join(ev, bands, value_col="value").select(
        "event_id", "band_id", "lo", "hi"
    )


EVENTS_BAND_SQL = """
WITH bands AS (
  SELECT CAST(i AS BIGINT) AS band_id, i * 25.0 AS lo, i * 25.0 + 30.0 AS hi
  FROM generate_series(0, 39) t(i)
)
SELECT e.event_id, b.band_id, b.lo::DOUBLE AS lo, b.hi::DOUBLE AS hi
FROM events e JOIN bands b ON e.value >= b.lo AND e.value <= b.hi
WHERE e.value IS NOT NULL
"""


def events_hypertable(spark, sf_dir):
    # hypertable continuous-aggregate rollup: hour + day granularities,
    # day re-aggregated from hour partials
    # (operators/relational.py::hypertable_rollup)
    return hypertable_rollup(_t(spark, sf_dir, "events"))


EVENTS_HYPERTABLE_SQL = """
WITH hour AS (
  SELECT date_trunc('hour', ts) AS b, event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         sum(CAST(value AS DECIMAL(18,4))) AS v
  FROM events GROUP BY 1, 2
),
day AS (
  SELECT date_trunc('day', b) AS b, event_type,
         CAST(sum(n_events) AS BIGINT) AS n_events, sum(v) AS v
  FROM hour GROUP BY 1, 2
)
SELECT 'hour' AS granularity, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
       event_type, n_events, round(CAST(v AS DOUBLE), 4) AS sum_value FROM hour
UNION ALL
SELECT 'day', strftime(b, '%Y-%m-%d %H:%M:%S'), event_type, n_events,
       round(CAST(v AS DOUBLE), 4) FROM day
"""


def events_asof_enrich(spark, sf_dir):
    # as-of join (operators/asof.py): each click enriched with the
    # latest prior signup's value for the same user — merge-carry shape
    # (one key shuffle, no range join); oracle is DuckDB's native
    # ASOF JOIN, so the semantics are pinned against an independent
    # first-class implementation
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 4).alias("value"))
    )
    out = asof_join(clicks, signups, by="user_id", ts="ts", payload=("value",))
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
        F.col("asof_value").alias("signup_value"),
    )


EVENTS_ASOF_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
signups AS (
  SELECT user_id, ts, round(max(value), 4) AS value
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
       s.value AS signup_value
FROM clicks c ASOF LEFT JOIN signups s
  ON c.user_id = s.user_id AND c.ts >= s.ts
"""


def events_funnel(spark, sf_dir):
    # ordered view->click->purchase funnel per user: each step's earliest
    # timestamp strictly after the previous step's
    # (operators/relational.py::funnel_progress)
    return funnel_progress(_t(spark, sf_dir, "events"))


EVENTS_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY e.user_id
)
SELECT v.user_id,
       strftime(v.t0, '%Y-%m-%d %H:%M:%S') AS ts_view,
       strftime(c.t1, '%Y-%m-%d %H:%M:%S') AS ts_click,
       strftime(p.t2, '%Y-%m-%d %H:%M:%S') AS ts_purchase,
       CAST(1 + (c.t1 IS NOT NULL)::INT + (p.t2 IS NOT NULL)::INT AS BIGINT) AS steps_completed
FROM v LEFT JOIN c ON c.user_id = v.user_id LEFT JOIN p ON p.user_id = v.user_id
"""


def events_decayed_value(spark, sf_dir):
    # Recency-weighted engagement: per-user half-life-per-step decayed
    # value sum in exact bit-shift integer arithmetic (latest event full
    # cents, previous half floored, then a quarter...) — the decayed
    # aggregate with no float pow for the engines to round apart. One
    # exchange (rank and count ride the same window partition);
    # operators/decay.py.
    ev = _t(spark, sf_dir, "events")
    out = decayed_sum(
        ev,
        "user_id",
        [F.col("ts").asc(), F.col("event_id").asc()],
        F.round(F.col("value") * 100).cast("long"),
    )
    return out.select(
        "user_id",
        "n_events",
        F.round(F.col("total_c") / 100.0, 2).alias("total_value"),
        F.round(F.col("decayed_c") / 100.0, 2).alias("decayed_value"),
    )


DECAYED_SQL = """
WITH ranked AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS vc,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events)
SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
       round(sum(vc) / 100.0, 2) AS total_value,
       round(sum(vc >> CAST(least(n - i, 62) AS INT)) / 100.0, 2) AS decayed_value
FROM ranked GROUP BY user_id
"""


def events_scd2_history(spark, sf_dir):
    # Type-2 SCD snapshot from the event stream: each event becomes a
    # versioned record valid [valid_from, valid_to) with NULL = current
    # and a version number — the warehouse maintenance operator behind
    # "what did this entity look like on date X". One shuffle on the
    # entity key (both windows share it); operators/relational.py.
    ev = _t(spark, sf_dir, "events")
    return scd2_history(
        ev, "user_id", ["ts", "event_id"], ["event_type", "value"]
    ).select(
        "user_id",
        "event_type",
        F.round(F.col("value"), 2).alias("value"),
        "valid_from",
        "valid_to",
        "version",
        "is_current",
    )


SCD2_SQL = """
SELECT user_id, event_type, round(value, 2) AS value,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       row_number() OVER w::BIGINT AS version,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def events_markov_transitions(spark, sf_dir):
    # First-order Markov transition profile: counts and exact
    # basis-point probabilities for event_type -> next-event_type steps
    # per user stream (lag chain on the same (ts, event_id) total order
    # the CEP query uses). Sequence statistics for curriculum ordering
    # and behavioral anomaly screens.
    return markov_transitions(_t(spark, sf_dir, "events"))


MARKOV_SQL = """
WITH steps AS (
  SELECT event_type AS t_from,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_to
  FROM events),
per_pair AS (
  SELECT t_from, t_to, count(*)::BIGINT AS n_steps
  FROM steps WHERE t_to IS NOT NULL GROUP BY 1, 2),
per_from AS (
  SELECT t_from AS f, sum(n_steps) AS tot FROM per_pair GROUP BY 1)
SELECT t_from, t_to, n_steps, ((10000 * n_steps) // tot)::BIGINT AS p_bp
FROM per_pair JOIN per_from ON t_from = f
"""


def events_hourly_dense(spark, sf_dir):
    # Sparse-to-dense densification: hourly counts per event type with
    # explicit zeros for missing hours (a missing hour and a zero-
    # activity hour are different facts). The event table only ever
    # aggregates; the dense frame is the tiny calendar x type cross
    # product (operators/relational.py::gap_fill_hourly).
    return gap_fill_hourly(_t(spark, sf_dir, "events"))


HOURLY_DENSE_SQL = """
WITH bounds AS (
  SELECT min(date_trunc('hour', ts)) AS mn, max(date_trunc('hour', ts)) AS mx FROM events),
calendar AS (
  SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour FROM bounds),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT event_type AS t, date_trunc('hour', ts) AS h, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2)
SELECT event_type, hour, coalesce(n, 0)::BIGINT AS n_events
FROM calendar CROSS JOIN types
LEFT JOIN counts ON event_type = t AND hour = h
"""


def events_mad_profile(spark, sf_dir):
    # Robust per-type center/spread (operators/stats.py::mad_profile):
    # lower median and MAD selected as EXACT order statistics
    # (row_number == (n+1) div 2 under a unique-key tie-break — no
    # percentile interpolation, which engines disagree on for even n),
    # then |v − med| > 3·MAD outlier counts by pure integer compare.
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 10000).cast("long").alias("v"),
    )
    return mad_profile(ev, "event_type", "v", "event_id").select(
        F.col("grp").alias("event_type"),
        "n", "med_v", "mad_v", "n_outliers", "max_abs_dev",
    )


EVENTS_MAD_SQL = """
WITH t AS (
  SELECT event_type, event_id, CAST(floor(value * 10000) AS BIGINT) AS v
  FROM events),
r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM t),
med AS (SELECT event_type, v AS med_v FROM r WHERE rn = (n + 1) // 2),
d AS (
  SELECT r.event_type, r.v, r.event_id, r.n, m.med_v,
         abs(r.v - m.med_v) AS dv
  FROM r JOIN med m USING (event_type)),
dr AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dv, event_id) AS rn2
  FROM d),
mad AS (SELECT event_type, dv AS mad_v FROM dr WHERE rn2 = (n + 1) // 2)
SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(min(d.med_v) AS BIGINT) AS med_v,
       CAST(min(m.mad_v) AS BIGINT) AS mad_v,
       CAST(sum(CASE WHEN d.dv > 3 * m.mad_v THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(max(d.dv) AS BIGINT) AS max_abs_dev
FROM d JOIN mad m USING (event_type)
GROUP BY 1
"""


def events_streaks(spark, sf_dir):
    # Gaps-and-islands: longest strictly-increasing value run per user
    # under the deterministic (ts, event_id) order — lag flags the run
    # break, a running sum numbers the islands, two narrow aggregates
    # profile them. The classic streak/session-quality query shape.
    from pyspark.sql.window import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 10000).cast("long").alias("v"),
    )
    lagged = base.withColumn("_prev", F.lag("v").over(w))
    flagged = lagged.withColumn(
        "_brk",
        F.when(F.col("_prev").isNull() | (F.col("v") <= F.col("_prev")), 1).otherwise(0),
    )
    runs = flagged.withColumn(
        "_run", F.sum("_brk").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    per_run = runs.groupBy("user_id", "_run").agg(F.count("*").alias("run_len"))
    return per_run.groupBy("user_id").agg(
        F.sum("run_len").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_runs"),
        F.max("run_len").cast("long").alias("max_run"),
    )


EVENTS_STREAKS_SQL = """
WITH t AS (
  SELECT user_id, ts, event_id, CAST(floor(value * 10000) AS BIGINT) AS v
  FROM events),
l AS (
  SELECT *, lag(v) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM t),
f AS (
  SELECT *, CASE WHEN prev IS NULL OR v <= prev THEN 1 ELSE 0 END AS brk
  FROM l),
r AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run
  FROM f),
per_run AS (
  SELECT user_id, run, count(*) AS run_len FROM r GROUP BY 1, 2)
SELECT user_id, CAST(sum(run_len) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(max(run_len) AS BIGINT) AS max_run
FROM per_run GROUP BY 1
"""


def events_drift_chi2(spark, sf_dir):
    # Categorical drift screen (operators/stats.py::drift_chi2):
    # event-type distribution of the first vs second half of the time
    # range (split at the exact epoch-microsecond midpoint — a pure
    # function of the data), per-category chi-square contribution
    # scaled ×10⁴ with per-cell truncation so engines sum identically.
    return drift_chi2(_t(spark, sf_dir, "events"), "event_type")


DRIFT_CHI2_SQL = """
WITH bounds AS (
  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events),
c AS (
  SELECT event_type AS cat,
         CASE WHEN epoch_us(ts) > (lo + hi) // 2 THEN 1 ELSE 0 END AS late,
         CAST(count(*) AS HUGEINT) AS o
  FROM events, bounds GROUP BY 1, 2),
full_cells AS (
  SELECT cats.cat, p.late, coalesce(c.o, 0) AS o
  FROM (SELECT DISTINCT cat FROM c) cats
  CROSS JOIN (VALUES (0), (1)) AS p(late)
  LEFT JOIN c ON c.cat = cats.cat AND c.late = p.late),
m AS (
  SELECT *, sum(o) OVER (PARTITION BY late) AS r,
         sum(o) OVER (PARTITION BY cat) AS col_tot, sum(o) OVER () AS N
  FROM full_cells),
contrib AS (
  SELECT cat, late, o,
         CASE WHEN r > 0 AND col_tot > 0 THEN
           ((N * o - r * col_tot) * (N * o - r * col_tot) * 10000)
             // (N * r * col_tot)
         ELSE 0 END AS chi
  FROM m)
SELECT cat, CAST(sum(CASE WHEN late = 0 THEN o END) AS BIGINT) AS n_early,
       CAST(sum(CASE WHEN late = 1 THEN o END) AS BIGINT) AS n_late,
       CAST(sum(chi) AS BIGINT) AS chi2_x10000
FROM contrib GROUP BY 1
"""


def events_json_fill(spark, sf_dir):
    # Semi-structured field profile (operators/stats.py::
    # json_field_profile): fill rate and exact min/max/sum of props.k
    # per event type — the schema-drift screen for catch-all JSON
    # columns. get_json_object + an integral-string regex guard stay
    # JVM-side (try_cast is NOT engine-stable: Spark nulls '12.5',
    # DuckDB rounds it); the oracle applies the identical regex.
    return json_field_profile(
        _t(spark, sf_dir, "events"), "props", "$.k", "event_type"
    ).select(
        F.col("grp").alias("event_type"),
        "n_rows", "n_filled", "fill_bp", "min_val", "max_val", "sum_val",
    )


JSON_FILL_SQL = r"""
WITH v AS (
  SELECT event_type,
         CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^-?\d+$')
              THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
  FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(k) AS BIGINT) AS n_filled,
       CAST(CAST(count(k) AS HUGEINT) * 10000 // count(*) AS BIGINT) AS fill_bp,
       CAST(min(k) AS BIGINT) AS min_val, CAST(max(k) AS BIGINT) AS max_val,
       CAST(sum(k) AS BIGINT) AS sum_val
FROM v GROUP BY 1
"""


def events_funnel_latency(spark, sf_dir):
    # Conversion-latency profile (operators/relational.py::
    # funnel_latency): among full view→click→purchase converters, the
    # exact min/p50/p90/max/mean of end-to-end seconds — order
    # statistics at index (n−1)·p div 100 + 1 under (latency, user)
    # order, the length_quantiles convention in pure integer
    # arithmetic. One row out.
    return funnel_latency(_t(spark, sf_dir, "events"))


FUNNEL_LATENCY_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view'
  GROUP BY 1),
c AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1),
p AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1),
lat AS (
  SELECT p.user_id,
         date_diff('second', date_trunc('second', v.t0),
                   date_trunc('second', p.t2)) AS lat
  FROM p JOIN v ON v.user_id = p.user_id),
r AS (
  SELECT *, row_number() OVER (ORDER BY lat, user_id) AS rn,
         count(*) OVER () AS n
  FROM lat)
SELECT CAST(max(n) AS BIGINT) AS n_converted, CAST(min(lat) AS BIGINT) AS min_sec,
       CAST(max(CASE WHEN rn = ((n - 1) * 50) // 100 + 1 THEN lat END) AS BIGINT)
         AS p50_sec,
       CAST(max(CASE WHEN rn = ((n - 1) * 90) // 100 + 1 THEN lat END) AS BIGINT)
         AS p90_sec,
       CAST(max(lat) AS BIGINT) AS max_sec,
       CAST(CAST(sum(lat) AS HUGEINT) // count(*) AS BIGINT) AS mean_sec
FROM r
"""


def events_trimmed_value(spark, sf_dir):
    # 10%-trimmed mean of the cent-scaled event value per type
    # (operators/stats.py::trimmed_mean_by_group): drop the exact-rank
    # top and bottom k = n div 10 (ties broken by event_id), truncated
    # integer mean of the rest — the robust center that still uses
    # every retained value, next to events_mad_profile's median.
    ev = _t(spark, sf_dir, "events")
    return trimmed_mean_by_group(
        ev,
        "event_type",
        F.floor(F.col("value").cast(_DEC) * 100),
        "event_id",
    ).select(
        F.col("grp").alias("event_type"),
        "n", "n_trimmed_each_side", "n_kept",
        F.col("trimmed_mean").alias("trimmed_mean_cents"),
    )


TRIMMED_SQL = """
WITH b AS (
  SELECT event_type, event_id,
         CAST(floor(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT) AS v
  FROM events),
r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY v, event_id)
              AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM b),
k AS (SELECT *, (n * 1000) // 10000 AS kk FROM r),
kept AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS s
  FROM k WHERE rn > kk AND rn <= n - kk GROUP BY 1),
tot AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         CAST(max(kk) AS BIGINT) AS n_trimmed_each_side
  FROM k GROUP BY 1)
SELECT t.event_type, t.n, t.n_trimmed_each_side,
       coalesce(kept.n_kept, 0) AS n_kept,
       CASE WHEN coalesce(kept.n_kept, 0) > 0 THEN
         CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
              * (abs(s) // kept.n_kept) AS BIGINT) END AS trimmed_mean_cents
FROM tot t LEFT JOIN kept ON kept.event_type = t.event_type
"""


def events_runs_test(spark, sf_dir):
    # Wald-Wolfowitz runs audit per event type
    # (operators/stats.py::runs_test_by_group): observed runs of
    # above/below-median cent values in (ts, event_id) order vs the
    # exact expected count E[R]×100 = (100n + 200·n₁·n₀) div n — the
    # trend/oscillation screen whose z-denominator (a square root) is
    # deliberately left to the reader.
    ev = _t(spark, sf_dir, "events")
    return runs_test_by_group(
        ev, "event_type", F.floor(F.col("value").cast(_DEC) * 100), "ts", "event_id"
    ).select(
        F.col("grp").alias("event_type"),
        "n", "n_above", "n_below", "n_runs", "expected_runs_x100",
    )


RUNS_TEST_SQL = """
WITH b AS (
  SELECT event_type AS grp, event_id, ts,
         CAST(floor(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT) AS v
  FROM events),
r AS (
  SELECT *, row_number() OVER (PARTITION BY grp ORDER BY v, event_id) AS rn,
         count(*) OVER (PARTITION BY grp) AS n
  FROM b),
med AS (SELECT grp, v AS m FROM r WHERE rn = (n + 1) // 2),
seq AS (
  SELECT b.grp, CASE WHEN b.v > med.m THEN 1 ELSE 0 END AS hi,
         lag(CASE WHEN b.v > med.m THEN 1 ELSE 0 END)
           OVER (PARTITION BY b.grp ORDER BY b.ts, b.event_id) AS prev
  FROM b JOIN med ON med.grp = b.grp)
SELECT grp AS event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(hi) AS BIGINT) AS n_above,
       CAST(sum(1 - hi) AS BIGINT) AS n_below,
       CAST(1 + sum(CASE WHEN prev IS NOT NULL AND hi != prev THEN 1 ELSE 0 END)
            AS BIGINT) AS n_runs,
       CAST((CAST(100 AS HUGEINT) * count(*)
             + 200 * sum(hi) * sum(1 - hi)) // count(*) AS BIGINT)
         AS expected_runs_x100
FROM seq GROUP BY 1
"""


def events_acf(spark, sf_dir):
    # Exact integer autocorrelation of the densified hourly event-count
    # series per type at lags 1-3 (operators/stats.py::acf_by_group):
    # the burstiness/seasonality audit. Deviations are scaled by n
    # (d_t = n*x_t - S) so every product is an integer; acf_bp is the
    # sign-factored truncated basis-point ratio.
    return acf_by_group(_t(spark, sf_dir, "events"), "event_type", "ts").select(
        F.col("grp").alias("event_type"), "lag", "n_buckets", "acf_bp"
    )


EVENTS_ACF_SQL = """
WITH counts AS (
  SELECT event_type AS grp, date_trunc('hour', ts) AS b,
         CAST(count(*) AS HUGEINT) AS x
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT grp, min(b) AS mn, max(b) AS mx, sum(x) AS s FROM counts GROUP BY 1),
dense AS (
  SELECT grp, s,
         (epoch_us(mx) - epoch_us(mn)) // 3600000000 + 1 AS n,
         unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS b
  FROM bounds),
dev AS (
  SELECT d.grp, d.b, d.n, d.n * coalesce(c.x, 0) - d.s AS dd
  FROM dense d LEFT JOIN counts c ON d.grp = c.grp AND d.b = c.b),
led AS (
  SELECT grp, n, dd,
         lead(dd, 1) OVER w AS d1, lead(dd, 2) OVER w AS d2,
         lead(dd, 3) OVER w AS d3
  FROM dev WINDOW w AS (PARTITION BY grp ORDER BY b)),
agg AS (
  SELECT grp, max(n) AS nb, sum(dd * dd) AS den,
         sum(dd * d1) AS num1, sum(dd * d2) AS num2, sum(dd * d3) AS num3
  FROM led GROUP BY grp),
st AS (
  SELECT grp, nb, den, 1 AS lag, num1 AS num FROM agg
  UNION ALL SELECT grp, nb, den, 2, num2 FROM agg
  UNION ALL SELECT grp, nb, den, 3, num3 FROM agg)
SELECT grp AS event_type, CAST(lag AS BIGINT) AS lag,
       CAST(nb AS BIGINT) AS n_buckets,
       CASE WHEN den <= 0 THEN NULL ELSE
         CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
              * ((abs(num) * 10000) // den) AS BIGINT) END AS acf_bp
FROM st
"""


def events_rolling_outliers(spark, sf_dir):
    # Trailing 24-hour Bollinger-band outlier flags on hourly revenue
    # cents per event type with the square root eliminated —
    # (24x - S)^2 > 4(24Q - S^2) in exact integers (operators/stats.py
    # ::rolling_band_outliers). Local re-baselining, unlike the global
    # zscore screen.
    return rolling_band_outliers(
        _t(spark, sf_dir, "events"),
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long"),
    ).select(
        F.col("grp").alias("event_type"),
        "bucket", "value_cents", "is_outlier", "excess_bp",
    )


ROLLING_OUTLIERS_SQL = """
WITH hourly AS (
  SELECT event_type AS grp, date_trunc('hour', ts) AS b,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS x
  FROM events GROUP BY 1, 2),
w AS (
  SELECT grp, b, x,
         count(*) OVER tw AS wn, sum(x) OVER tw AS s, sum(x * x) OVER tw AS q
  FROM hourly
  WINDOW tw AS (PARTITION BY grp ORDER BY b
                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT grp AS event_type, b AS bucket, CAST(x AS BIGINT) AS value_cents,
       (24 * x - s) * (24 * x - s) > 4 * (24 * q - s * s) AS is_outlier,
       CAST(least(((24 * x - s) * (24 * x - s) * 10000)
                  // greatest(4 * (24 * q - s * s), 1), 1000000) AS BIGINT)
         AS excess_bp
FROM w WHERE wn = 24
"""


def events_cusum(spark, sf_dir):
    # Exact CUSUM changepoint localization on the densified daily
    # revenue-cents series per event type (operators/stats.py::
    # cusum_changepoint): n·C_t = n·P_t − t·S stays integer; argmax
    # with earliest-bucket tie-break. drift_chi2 detects drift; this
    # says WHERE the level shifted.
    return cusum_changepoint(
        _t(spark, sf_dir, "events"),
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long"),
    ).select(
        F.col("grp").alias("event_type"),
        "n_buckets", "cp_index", "cp_bucket",
        "cusum_scaled", "pre_cents", "post_cents",
    )


EVENTS_CUSUM_SQL = """
WITH per AS (
  SELECT event_type AS grp, date_trunc('day', ts) AS b,
         sum(CAST(round(value * 100) AS BIGINT)) AS x
  FROM events GROUP BY 1, 2),
bounds AS (SELECT grp, min(b) AS mn, max(b) AS mx, sum(x) AS s
           FROM per GROUP BY 1),
dense AS (SELECT grp, s, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS b
          FROM bounds),
d2 AS (SELECT dense.grp, dense.b, dense.s, coalesce(per.x, 0) AS x
       FROM dense LEFT JOIN per ON dense.grp = per.grp AND dense.b = per.b),
sc AS (SELECT grp, b, s,
         row_number() OVER w AS t,
         sum(x) OVER (PARTITION BY grp ORDER BY b ROWS UNBOUNDED PRECEDING) AS p,
         count(*) OVER (PARTITION BY grp) AS n
       FROM d2 WINDOW w AS (PARTITION BY grp ORDER BY b)),
c AS (SELECT grp, b, n, t, p, s,
             abs(CAST(n AS HUGEINT) * p - CAST(t AS HUGEINT) * s) AS cv
      FROM sc WHERE t < n),
pick AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY cv DESC, b ASC) AS rk
         FROM c)
SELECT grp AS event_type, CAST(n AS BIGINT) AS n_buckets,
       CAST(t AS BIGINT) AS cp_index, b AS cp_bucket,
       CAST(cv AS BIGINT) AS cusum_scaled, CAST(p AS BIGINT) AS pre_cents,
       CAST(s - p AS BIGINT) AS post_cents
FROM pick WHERE rk = 1
"""


def events_seasonal_anomalies(spark, sf_dir):
    # Two-way additive seasonal decomposition of the (date × hour-of-
    # day) count grid with exact scaled residuals (operators/stats.py::
    # seasonal_residual_anomalies): top-20 cells that break the daily
    # cycle AND the per-day level — the additive-model anomaly audit
    # the global zscore screen can't express.
    return seasonal_residual_anomalies(
        _t(spark, sf_dir, "events"), "ts", top_k=20
    ).select(
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        "hour", "n_events", "resid_scaled", "rank",
    )


SEASONAL_SQL = """
WITH cells AS (
  SELECT CAST(ts AS DATE) AS d, CAST(hour(ts) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
bounds AS (SELECT min(d) AS mn, max(d) AS mx, sum(x) AS t FROM cells),
cal AS (
  SELECT t, date_diff('day', mn, mx) + 1 AS r,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
                                     CAST(mx AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS d
  FROM bounds),
dense AS (
  SELECT cal.t, cal.r, cal.d, hh.h, coalesce(cells.x, 0) AS x
  FROM cal CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) hh
  LEFT JOIN cells ON cells.d = cal.d AND cells.h = hh.h),
sd AS (SELECT d, sum(x) AS s_date FROM dense GROUP BY d),
sh AS (SELECT h, sum(x) AS s_hour FROM dense GROUP BY h),
scored AS (
  SELECT dense.d, dense.h, dense.x,
         CAST(CAST(dense.r AS HUGEINT) * 24 * dense.x
              - 24 * CAST(sd.s_date AS HUGEINT)
              - CAST(dense.r AS HUGEINT) * sh.s_hour
              + dense.t AS BIGINT) AS resid_scaled
  FROM dense JOIN sd ON dense.d = sd.d JOIN sh ON dense.h = sh.h),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY abs(resid_scaled) DESC, d ASC, h ASC) AS rank
  FROM scored)
SELECT strftime(d, '%Y-%m-%d') AS date, h AS hour, x AS n_events,
       resid_scaled, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 20
"""


def events_concurrency(spark, sf_dir):
    # sweep-line peak overlap (operators/relational.py::peak_concurrency):
    # with every event an active [ts, ts+30min) interval, the maximum
    # simultaneously-active count per type and the earliest instant it
    # is reached — the capacity-planning number a groupBy count cannot
    # produce; half-open boundary semantics pinned in the operator.
    return peak_concurrency(_t(spark, sf_dir, "events"), "event_type", "ts", 30)


EVENTS_CONCURRENCY_SQL = """
WITH b AS (
  SELECT event_type AS grp, ts AS t, 1 AS ns, 0 AS ne FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 30 MINUTE, 0, 1 FROM events),
agg AS (SELECT grp, t, sum(ns) AS n_start, sum(ne) AS n_end
        FROM b GROUP BY 1, 2),
run AS (SELECT grp, t,
          sum(n_start) OVER w - sum(n_end) OVER w AS conc,
          sum(n_start) OVER f AS nev,
          count(*) OVER f AS nin
        FROM agg
        WINDOW w AS (PARTITION BY grp ORDER BY t ROWS UNBOUNDED PRECEDING),
               f AS (PARTITION BY grp)),
pick AS (SELECT *,
           row_number() OVER (PARTITION BY grp ORDER BY conc DESC, t ASC) AS rk
         FROM run)
SELECT grp AS event_type, CAST(nev AS BIGINT) AS n_events,
       CAST(nin AS BIGINT) AS n_instants,
       CAST(conc AS BIGINT) AS peak_concurrency, t AS peak_at
FROM pick WHERE rk = 1
"""


def events_theil_sen(spark, sf_dir):
    # Theil-Sen robust trend (operators/stats.py::theil_sen_by_group):
    # median pairwise slope of the per-day revenue-cents series per
    # event type in truncated bp — the outlier-immune sibling of
    # lineitem_ols_slope (29% breakdown point vs 0), pair enumeration
    # over the aggregated daily grid only.
    return theil_sen_by_group(
        _t(spark, sf_dir, "events"),
        F.col("event_type"),
        F.col("ts"),
        F.round(F.col("value") * 100).cast("long"),
    ).select(
        F.col("grp").alias("event_type"),
        "n_days", "n_pairs", "slope_bp_med", "slope_bp_min", "slope_bp_max",
    )


EVENTS_THEIL_SEN_SQL = """
WITH per AS (
  SELECT event_type AS grp,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS t,
         sum(CAST(round(value * 100) AS BIGINT)) AS x
  FROM events GROUP BY 1, 2),
days AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_days FROM per GROUP BY 1),
pairs AS (
  SELECT a.grp,
         (CASE WHEN b.x - a.x < 0 THEN -1 ELSE 1 END) *
         ((abs(b.x - a.x) * 10000) // (b.t - a.t)) AS slope_bp
  FROM per a JOIN per b ON a.grp = b.grp AND a.t < b.t),
ranked AS (
  SELECT grp, slope_bp,
         row_number() OVER (PARTITION BY grp ORDER BY slope_bp) AS rn,
         count(*) OVER (PARTITION BY grp) AS m,
         min(slope_bp) OVER (PARTITION BY grp) AS mn,
         max(slope_bp) OVER (PARTITION BY grp) AS mx
  FROM pairs)
SELECT r.grp AS event_type, d.n_days, CAST(r.m AS BIGINT) AS n_pairs,
       CAST(r.slope_bp AS BIGINT) AS slope_bp_med,
       CAST(r.mn AS BIGINT) AS slope_bp_min, CAST(r.mx AS BIGINT) AS slope_bp_max
FROM ranked r JOIN days d USING (grp)
WHERE r.rn = (r.m + 1) // 2
"""


def events_bowley_skew(spark, sf_dir):
    # Bowley quartile skewness of cent-scaled event values per type
    # (operators/stats.py::bowley_skew_by_group): exact lower order
    # statistics at ranks (n-1)p div 100 + 1 under (value, event_id)
    # order; sign-factored truncated division; NULL when IQR is zero.
    return bowley_skew_by_group(
        _t(spark, sf_dir, "events"),
        F.col("event_type"),
        F.round(F.col("value") * 100),
        F.col("event_id"),
    ).withColumnRenamed("grp", "event_type")


EVENTS_BOWLEY_SQL = """
WITH v AS (SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS v,
                  event_id AS id
           FROM events),
r AS (SELECT grp, v,
             row_number() OVER (PARTITION BY grp ORDER BY v, id) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM v),
q AS (SELECT grp, CAST(max(n) AS BIGINT) AS n,
        max(CASE WHEN rn = ((n - 1) * 25) // 100 + 1 THEN v END) AS q1,
        max(CASE WHEN rn = ((n - 1) * 50) // 100 + 1 THEN v END) AS q2,
        max(CASE WHEN rn = ((n - 1) * 75) // 100 + 1 THEN v END) AS q3
      FROM r GROUP BY grp)
SELECT grp AS event_type, n, q1, q2, q3,
       CAST(CASE WHEN q3 - q1 > 0 THEN
              (CASE WHEN q1 + q3 - 2 * q2 < 0 THEN -1 ELSE 1 END) *
              ((10000 * abs(q1 + q3 - 2 * q2)) // (q3 - q1))
            END AS BIGINT) AS bowley_x10000
FROM q
"""


def events_sliding_dau(spark, sf_dir):
    # exact rolling 7-day distinct actives (operators/relational.py::
    # sliding_distinct_actives): distinct does not merge across
    # subwindows, so engines fall back to approx here — this gets the
    # exact number with a bounded (<= 7x) fanout of the (day, user) grid
    # instead of a range join.
    return sliding_distinct_actives(
        _t(spark, sf_dir, "events"), "user_id", "ts", window_days=7
    )


EVENTS_SLIDING_DAU_SQL = """
WITH daily AS (SELECT CAST(ts AS DATE) AS d, user_id AS e,
                      CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
mx AS (SELECT max(d) AS m FROM daily),
fan AS (SELECT daily.e, daily.n,
               unnest(list_filter(
                 generate_series(daily.d, daily.d + INTERVAL 6 DAY,
                                 INTERVAL 1 DAY),
                 x -> CAST(x AS DATE) <= mx.m)) AS w
        FROM daily, mx)
SELECT CAST(w AS DATE) AS window_end,
       CAST(count(DISTINCT e) AS BIGINT) AS n_active,
       CAST(sum(n) AS BIGINT) AS n_events
FROM fan GROUP BY 1
"""


def events_best_run(spark, sf_dir):
    # maximum-subarray hot streak (operators/stats.py::best_run_by_group):
    # the consecutive-day span with maximal summed deviation from the
    # type's mean daily revenue — Kadane's loop replaced by the window
    # identity best(t) = P_t - min(P_0..P_{t-1}); deviations scaled by n
    # (the CUSUM trick) so everything stays integer.
    return best_run_by_group(
        _t(spark, sf_dir, "events"),
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long"),
    ).withColumnRenamed("grp", "event_type")


EVENTS_BEST_RUN_SQL = """
WITH per AS (SELECT event_type AS grp, CAST(ts AS DATE) AS d,
                    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
             FROM events GROUP BY 1, 2),
bounds AS (SELECT grp, min(d) AS mn, max(d) AS mx,
                  CAST(sum(x) AS HUGEINT) AS s
           FROM per GROUP BY 1),
cal AS MATERIALIZED (
  SELECT b.grp, b.s, CAST(t.dd AS DATE) AS d
  FROM bounds b,
       unnest(generate_series(b.mn, b.mx, INTERVAL 1 DAY)) AS t(dd)),
dense AS (SELECT cal.grp, cal.s, cal.d, coalesce(p.x, 0) AS x
          FROM cal LEFT JOIN per p ON p.grp = cal.grp AND p.d = cal.d),
g AS (SELECT grp, d, s, x,
             count(*) OVER (PARTITION BY grp) AS n,
             row_number() OVER (PARTITION BY grp ORDER BY d) AS t
      FROM dense),
pp AS (SELECT grp, d, t, n,
              CAST(n AS HUGEINT) * x - s AS dev
       FROM g),
pf AS (SELECT grp, d, t, n,
              sum(dev) OVER (PARTITION BY grp ORDER BY t
                             ROWS UNBOUNDED PRECEDING) AS p
       FROM pp),
sc AS (SELECT grp, d, t, n, p,
              least(CAST(0 AS HUGEINT),
                    coalesce(min(p) OVER (PARTITION BY grp ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      CAST(0 AS HUGEINT))) AS mprev
       FROM pf),
ends AS (SELECT grp, CAST(n AS BIGINT) AS n_days, d AS end_day, t AS end_t,
                p - mprev AS best, p - (p - mprev) AS target
         FROM (SELECT *, row_number() OVER (PARTITION BY grp
                 ORDER BY p - mprev DESC, d ASC) AS rk FROM sc)
         WHERE rk = 1),
starts AS (SELECT f.grp, min(f.d) AS start_day
           FROM (SELECT grp, d, t,
                        coalesce(lag(p) OVER (PARTITION BY grp ORDER BY t),
                                 CAST(0 AS HUGEINT)) AS pprev
                 FROM pf) f
           JOIN ends e ON e.grp = f.grp
                      AND f.t <= e.end_t AND f.pprev = e.target
           GROUP BY 1)
SELECT e.grp AS event_type, e.n_days, s.start_day, e.end_day,
       CAST(date_diff('day', s.start_day, e.end_day) + 1 AS BIGINT)
         AS run_len,
       CAST(e.best AS BIGINT) AS best_sum_scaled
FROM ends e JOIN starts s ON s.grp = e.grp
"""


def events_coverage(spark, sf_dir):
    # sweep-line interval UNION (operators/relational.py::
    # interval_union_time): with every event an active [ts, ts+30min)
    # interval, the total covered time per type with overlaps counted
    # ONCE, the number of maximal covered segments, and the covered
    # share of the span — peak_concurrency's utilization complement
    # (same boundary-stream build, one sort-window over aggregated
    # instants, exact epoch-microsecond arithmetic).
    return interval_union_time(_t(spark, sf_dir, "events"), "event_type", "ts", 30)


EVENTS_COVERAGE_SQL = """
WITH b AS (
  SELECT event_type AS grp, epoch_us(ts) AS t, 1 AS ns, 0 AS ne FROM events
  UNION ALL
  SELECT event_type, epoch_us(ts) + 1800000000, 0, 1 FROM events),
agg AS (SELECT grp, t, CAST(sum(ns) AS BIGINT) AS n_start,
               CAST(sum(ne) AS BIGINT) AS n_end
        FROM b GROUP BY 1, 2),
run0 AS (SELECT grp, t, n_start,
           sum(n_start) OVER w - sum(n_end) OVER w AS conc
         FROM agg
         WINDOW w AS (PARTITION BY grp ORDER BY t ROWS UNBOUNDED PRECEDING)),
run AS (SELECT grp, t, n_start, conc,
          lead(t) OVER s AS next_t,
          coalesce(lag(conc) OVER s, 0) AS prev_conc
        FROM run0
        WINDOW s AS (PARTITION BY grp ORDER BY t))
SELECT grp AS event_type,
       CAST(sum(n_start) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN conc > 0 THEN next_t - t ELSE 0 END) AS BIGINT)
         AS covered_us,
       CAST(sum(CASE WHEN conc > 0 AND prev_conc = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_components,
       CAST(max(t) - min(t) AS BIGINT) AS span_us,
       CAST(sum(CASE WHEN conc > 0 THEN next_t - t ELSE 0 END) * 10000
            // (max(t) - min(t)) AS BIGINT) AS coverage_bp
FROM run GROUP BY 1
"""


def events_mann_kendall(spark, sf_dir):
    # exact Mann-Kendall trend test (operators/stats.py::
    # mann_kendall_by_group): per event type over DAILY value sums
    # (cents), S = Σ sign(x_j − x_i), tie-corrected variance numerator
    # N18, continuity-corrected z×100 via the isqrt contract — the
    # nonparametric drift alarm read before Theil-Sen's slope; the pair
    # join runs on the calendar grid, never on raw rows.
    return mann_kendall_by_group(
        _t(spark, sf_dir, "events"),
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long"),
    )


def events_mann_kendall_sql() -> str:
    z = _duck_isqrt(
        "((abs(s_stat) - 1) * (abs(s_stat) - 1)"
        " * CAST(180000 AS HUGEINT)) // var18"
    )
    return f"""
WITH daily AS (SELECT event_type AS grp, CAST(ts AS DATE) AS d,
                      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                        AS x
               FROM events GROUP BY 1, 2),
s AS (SELECT a.grp,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM daily a JOIN daily b ON a.grp = b.grp AND a.d < b.d
      GROUP BY 1),
nd AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
ties AS (SELECT grp,
                CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
         FROM (SELECT grp, x, CAST(count(*) AS BIGINT) AS t
               FROM daily GROUP BY 1, 2)
         GROUP BY 1),
base AS (SELECT nd.grp, nd.n_days, coalesce(s.s_stat, 0) AS s_stat,
                CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                     - ties.tie_term AS HUGEINT) AS var18
         FROM nd JOIN ties USING (grp) LEFT JOIN s USING (grp))
SELECT grp AS event_type, n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
       CASE WHEN var18 > 0 AND abs(s_stat) >= 1
            THEN CAST((CASE WHEN s_stat < 0 THEN -1 ELSE 1 END)
                      * ({z}) AS BIGINT)
       END AS z_x100
FROM base
"""


def events_audience_overlap(spark, sf_dir):
    # exact pairwise audience overlap (operators/relational.py::
    # audience_overlap): distinct-user intersection, set sizes, and
    # Jaccard in exact bp for every event-type pair — the cross-sell /
    # cannibalization matrix; incidence deduped first so volume never
    # inflates overlap, empty intersections reported (zero is the
    # interesting answer).
    return audience_overlap(_t(spark, sf_dir, "events"), "event_type", "user_id")


EVENTS_AUDIENCE_SQL = """
WITH inc AS (SELECT DISTINCT event_type AS cat, user_id AS ent FROM events
             WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
tot AS (SELECT cat, CAST(count(*) AS BIGINT) AS n FROM inc GROUP BY 1),
both_ AS (SELECT a.cat AS cat_a, b.cat AS cat_b,
                 CAST(count(*) AS BIGINT) AS n_both
          FROM inc a JOIN inc b ON a.ent = b.ent AND a.cat < b.cat
          GROUP BY 1, 2)
SELECT ta.cat AS cat_a, tb.cat AS cat_b, ta.n AS n_a, tb.n AS n_b,
       coalesce(n_both, 0) AS n_both,
       CAST(coalesce(n_both, 0) * 10000
            // (ta.n + tb.n - coalesce(n_both, 0)) AS BIGINT) AS jaccard_bp
FROM tot ta JOIN tot tb ON ta.cat < tb.cat
LEFT JOIN both_ ON both_.cat_a = ta.cat AND both_.cat_b = tb.cat
"""


def events_max_drawdown(spark, sf_dir):
    # exact maximum drawdown (operators/stats.py::max_drawdown_by_group):
    # the largest peak-to-later-trough fall of the daily value series per
    # type (cents), with the earliest trough and the earliest day
    # achieving its peak — best_run's pessimist twin; reads the OBSERVED
    # daily series (a calendar gap is not a zero-revenue day here).
    return max_drawdown_by_group(
        _t(spark, sf_dir, "events"),
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long"),
    )


EVENTS_DRAWDOWN_SQL = """
WITH daily AS (SELECT event_type AS grp, CAST(ts AS DATE) AS d,
                      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                        AS x
               FROM events GROUP BY 1, 2),
run AS (SELECT grp, d, x,
          max(x) OVER (PARTITION BY grp ORDER BY d
                       ROWS UNBOUNDED PRECEDING) AS peak
        FROM daily),
trough AS (SELECT grp, d AS trough_day, peak, peak - x AS drawdown
           FROM (SELECT *, row_number() OVER (PARTITION BY grp
                   ORDER BY peak - x DESC, d ASC) AS rk FROM run)
           WHERE rk = 1),
pk AS (SELECT r.grp, t.trough_day, t.drawdown, min(r.d) AS peak_day
       FROM run r JOIN trough t ON t.grp = r.grp
       WHERE r.x = t.peak AND r.d <= t.trough_day
       GROUP BY 1, 2, 3),
nd AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1)
SELECT nd.grp AS event_type, nd.n_days, pk.peak_day, pk.trough_day,
       CAST(pk.drawdown AS BIGINT) AS drawdown
FROM nd JOIN pk ON pk.grp = nd.grp
"""


def events_life_table(spark, sf_dir):
    # Kaplan-Meier survival LIFE TABLE with right-censoring
    # (operators/stats.py::life_table): per-user active spans in days,
    # users still active within 7 days of the corpus boundary censored;
    # at each distinct duration the risk set, churn/censor exits, and
    # the product-limit survival estimate in exact 1e8 fixed point via
    # the truncating sequential recurrence (grid bounded by the day
    # domain, so the fold is value-domain-bounded like the bisect
    # quantiles). The churn-curve audit a retention model trains on.
    return life_table(_t(spark, sf_dir, "events"), censor_days=7)


LIFE_TABLE_SQL = """
WITH RECURSIVE per_user AS (
  SELECT user_id,
         date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS d,
         date_diff('day', CAST(max(ts) AS DATE),
                   (SELECT CAST(max(ts) AS DATE) FROM events)) < 7 AS censored
  FROM events GROUP BY 1),
grid AS (
  SELECT d,
         CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
           AS n_churn,
         CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_cens
  FROM per_user GROUP BY 1),
o AS (
  SELECT d, n_churn, n_cens,
         (SELECT count(*) FROM per_user)
           - coalesce(sum(n_churn + n_cens)
               OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS n_risk,
         row_number() OVER (ORDER BY d) AS rn
  FROM grid),
rec AS (
  SELECT rn, d, n_risk, n_churn, n_cens,
         (100000000 * (n_risk - n_churn)) // n_risk AS s
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.rn, o.d, o.n_risk, o.n_churn, o.n_cens,
         (rec.s * (o.n_risk - o.n_churn)) // o.n_risk
  FROM o, rec WHERE o.rn = rec.rn + 1)
SELECT CAST(d AS INTEGER) AS duration_days, CAST(n_risk AS BIGINT) AS n_risk,
       n_churn, n_cens AS n_censored, CAST(s AS BIGINT) AS s_x1e8
FROM rec
"""


def events_markov_stationary(spark, sf_dir):
    # stationary distribution of the event-type chain
    # (operators/relational.py::markov_stationary) — markov_transitions'
    # fixed-point twin: 12 exact power-iteration steps in 1e12
    # fixed point over the lag-window transition counts; stream-terminal
    # types get a pinned self-loop so mass is conserved. The limit
    # occupancy profile behind curriculum ordering and session mix
    # planning.
    return markov_stationary(_t(spark, sf_dir, "events"), iterations=12)


def markov_stationary_sql() -> str:
    # unrolled like _pagerank_sql_over: p0..pN CTEs, each one exact
    # integer step (pi·n) // tot per transition, zero-mass states kept
    # via the LEFT JOIN back to the state list
    iterations = 12
    scale = 10**12
    parts = [
        "WITH steps AS MATERIALIZED (",
        "  SELECT event_type AS t_from,",
        "         lead(event_type) OVER (PARTITION BY user_id"
        " ORDER BY ts, event_id) AS t_to",
        "  FROM events),",
        "pp AS MATERIALIZED (SELECT t_from, t_to,"
        " CAST(count(*) AS BIGINT) AS n",
        "  FROM steps WHERE t_to IS NOT NULL GROUP BY 1, 2),",
        "tots AS MATERIALIZED (SELECT t_from AS f, sum(n) AS tot"
        " FROM pp GROUP BY 1),",
        "states AS MATERIALIZED (SELECT DISTINCT event_type AS s"
        " FROM events),",
        "trans AS MATERIALIZED (",
        "  SELECT pp.t_from, pp.t_to, pp.n, tots.tot"
        " FROM pp JOIN tots ON pp.t_from = tots.f",
        "  UNION ALL",
        "  SELECT s, s, 1, 1 FROM states"
        " WHERE s NOT IN (SELECT f FROM tots)),",
        "c AS MATERIALIZED (SELECT count(*) AS n FROM states),",
        f"p0 AS MATERIALIZED (SELECT s, CAST({scale} // c.n AS BIGINT) AS m"
        " FROM states CROSS JOIN c),",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"cb{k} AS MATERIALIZED (SELECT t.t_to AS s,"
            f" CAST(sum((p.m * t.n) // t.tot) AS BIGINT) AS m"
            f" FROM trans t JOIN p{k - 1} p ON p.s = t.t_from GROUP BY 1),\n"
            f"p{k} AS MATERIALIZED (SELECT states.s,"
            f" coalesce(cb{k}.m, 0) AS m"
            f" FROM states LEFT JOIN cb{k} ON cb{k}.s = states.s),"
        )
    body = "\n".join(parts).rstrip(",")
    return (
        f"{body}\nSELECT s AS event_type, CAST(m AS BIGINT) AS pi_fp"
        f" FROM p{iterations}"
    )


def events_u_attribution(spark, sf_dir):
    # position-based (U-shaped) multi-touch attribution
    # (operators/relational.py::u_shape_attribution): each purchase
    # distributes 10 000 bp over its journey's touches — 40/20/40 with
    # the truncating middle split's remainder pinned to the earliest
    # middle, so Σ credit == 10 000 per credited conversion exactly.
    # stream_join_attrib's batch complement (that one is last-touch
    # within a window; this is whole-journey positional).
    return u_shape_attribution(_t(spark, sf_dir, "events"))


U_ATTRIBUTION_SQL = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS j,
         event_type = 'purchase' AS is_conv
  FROM events),
ended AS (SELECT DISTINCT user_id AS eu, j AS ej FROM seq WHERE is_conv),
touches AS (
  SELECT s.user_id, s.event_type, s.ts, s.event_id, s.j
  FROM seq s JOIN ended e ON s.user_id = e.eu AND s.j = e.ej
  WHERE NOT s.is_conv),
pos AS (
  SELECT user_id, j, event_type,
         row_number() OVER (PARTITION BY user_id, j
                            ORDER BY ts, event_id) AS p,
         count(*) OVER (PARTITION BY user_id, j) AS n
  FROM touches),
credit AS (
  SELECT user_id, j, event_type,
         CASE WHEN n = 1 THEN 10000
              WHEN n = 2 THEN 5000
              WHEN p = 1 OR p = n THEN 4000
              ELSE 2000 // (n - 2)
                   + (CASE WHEN p = 2 THEN 2000 % (n - 2) ELSE 0 END)
         END AS credit_bp
  FROM pos)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
       CAST(count(DISTINCT (user_id, j)) AS BIGINT) AS n_conversions,
       CAST(sum(credit_bp) AS BIGINT) AS credit_bp
FROM credit GROUP BY 1
"""


def events_trigram_paths(spark, sf_dir):
    # contiguous three-step sequence census over per-user streams
    # (operators/relational.py::trigram_paths) — the sequence depth the
    # markov pair profile can't see (loops vs progressions), with exact
    # bp share of all trigrams. Same (ts, event_id) total order as the
    # CEP/markov family.
    return trigram_paths(_t(spark, sf_dir, "events"))


TRIGRAM_SQL = """
WITH tri AS (
  SELECT event_type AS t1,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
c AS (SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
      FROM tri WHERE t3 IS NOT NULL GROUP BY 1, 2, 3)
SELECT t1, t2, t3, n,
       CAST((10000 * n) // sum(n) OVER () AS BIGINT) AS share_bp
FROM c
"""


def events_cadence(spark, sf_dir):
    # per-user cadence-regularity bot screen
    # (operators/relational.py::cadence_regularity): CV² of
    # inter-event gaps in exact 1e8 fixed point over MICROSECOND gaps
    # (unix_micros/epoch_us — whole seconds would alias sub-second
    # bots); timer bots collapse toward 0, Poisson-ish humans sit near
    # 1e8. DECIMAL(38,0) sums ((Σg)² passes int64 within hours).
    return cadence_regularity(_t(spark, sf_dir, "events"))


CADENCE_SQL = """
WITH g AS (
  SELECT user_id,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
           - epoch_us(ts) AS g
  FROM events),
a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(g) AS HUGEINT) AS sg,
             CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS sgg
      FROM g WHERE g IS NOT NULL GROUP BY 1)
SELECT user_id, n_gaps,
       CAST(sg // n_gaps AS BIGINT) AS mean_gap_us,
       CAST((100000000 * (n_gaps * sgg - sg * sg)) // (sg * sg) AS BIGINT)
         AS cv2_x1e8,
       (100000000 * (n_gaps * sgg - sg * sg)) // (sg * sg) < 25000000
         AS bot_like
FROM a WHERE n_gaps >= 3 AND sg > 0
"""


def events_dow_hour(spark, sf_dir):
    # day-of-week × hour activity heatmap
    # (operators/stats.py::dow_hour_census): event count + exact bp
    # share per (weekday, hour) cell, weekday pinned to 0=Monday
    # (Spark weekday() / DuckDB isodow−1 — the dayofweek() conventions
    # of the two engines silently disagree and are avoided). Bounded
    # 168-cell aggregate; share windows over the aggregate only.
    return dow_hour_census(_t(spark, sf_dir, "events"))


DOW_HOUR_SQL = """
WITH c AS (SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow,
                  CAST(hour(ts) AS BIGINT) AS hour,
                  CAST(count(*) AS BIGINT) AS n_events
           FROM events GROUP BY 1, 2)
SELECT dow, hour, n_events,
       CAST((10000 * n_events) // (sum(n_events) OVER ()) AS BIGINT)
         AS share_bp
FROM c
"""


def events_key_skew(spark, sf_dir):
    # hot-key census (operators/stats.py::key_skew_census): the 10
    # heaviest user keys with exact counts, per-key and cumulative
    # stream share in bp — the human-readable face of the salting /
    # AQE skew policy (operators/skew.py). TakeOrdered cut; the total
    # broadcasts onto the 10 rows; windows touch the cut only.
    return key_skew_census(_t(spark, sf_dir, "events"))


KEY_SKEW_SQL = """
WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
             FROM events GROUP BY 1),
tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS t FROM per),
top AS (SELECT user_id, n_events FROM per
        ORDER BY n_events DESC, user_id LIMIT 10)
SELECT CAST(row_number() OVER (ORDER BY n_events DESC, user_id) AS BIGINT)
         AS rank,
       user_id, n_events,
       CAST((10000 * n_events) // tot.t AS BIGINT) AS share_bp,
       CAST((10000 * sum(n_events) OVER (ORDER BY n_events DESC, user_id
                                         ROWS UNBOUNDED PRECEDING)) // tot.t
            AS BIGINT) AS cum_share_bp
FROM top CROSS JOIN tot
"""


def events_burstiness(spark, sf_dir):
    # per-type temporal burstiness (operators/stats.py::
    # type_burstiness): busiest hour vs the type's own all-hours mean,
    # exact bp (10⁴ = flat) — the time-axis sibling of the per-word
    # burstiness text metric and the ingestion-autoscaler load number.
    # Two bounded aggregates; nothing re-reads the fact table.
    return type_burstiness(_t(spark, sf_dir, "events"))


BURSTINESS_SQL = """
WITH h AS (SELECT event_type, date_trunc('hour', ts) AS h,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
p AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(max(n) AS BIGINT) AS max_hour_events
      FROM h GROUP BY 1)
SELECT event_type, n_events, n_hours, max_hour_events,
       CAST((10000 * max_hour_events * n_hours) // n_events AS BIGINT)
         AS burst_bp
FROM p
"""


def events_user_diversity(spark, sf_dir):
    # behavioral-diversity census (operators/stats.py::user_diversity):
    # users bucketed by distinct event types touched, exact bp shares —
    # the engagement-breadth histogram separating single-feature users
    # from power users. Distinct projection → per-user count → bounded
    # histogram.
    return user_diversity(_t(spark, sf_dir, "events"))


USER_DIVERSITY_SQL = """
WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_types
        FROM d GROUP BY 1),
h AS (SELECT n_types, CAST(count(*) AS BIGINT) AS n_users
      FROM per GROUP BY 1)
SELECT n_types, n_users,
       CAST((10000 * n_users) // (sum(n_users) OVER ()) AS BIGINT)
         AS share_bp
FROM h
"""


def events_daily_cycle(spark, sf_dir):
    # daily-cycle strength (operators/stats.py::daily_cycle): lag-24h
    # autocorrelation of the hourly count series as signed exact r² bp
    # (DECIMAL(38,0) sums; pairs only where both hours have events) —
    # the dow_hour heatmap's single-number summary. Hourly groupBy +
    # tiny shifted self-join + 1-row aggregate.
    return daily_cycle(_t(spark, sf_dir, "events"))


DAILY_CYCLE_SQL = """
WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
                       CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1),
pairs AS (SELECT a.n AS x, b.n AS y
          FROM hourly a JOIN hourly b ON b.h = a.h + INTERVAL 24 HOURS),
agg AS (SELECT CAST(count(*) AS HUGEINT) AS np,
               CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM pairs)
SELECT CAST(np AS BIGINT) AS n_pairs,
       CAST(CASE WHEN np * sxy - sx * sy > 0 THEN 1
                 WHEN np * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS BIGINT)
         AS num_sign,
       CASE WHEN (np * sxx - sx * sx) > 0 AND (np * syy - sy * sy) > 0 THEN
         CASE WHEN np * sxy - sx * sy >= 0 THEN
           CAST((10000 * (np * sxy - sx * sy) * (np * sxy - sx * sy))
                // ((np * sxx - sx * sx) * (np * syy - sy * sy)) AS BIGINT)
         ELSE
           CAST(-((10000 * (np * sxy - sx * sy) * (np * sxy - sx * sy))
                // ((np * sxx - sx * sx) * (np * syy - sy * sy))) AS BIGINT)
         END
       END AS r2_bp
FROM agg
"""


def events_weekly_actives(spark, sf_dir):
    # weekly-active-users trend (operators/stats.py::weekly_actives):
    # per ISO week (ISO week-numbering YEAR pinned — Spark
    # extract(YEAROFWEEK) / DuckDB isoyear — so the Dec/Jan boundary
    # week is one row), distinct actives, volume, events-per-active
    # in exact milli-units. One distinct-count aggregate.
    return weekly_actives(_t(spark, sf_dir, "events"))


WEEKLY_ACTIVES_SQL = """
WITH per AS (SELECT CAST(isoyear(ts) AS BIGINT) AS iso_year,
                    CAST(weekofyear(ts) AS BIGINT) AS iso_week,
                    CAST(count(DISTINCT user_id) AS BIGINT) AS n_active,
                    CAST(count(*) AS BIGINT) AS n_events
             FROM events GROUP BY 1, 2)
SELECT iso_year, iso_week, n_active, n_events,
       CAST((1000 * n_events) // n_active AS BIGINT)
         AS events_per_active_x1000
FROM per
"""
