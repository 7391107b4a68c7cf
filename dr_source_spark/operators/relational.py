"""Relational operators around the findings store (SURVEY.md §2A A6, A8-A10).

Generic over any DataFrame so the driver harness can exercise them on the
synthetic tables; the pipeline applies them to findings/scan runs.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dedup_findings(findings: DataFrame, key: Sequence[str] = ("path", "line", "vuln_type", "message")) -> DataFrame:
    """A6 — global finding dedup (reference scanner.py:158,176-180).
    Plain dropDuplicates: Catalyst plans a hash aggregate with map-side
    partial dedup; AQE handles post-shuffle coalescing."""
    return findings.dropDuplicates(list(key))


def dedup_findings_salted(
    findings: DataFrame,
    key: Sequence[str] = ("path", "line", "vuln_type", "message"),
    salt_buckets: int = 16,
) -> DataFrame:
    """A6 under heavy key skew (mega-repos): two-phase salted dedup — a
    ROW-varying salt (see skew.row_salt: a key-derived salt would be
    constant per key and spread nothing; a full-row content hash varies
    and stays stable across stage retries), drop duplicates per salted
    group, then a final dedup on the true key. Phase 1 spreads a hot key
    over up to `salt_buckets` reducers."""
    from .skew import row_salt

    salted = findings.withColumn("_salt", row_salt(salt_buckets, findings.columns))
    phase1 = salted.dropDuplicates(list(key) + ["_salt"])
    return phase1.dropDuplicates(list(key)).drop("_salt")


def scan_diff(curr: DataFrame, prev: DataFrame, key: Sequence[str]) -> dict:
    """A9 — new/resolved/persistent sets between two runs
    (reference db.py:191-219 set algebra → anti/semi joins)."""
    kl = list(key)
    c = curr.select(kl).distinct()
    p = prev.select(kl).distinct()
    return {
        "new": c.join(p, kl, "left_anti"),
        "resolved": p.join(c, kl, "left_anti"),
        "persistent": c.join(p, kl, "left_semi"),
    }


def severity_histogram(findings: DataFrame) -> DataFrame:
    """A8 — severity histogram (reference cli.py:244-249)."""
    return findings.groupBy("severity").agg(F.count("*").alias("n"))


def latest_per_group(df: DataFrame, group: Sequence[str], order: List) -> DataFrame:
    """A10 — latest-scan-per-project pattern (reference db.py:253-297):
    row_number over a window, keep rank 1.

    Round-6 optimization note: two alternatives were built, measured
    equal, and REVERTED — max_by over the row struct plans as
    SortAggregate (it sorts the full input, saving nothing over the
    window), and a chained per-key extreme-aggregate + join-back form
    that re-scans the input once per sort key. At sf1 all three cost
    ~0.85 s: the floor is the single-row-group scan plus one pass of
    every row through a shuffle, which no rank-1 formulation removes.
    The window form stays because it is the simplest at the same cost;
    callers should project the consumed columns first (see a10_latest)."""
    w = Window.partitionBy(*group).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def where_used(files_df: DataFrame, class_name: str, ast_confirm: bool = False) -> DataFrame:
    """A11 — usage query: Java files whose content references
    ``class_name`` as a whole word, excluding the declaring file
    (reference core/usage.py:9-70; declaration = 'class <Name>').

    ast_confirm=True adds the reference's second phase: parse the (already
    rlike-filtered, tiny) candidate set and require a structural reference —
    a type usage, constructor call, or member receiver named ``class_name``
    — so string/comment mentions don't count. Predicate pushdown does the
    heavy lifting; the parser only ever sees candidates."""
    word = rf"\b{class_name}\b"
    decl = rf"\bclass\s+{class_name}\b"
    candidates = (
        files_df.filter((F.col("lang") == "java") | F.col("path").endswith(".jsp"))
        .filter(F.col("content").rlike(word))
        .filter(~F.col("content").rlike(decl))
    )
    if not ast_confirm:
        return candidates.select("repo", "path", "commit")

    from ..deploy import drop_zip_finders, ensure_shipped

    ensure_shipped(files_df.sparkSession)

    def confirm(batches):
        drop_zip_finders()

        import pandas as pd

        from ..parsers.javaparse import parse_java

        def references(node, out):
            if not isinstance(node, dict):
                return
            t = node.get("t")
            if t == "name" and node.get("id") == class_name:
                out.append(True)
            if t == "new":
                ctor = node.get("ctor") or {}
                if ctor.get("t") == "name" and ctor.get("id") == class_name:
                    out.append(True)
            for v in node.values():
                if isinstance(v, dict):
                    references(v, out)
                elif isinstance(v, list):
                    for x in v:
                        references(x, out)

        for pdf in batches:
            rows = []
            for repo, path, commit, content in zip(pdf["repo"], pdf["path"], pdf["commit"], pdf["content"]):
                try:
                    program = parse_java(content)
                except Exception:
                    continue
                hits: list = []
                references(program, hits)
                if hits:
                    rows.append({"repo": repo, "path": path, "commit": commit})
            yield pd.DataFrame(rows, columns=["repo", "path", "commit"]) if rows else pd.DataFrame(
                {c: pd.Series([], dtype="object") for c in ("repo", "path", "commit")}
            )
        drop_zip_finders()

    return candidates.select("repo", "path", "commit", "content").mapInPandas(
        confirm, "repo string, path string, commit string"
    )


def vuln_cooccurrence(findings: DataFrame) -> DataFrame:
    """Per-file vulnerability-type co-occurrence — the association-mining
    report a security team reads to find systemic patterns ("every file
    with a hardcoded secret also ships debug config"). One row per
    unordered type pair (type_a < type_b) with the count of files where
    BOTH types fire.

    Shape: distinct (repo, path, vuln_type) first — dedup before the
    join, so a file's 200 SQLi findings contribute ONE row — then a
    per-file self-equi-join on the file key (fan-out C(k,2) in the
    DISTINCT type count k per file, which is bounded by the catalog,
    not the finding count) and a narrow-pair count aggregate."""
    per_file = findings.select("repo", "path", "vuln_type").distinct()
    a, b = per_file.alias("a"), per_file.alias("b")
    return (
        a.join(
            b,
            (F.col("a.repo") == F.col("b.repo"))
            & (F.col("a.path") == F.col("b.path"))
            & (F.col("a.vuln_type") < F.col("b.vuln_type")),
        )
        .groupBy(
            F.col("a.vuln_type").alias("type_a"),
            F.col("b.vuln_type").alias("type_b"),
        )
        .agg(F.count("*").cast("long").alias("n_files"))
    )


def funnel_progress(
    events: DataFrame, steps: Sequence[str] = ("view", "click", "purchase")
) -> DataFrame:
    """Ordered funnel analysis: per user, the earliest timestamp at which
    each step was reached GIVEN the previous step had already happened
    (step k counts only events strictly after the user's step-k-1 time).
    Returns (user_id, ts_1..ts_N as 'ts_<step>', steps_completed) — the
    conversion report behind every product dashboard, and the same
    ordered-sequence pattern a curation pipeline uses for multi-stage
    document provenance.

    Shape: one conditional min-aggregate per step over a single
    groupBy(user) pass — min(ts) FILTER (event_type = step AND ts >
    prev) is not directly expressible in one pass because prev is itself
    an aggregate, so each step is a narrow self-aggregate joined back on
    user_id: N-1 broadcast-sized joins on (user, ts) pairs, never the
    event rows. Timestamps render as seconds-precision strings so any
    engine's value hash agrees."""
    base = events.select("user_id", "event_type", "ts")
    cur = (
        base.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias(f"_t0"))
    )
    for i, step in enumerate(steps[1:], start=1):
        nxt = (
            base.filter(F.col("event_type") == step)
            .join(cur.select("user_id", F.col(f"_t{i-1}").alias("_prev")), "user_id")
            .filter(F.col("ts") > F.col("_prev"))
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"_t{i}"))
        )
        cur = cur.join(nxt, "user_id", "left")
    completed = sum(
        (F.when(F.col(f"_t{i}").isNotNull(), 1).otherwise(0) for i in range(len(steps))),
        F.lit(0),
    )
    out_cols = [
        F.date_format(F.col(f"_t{i}"), "yyyy-MM-dd HH:mm:ss").alias(f"ts_{s}")
        for i, s in enumerate(steps)
    ]
    return cur.select("user_id", *out_cols, completed.cast("long").alias("steps_completed"))


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly retention cohorts: users grouped by the ISO week of their
    first event; for each (cohort_week, week_offset) the count of cohort
    users active in that week. The dataset-freshness report of any
    event pipeline. Returns (cohort_week 'yyyy-MM-dd', week_offset,
    n_users).

    Shape: first-event min per user (map-side combinable), distinct
    (user, week) activity projection, an equi-join on user_id, and a
    narrow count — no windows, no skew keys wider than a user id. Week
    truncation is ISO Monday-start in both Spark and DuckDB, so the
    oracle agrees on boundaries."""
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("_cohort")
    )
    active = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("_week")
    ).distinct()
    return (
        active.join(firsts, "user_id")
        .select(
            F.date_format("_cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("_week"), F.col("_cohort")) / 7).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


def hypertable_rollup(events: DataFrame) -> DataFrame:
    """TimescaleDB-style continuous-aggregate rollup: the events
    hypertable materialized at hour AND day granularity in one result,
    with the DAY level re-aggregated from the HOUR partials — the
    defining trick of continuous aggregates (coarse buckets never
    re-scan raw data; counts and decimal sums are re-aggregable
    partials). Returns (granularity, bucket_start, event_type, n_events,
    sum_value).

    Shape: one raw shuffle to hour buckets, then a tiny second aggregate
    over the hour PARTIALS to day buckets, unioned. At 100 TB the raw
    scan happens once; every coarser level costs |hour buckets| rows."""
    hour = (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("_b"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("_v"),
        )
    )
    day = (
        hour.groupBy(F.date_trunc("day", F.col("_b")).alias("_b"), "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("_v").alias("_v"),
        )
    )

    def fin(df, gran):
        return df.select(
            F.lit(gran).alias("granularity"),
            F.date_format("_b", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "n_events",
            F.round(F.col("_v").cast("double"), 4).alias("sum_value"),
        )

    return fin(hour, "hour").unionByName(fin(day, "day"))


def session_stats(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """(user_id, n_sessions, n_events, max_session_events,
    longest_session_secs): BATCH gaps-and-islands sessionization — the
    same strictly-greater 30-min gap rule as the streaming
    ``session_window`` operator (streaming/incremental.sessionize), so
    the two surfaces cannot disagree on what a session is.

    Islands: lag over (user, ts) marks a break where the gap exceeds
    ``gap_minutes``; a running sum of breaks numbers the sessions; two
    stacked aggregates produce per-user stats. Tied timestamps are safe:
    the break flags depend only on the sorted ts VALUES, so any tie
    order yields identical per-user statistics (both engines rely on
    this).

    Scale shape: both window specs share the (user_id) partitioning and
    the two groupBys cluster on supersets of it, so Catalyst plans ONE
    exchange for the whole query (plan-gated) — at 100 TB the events
    table shuffles exactly once."""
    # timestampdiff(MICROSECOND, ...), not unix_timestamp: the events
    # carry sub-second parts, and a floored-seconds diff disagrees with
    # the oracle's exact interval comparison right at the gap boundary
    # (1800.5 s is a break; floor(1800) is not). timestampdiff is also
    # wall-clock pure — it accepts TIMESTAMP and TIMESTAMP_NTZ alike
    # (unix_micros rejects NTZ, which is what parquet scans produce
    # here) and never consults the session timezone.
    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts")
    sess = (
        # NULL timestamps are dropped, not ordered: Spark sorts NULLS
        # FIRST ascending while DuckDB sorts NULLS LAST, so a NULL-ts
        # event would land in a different window position per engine —
        # and an unordered event has no defined session anyway
        events.select("user_id", "ts")
        .filter(F.col("ts").isNotNull())
        .withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull()
                | (F.expr("timestampdiff(MICROSECOND, prev, ts)") > F.lit(gap_us)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "sid",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count("*").alias("n_ev"),
        F.expr("timestampdiff(MICROSECOND, min(ts), max(ts)) div 1000000").alias("dur"),
    )
    return per.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("n_ev").cast("long").alias("n_events"),
        F.max("n_ev").cast("long").alias("max_session_events"),
        F.max("dur").cast("long").alias("longest_session_secs"),
    )


def zscore_outlier_counts(
    events: DataFrame, k: int = 3, scale: int = 10_000
) -> DataFrame:
    """(user_id, n_events, n_outliers): per-user count of events whose
    value sits more than ``k`` standard deviations from the user's own
    mean — the per-entity anomaly screen a metrics pipeline runs
    constantly, in EXACT integer arithmetic so both engines agree
    bit-for-bit on every flag.

    The z-test is squared to stay integer: with v the value in
    ``scale``-fixed-point (floor), n the user's event count, s1 = sum(v),
    s2 = sum(v^2),

        |v - s1/n| > k * sigma   <=>   (n*v - s1)^2 > k^2 * (n*s2 - s1^2)

    (multiply through by n^2; sigma^2 = (n*s2 - s1^2)/n^2). No sqrt, no
    floats past the initial fixed-point floor — the flag cannot straddle
    a rounding boundary between engines. int64 budget at scale=10^4:
    values up to ~10^3 and ~10^2 events/user put (n*v)^2 ~ 3e17 and
    k^2*(n*s2 - s1^2) ~ 3e18, inside int64 with ~3x headroom; a corpus
    with 100x more events per user needs scale=10^2.

    Scale shape: one window over user_id for (n, s1, s2) and a final
    groupBy on the same key — the events shuffle exactly once."""
    w = Window.partitionBy("user_id")
    # NULL values are dropped BEFORE the stats: count(*) would include a
    # NULL-v row while sum()/sum(v*v) skip it, silently biasing n against
    # s1/s2 (identically in both engines — consistent but wrong)
    base = events.filter(F.col("value").isNotNull()).select(
        "user_id", F.floor(F.col("value") * scale).cast("long").alias("v")
    )
    s = base.select(
        "user_id",
        "v",
        F.count("*").over(w).alias("n"),
        F.sum("v").over(w).alias("s1"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("s2"),
    )
    dev = F.col("n") * F.col("v") - F.col("s1")
    var_n2 = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    return (
        s.withColumn(
            "is_out", (dev * dev > F.lit(k * k) * var_n2).cast("int")
        )
        .groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.sum("is_out").cast("long").alias("n_outliers"),
        )
    )


def scd2_history(
    df: DataFrame, key: str, order_cols: Sequence, attrs: Sequence[str]
) -> DataFrame:
    """Type-2 slowly-changing-dimension snapshot from an event stream:
    each row becomes a versioned record valid [valid_from, valid_to)
    with valid_to = the next version's timestamp (NULL = current) and a
    1-based version number. The table-maintenance operator every
    warehouse runs to answer "what did this entity look like on date X"
    — at 100 TB it is one shuffle on the entity key (the two windows
    share the partition), and the output joins back to facts with a
    band join on (key, valid_from <= ts < valid_to).

    ``order_cols`` must totally order versions within a key (include a
    unique tie-break); its first element is the version timestamp
    COLUMN NAME, which becomes valid_from."""
    w = Window.partitionBy(key).orderBy(*[F.col(c).asc() for c in order_cols])
    ts_col = order_cols[0]
    return df.select(
        key,
        *attrs,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead(ts_col).over(w).isNull().alias("is_current"),
    )


def markov_transitions(events: DataFrame) -> DataFrame:
    """First-order transition profile over per-user event streams:
    counts and exact basis-point probabilities for event_type ->
    next-event_type steps (lag chain ordered by ts with the event_id
    tie-break — the same total order the CEP query uses). p_bp =
    10000 * c(a, b) div c(a, *). The sequence-statistics operator that
    feeds curriculum ordering and anomaly screens; one exchange for the
    lag window, then narrow-pair aggregates."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    steps = (
        events.select(
            "user_id",
            F.col("event_type").alias("t_from"),
            F.lead("event_type").over(w).alias("t_to"),
        )
        .filter(F.col("t_to").isNotNull())
    )
    per_pair = steps.groupBy("t_from", "t_to").agg(
        F.count("*").cast("long").alias("n_steps")
    )
    per_from = per_pair.groupBy(F.col("t_from").alias("_f")).agg(
        F.sum("n_steps").alias("_tot")
    )
    return (
        per_pair.join(F.broadcast(per_from), F.col("t_from") == F.col("_f"))
        .select(
            "t_from",
            "t_to",
            "n_steps",
            F.expr("(10000 * n_steps) div _tot").cast("long").alias("p_bp"),
        )
    )


def gap_fill_hourly(events: DataFrame) -> DataFrame:
    """Sparse-to-dense time series: hourly event counts PER TYPE with
    explicit zero rows for every missing hour across the corpus's
    [min, max] hour span — the densification step before rolling
    averages, anomaly models, or charting (a missing hour and a
    zero-activity hour are different facts; models need the zeros).

    Shape at scale: the event table only ever AGGREGATES (one
    map-side-combined shuffle to hourly counts); the dense frame is the
    cross product of two tiny dimensions — the hour calendar (built
    from the 1-row min/max aggregate via sequence()) and the distinct
    type list — so the intentional crossJoin is |types| x |hours|,
    never anything event-scale. The zero-fill is a left join of the
    dense frame onto the counts."""
    hour = F.date_trunc("hour", F.col("ts"))
    counts = events.groupBy(
        F.col("event_type").alias("_t"), hour.alias("_h")
    ).agg(F.count("*").cast("long").alias("_n"))
    bounds = events.agg(
        F.min(hour).alias("_mn"), F.max(hour).alias("_mx")
    )
    calendar = bounds.select(
        F.explode(F.expr("sequence(_mn, _mx, interval 1 hour)")).alias("hour")
    )
    types = events.select(F.col("event_type")).distinct()
    return (
        calendar.crossJoin(F.broadcast(types))
        .join(
            counts,
            (F.col("event_type") == F.col("_t")) & (F.col("hour") == F.col("_h")),
            "left",
        )
        .select(
            "event_type",
            "hour",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


def fingerprint_buckets(
    df: DataFrame, key_col: str, canon_cols: Sequence[str], n_buckets: int = 64
) -> DataFrame:
    """Anti-entropy table fingerprint: per-bucket row counts + checksum
    sums over a canonical '|'-joined string of the given columns,
    through the portable md5 hash base (first 8 hex nibbles as an
    integer — the family every sketch oracle reproduces). Two replicas
    compare n_buckets rows instead of re-reading the tables; a
    divergent bucket pinpoints where to diff.

    Checksum ADDITION is commutative, so the identical operator runs
    unchanged as a Structured Streaming aggregation — per-micro-batch
    state update IS the merge (the same law the CMS/HDR streaming
    queries pin)."""
    canon = F.concat_ws("|", *[F.col(c).cast("string") for c in canon_cols])
    h = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
    return (
        df.select((F.col(key_col) % n_buckets).alias("bucket"), h.alias("_h"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("_h").cast("long").alias("hash_sum"),
        )
    )


def funnel_latency(
    events: DataFrame, steps: Sequence[str] = ("view", "click", "purchase")
) -> DataFrame:
    """Conversion-latency profile for the ordered funnel: among users
    who completed EVERY step (per funnel_progress semantics — each step
    strictly after the previous one's earliest time), the exact
    distribution of end-to-end seconds (first-step time → last-step
    time): n, min, exact p50/p90 order statistics (index (n−1)·p div
    100 + 1 under (latency, user_id) order — the length_quantiles
    convention in pure integer arithmetic), max, and the truncated
    mean. Latencies are whole seconds (timestamps truncate to seconds
    first, matching funnel_progress's second-precision rendering).

    Scale shape: funnel_progress's per-user conditional-min joins, then
    one window rank over the per-USER latency table and a single-row
    aggregate. Output: exactly one row.
    """
    prog = funnel_progress(events, steps)
    first_c, last_c = f"ts_{steps[0]}", f"ts_{steps[-1]}"
    lat = (
        prog.filter(F.col("steps_completed") == len(steps))
        .select(
            "user_id",
            (
                F.unix_timestamp(F.to_timestamp(F.col(last_c)))
                - F.unix_timestamp(F.to_timestamp(F.col(first_c)))
            ).cast("long").alias("lat"),
        )
    )
    w = Window.orderBy("lat", "user_id")
    ranked = lat.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    return ranked.agg(
        F.max("_n").cast("long").alias("n_converted"),
        F.min("lat").cast("long").alias("min_sec"),
        F.max(
            F.when(F.col("_rn") == F.expr("((_n - 1) * 50) div 100 + 1"), F.col("lat"))
        ).cast("long").alias("p50_sec"),
        F.max(
            F.when(F.col("_rn") == F.expr("((_n - 1) * 90) div 100 + 1"), F.col("lat"))
        ).cast("long").alias("p90_sec"),
        F.max("lat").cast("long").alias("max_sec"),
        F.expr(
            "cast((cast(sum(lat) as decimal(38,0)) div count(1)) as long)"
        ).alias("mean_sec"),
    )


def peak_concurrency(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    duration_minutes: int = 30,
) -> DataFrame:
    """Sweep-line peak-overlap: treating every event as an active
    interval [ts, ts + duration), the maximum number of simultaneously
    active intervals per group and the earliest instant it is reached —
    the capacity-planning number (peak concurrent sessions, peak open
    connections, peak in-flight jobs) a groupBy count cannot produce.

    Half-open semantics are part of the contract: an interval ending at
    instant t is NOT active at t, one starting at t IS, so concurrency
    at any boundary instant t is exactly |starts ≤ t| − |ends ≤ t| and
    the function only increases at start boundaries. Boundaries are
    PRE-AGGREGATED per (group, instant) before the running sum, so tied
    timestamps contribute atomically — no intra-tie ordering ambiguity
    for either engine.

    Scale shape: one map-side-combinable groupBy over the ±1 boundary
    stream (2 rows per event, 3 narrow columns), then one sort-window
    per group over the AGGREGATED boundary table (|distinct instants|
    rows, not |events|), then a 1-row-per-group pick. The event table
    itself is never sorted.
    """
    g, t = F.col(group_col), F.col(ts_col)
    bounds = events.select(
        g.alias("grp"), t.alias("t"), F.lit(1).alias("ns"), F.lit(0).alias("ne")
    ).union(
        events.select(
            g.alias("grp"),
            (t + F.expr(f"INTERVAL {int(duration_minutes)} MINUTES")).alias("t"),
            F.lit(0).alias("ns"),
            F.lit(1).alias("ne"),
        )
    )
    agg = bounds.groupBy("grp", "t").agg(
        F.sum("ns").cast("long").alias("n_start"),
        F.sum("ne").cast("long").alias("n_end"),
    )
    w = Window.partitionBy("grp").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    run = agg.select(
        "grp",
        "t",
        (F.sum("n_start").over(w) - F.sum("n_end").over(w)).alias("conc"),
        F.sum("n_start").over(full).alias("_nev"),
        F.count(F.lit(1)).over(full).alias("_nin"),
    )
    pick = Window.partitionBy("grp").orderBy(F.desc("conc"), F.asc("t"))
    return (
        run.withColumn("_rk", F.row_number().over(pick))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("grp").alias(group_col),
            F.col("_nev").cast("long").alias("n_events"),
            F.col("_nin").cast("long").alias("n_instants"),
            F.col("conc").cast("long").alias("peak_concurrency"),
            F.col("t").alias("peak_at"),
        )
    )


def interval_union_time(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    duration_minutes: int = 30,
) -> DataFrame:
    """Sweep-line interval UNION: treating every event as an active
    interval [ts, ts + duration), the total covered time per group —
    overlaps counted ONCE — plus the number of maximal covered segments
    and the covered share of the group's overall span. The utilization
    complement of ``peak_concurrency`` (same boundary-stream build):
    peak answers "how high does overlap stack", this answers "how much
    of the timeline is touched at all" — SLA uptime, busy-time billing,
    sensor-coverage audits.

    Exact contract: all arithmetic in epoch MICROSECONDS (integer).
    Boundaries are pre-aggregated per (group, instant); running
    concurrency after applying the instant's own deltas decides whether
    the segment [t, next_t) is covered. A segment row where concurrency
    returns to 0 contributes nothing; components count covered rows
    whose previous row was uncovered. coverage_bp = covered·10⁴ div
    span (span = last boundary − first boundary > 0 whenever there is
    at least one event, since duration > 0).

    Scale shape: identical to peak_concurrency — one map-side-combinable
    groupBy over the ±1 boundary stream (2 narrow rows per event), one
    sort-window per group over the AGGREGATED instants table, then a
    1-row-per-group aggregate. The event table itself is never sorted.
    """
    g, t = F.col(group_col), F.unix_micros(F.col(ts_col).cast("timestamp"))
    dur_us = int(duration_minutes) * 60_000_000
    bounds = events.select(
        g.alias("grp"), t.alias("t"), F.lit(1).alias("ns"), F.lit(0).alias("ne")
    ).union(
        events.select(
            g.alias("grp"),
            (t + F.lit(dur_us)).alias("t"),
            F.lit(0).alias("ns"),
            F.lit(1).alias("ne"),
        )
    )
    agg = bounds.groupBy("grp", "t").agg(
        F.sum("ns").cast("long").alias("n_start"),
        F.sum("ne").cast("long").alias("n_end"),
    )
    w = Window.partitionBy("grp").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seq = Window.partitionBy("grp").orderBy("t")
    run = agg.select(
        "grp",
        "t",
        (F.sum("n_start").over(w) - F.sum("n_end").over(w)).alias("conc"),
        F.col("n_start"),
    ).select(
        "grp",
        "t",
        "conc",
        "n_start",
        F.lead("t").over(seq).alias("_next_t"),
        F.coalesce(F.lag("conc").over(seq), F.lit(0)).alias("_prev_conc"),
    )
    return run.groupBy("grp").agg(
        F.sum("n_start").cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("conc") > 0, F.col("_next_t") - F.col("t")).otherwise(0)
        ).cast("long").alias("covered_us"),
        F.sum(
            ((F.col("conc") > 0) & (F.col("_prev_conc") == 0)).cast("int")
        ).cast("long").alias("n_components"),
        (F.max("t") - F.min("t")).cast("long").alias("span_us"),
        F.expr(
            "CAST(sum(CASE WHEN conc > 0 THEN _next_t - t ELSE 0 END) * 10000"
            " div (max(t) - min(t)) AS BIGINT)"
        ).alias("coverage_bp"),
    ).withColumnRenamed("grp", group_col)


def sliding_distinct_actives(
    df: DataFrame, entity_col: str, ts_col: str, window_days: int = 7
) -> DataFrame:
    """Exact rolling distinct-actives — the 7-day DAU/WAU chart — per
    calendar day: (window_end, n_active, n_events) where n_active is the
    DISTINCT entity count over [window_end - days + 1, window_end] and
    n_events the event count over the same span. Distinct does NOT
    merge across subwindows (unlike sums, a window function cannot
    produce it), which is why engines fall back to approx_count_distinct
    here — this operator gets the exact number with bounded fanout
    instead.

    Scale shape: rows collapse to the (day, entity, n) grid first
    (map-side combinable); each grid row then fans out to at most
    ``window_days`` window-end days (a bounded explode, not a range
    join), and one groupBy(window_end) count_distinct finishes. Output
    days are clamped to the data's [min_day, max_day] (leading partial
    windows are reported — day 1's window is just day 1)."""
    daily = (
        df.select(
            F.to_date(F.col(ts_col)).alias("_d"),
            F.col(entity_col).alias("_e"),
        )
        .groupBy("_d", "_e")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    bounds = daily.agg(F.max("_d").alias("_mx"))
    fan = (
        daily.crossJoin(F.broadcast(bounds))
        .select(
            "_e",
            "_n",
            F.explode(
                F.expr(
                    f"filter(sequence(_d, date_add(_d, {window_days - 1})),"
                    " x -> x <= _mx)"
                )
            ).alias("window_end"),
        )
    )
    return fan.groupBy("window_end").agg(
        F.count_distinct("_e").cast("long").alias("n_active"),
        F.sum("_n").cast("long").alias("n_events"),
    )


def fd_violation_census(
    df: DataFrame, pairs: list[tuple[str, str]]
) -> DataFrame:
    """Approximate-functional-dependency audit: for each candidate
    determinant→dependent column pair, how far the data is from
    satisfying det → dep. Per pair: distinct determinant keys, keys
    with > 1 dependent value, rows OUTSIDE their key's majority
    dependent (the g3 error of FD discovery literature — minimum rows
    to delete for the FD to hold exactly), and the held share in basis
    points (``support_bp = (n_rows − n_violating_rows)·10⁴ div
    n_rows``). The schema-inference / DQ-contract primitive referential
    integrity can't see: "is lang really a function of source?".

    Exact contract: both columns are compared as strings (uniform census
    schema across pairs); NULL determinants carry no key and are
    excluded, NULL dependents participate as a distinct value. The
    majority pick breaks count ties on the smaller string, so the
    violation count is deterministic for any engine.

    Scale shape per pair: one map-side-combinable groupBy(det, dep),
    then a per-det sort-window over the aggregated (det, dep) grid
    (bounded by value-combination cardinality, not row count), then one
    1-row aggregate; pairs union at the end. The raw table is scanned
    once per pair — for a wide audit, run pairs in one pass by melting
    columns upstream.
    """
    outs = []
    for det, dep in pairs:
        grid = (
            df.select(
                F.col(det).cast("string").alias("k"),
                F.col(dep).cast("string").alias("v"),
            )
            .filter(F.col("k").isNotNull())
            .groupBy("k", "v")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        pick = Window.partitionBy("k").orderBy(
            F.desc("c"), F.asc_nulls_last("v")
        )
        per_key = (
            grid.withColumn("_rk", F.row_number().over(pick))
            .groupBy("k")
            .agg(
                F.sum("c").alias("_rows"),
                F.max(F.when(F.col("_rk") == 1, F.col("c"))).alias("_maj"),
                F.count(F.lit(1)).cast("long").alias("_nv"),
            )
        )
        outs.append(
            per_key.agg(
                F.lit(f"{det} -> {dep}").alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum((F.col("_nv") > 1).cast("int")).cast("long").alias(
                    "n_violating_keys"
                ),
                F.sum(F.col("_rows") - F.col("_maj")).cast("long").alias(
                    "n_violating_rows"
                ),
                F.sum("_rows").cast("long").alias("n_rows"),
                # numerator kept POSITIVE: Spark's div truncates toward
                # zero but DuckDB's // floors, so a negative intermediate
                # would diverge by 1
                F.expr(
                    "CAST(sum(_maj) * 10000 div sum(_rows) AS BIGINT)"
                ).alias("support_bp"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def audience_overlap(
    df: DataFrame, cat_col: str, entity_col: str
) -> DataFrame:
    """Exact pairwise audience-overlap matrix: for every unordered pair
    of categories, the distinct-entity intersection, both set sizes, and
    Jaccard in exact basis points — "how much do the click and purchase
    audiences overlap?", the cross-sell / cannibalization read a
    per-category count can't give.

    Exact contract: the incidence set is DISTINCT (category, entity)
    first, so activity volume never inflates overlap; pairs are
    unordered (cat_a < cat_b); jaccard_bp = n_both·10⁴ div
    (n_a + n_b − n_both) with one truncating division. Pairs with an
    empty intersection are REPORTED (zero is the interesting answer for
    a cannibalization question) via the category-pair product of the
    tiny totals frame.

    Scale shape: one distinct shuffle on (category, entity); the
    per-entity self-join fans out C(k, 2) in the DISTINCT category
    count k per entity — bounded by the category vocabulary, not event
    volume; totals and the pair spine are broadcast-sized.
    """
    inc = df.select(
        F.col(cat_col).alias("cat"), F.col(entity_col).alias("ent")
    ).filter(F.col("cat").isNotNull() & F.col("ent").isNotNull()).distinct()
    totals = inc.groupBy("cat").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = inc.alias("a"), inc.alias("b")
    both = (
        a.join(b, (F.col("a.ent") == F.col("b.ent")) & (F.col("a.cat") < F.col("b.cat")))
        .groupBy(F.col("a.cat").alias("cat_a"), F.col("b.cat").alias("cat_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ta = totals.select(F.col("cat").alias("cat_a"), F.col("n").alias("n_a"))
    tb = totals.select(F.col("cat").alias("cat_b"), F.col("n").alias("n_b"))
    spine = ta.join(F.broadcast(tb), F.col("cat_a") < F.col("cat_b"))
    return (
        spine.join(both, ["cat_a", "cat_b"], "left")
        .select(
            "cat_a",
            "cat_b",
            "n_a",
            "n_b",
            F.coalesce("n_both", F.lit(0)).cast("long").alias("n_both"),
            F.expr(
                "CAST(coalesce(n_both, 0) * 10000"
                " div (n_a + n_b - coalesce(n_both, 0)) AS BIGINT)"
            ).alias("jaccard_bp"),
        )
    )


def markov_stationary(
    events: DataFrame, iterations: int = 12, scale: int = 10**12
) -> DataFrame:
    """Stationary distribution of the first-order event-type chain —
    ``markov_transitions``'s fixed-point twin: where does a user stream
    spend its time in the limit? π is computed by ``iterations`` exact
    power-iteration steps in 64-bit fixed point (mass unit =
    ``scale``), π_{k+1}(j) = Σ_i (π_k(i)·n_ij) div tot_i, with the
    per-term truncating division pinned so any engine reproduces the
    same integers (the same arithmetic contract as
    operators/graph.pagerank_fixed_point). A type with no outgoing
    step (it only ever ends streams) gets a pinned self-loop (n=1,
    tot=1) so its mass is retained rather than silently destroyed.

    Scale shape: transition counts come from ONE distributed lag-window
    + narrow-pair aggregate over the event stream (same plan as
    markov_transitions); the iteration then runs on the TRANSITION
    MATRIX, whose size is |event-type domain|² — bounded by the value
    domain, not row count — so folding it on the driver is as
    scale-clean as the bisect-quantile bounds state. For a chain whose
    state space IS row-scale (e.g. per-entity graphs), use
    operators/graph.pagerank_fixed_point, whose distributed route
    (``_fixed_point_rank``) keeps the ranks as a node table instead.
    Output: (event_type, pi_fp) with Σ pi_fp ≤ scale (truncation
    leaks ≤ 1 unit per state per round — deterministic).
    """
    pairs = (
        markov_transitions(events)
        .select("t_from", "t_to", "n_steps")
        .collect()
    )
    states = sorted(
        r[0]
        for r in events.select(F.col("event_type")).distinct().collect()
    )
    n = {(r["t_from"], r["t_to"]): int(r["n_steps"]) for r in pairs}
    tot = {}
    for (a, _b), c in n.items():
        tot[a] = tot.get(a, 0) + c
    for s in states:
        if s not in tot:  # stream-terminal type: pinned self-loop
            n[(s, s)] = 1
            tot[s] = 1
    pi = {s: int(scale) // len(states) for s in states}
    for _ in range(int(iterations)):
        nxt = {s: 0 for s in states}
        for (a, b), c in n.items():
            nxt[b] += (pi[a] * c) // tot[a]
        pi = nxt
    rows = [(s, pi[s]) for s in states]
    return events.sparkSession.createDataFrame(
        rows, "event_type string, pi_fp long"
    )


def u_shape_attribution(
    events: DataFrame, conversion_type: str = "purchase"
) -> DataFrame:
    """Position-based (U-shaped) MULTI-TOUCH ATTRIBUTION in exact basis
    points: every conversion event distributes 10 000 bp of credit over
    the touch events in its journey — the touches after the user's
    previous conversion (or stream start) and strictly before this one,
    in the same (ts, event_id) total order every sequence operator
    here uses. The U: first and last touch get 4 000 bp each, the
    2 000-bp middle splits evenly by truncating division with the
    REMAINDER pinned to the earliest middle touch (so Σ credit ==
    10 000 per credited conversion — the law an attribution report
    must satisfy and independent float splits can't). Journeys of one
    touch take all 10 000; of two, 5 000 each; conversions with no
    touches credit nothing.

    Scale shape: two stacked per-user sort windows (journey id = count
    of prior conversions, then position/count within journey) — the
    sessionize plan shape — followed by one narrow groupBy(event_type).
    Output: (event_type, n_touches, n_conversions, credit_bp) per
    TOUCH type, conversions ranked by total credited basis points.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    conv = F.col("event_type") == conversion_type
    seq = events.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum(conv.cast("long"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("j"),
        conv.alias("is_conv"),
    ).withColumn("j", F.coalesce(F.col("j"), F.lit(0)))
    # journeys that actually END in a conversion
    ended = (
        seq.filter("is_conv")
        .select(F.col("user_id").alias("_eu"), F.col("j").alias("_ej"))
        .distinct()
    )
    touches = seq.filter(~F.col("is_conv")).join(
        ended,
        (F.col("user_id") == F.col("_eu")) & (F.col("j") == F.col("_ej")),
    ).drop("_eu", "_ej")
    wj = Window.partitionBy("user_id", "j").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pos = touches.select(
        "user_id",
        "j",
        "event_type",
        F.row_number().over(wj).alias("p"),
        F.count(F.lit(1)).over(
            wj.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    credit = pos.withColumn(
        "credit_bp",
        F.expr(
            "CASE WHEN n = 1 THEN 10000"
            " WHEN n = 2 THEN 5000"
            " WHEN p = 1 OR p = n THEN 4000"
            " ELSE 2000 div (n - 2)"
            " + (CASE WHEN p = 2 THEN 2000 % (n - 2) ELSE 0 END) END"
        ).cast("long"),
    )
    return (
        credit.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.countDistinct("user_id", "j").cast("long").alias("n_conversions"),
            F.sum("credit_bp").cast("long").alias("credit_bp"),
        )
    )


def path_rollup(findings: DataFrame) -> DataFrame:
    """Hierarchical DIRECTORY ROLLUP of findings — the "which subtree
    is riskiest" report a security dashboard renders as a treemap:
    every finding is credited to ALL its ancestor directories, so each
    prefix row aggregates its whole subtree. Per directory prefix:
    depth, total findings, distinct files, and CRITICAL-severity count.

    Semantics (pinned): prefixes come from '/'-split of ``path``; a
    path with no directory component contributes no rows (there is no
    subtree to credit); files are distinct (repo, path) pairs.

    Scale shape: the prefix explode fans each finding out by its path
    DEPTH (bounded by tree depth, not corpus size), then one
    groupBy(dir) with a distinct-file count — shuffle keyed on the
    directory prefix. Dimensionally the same plan as text n-gram
    census, applied to the path hierarchy."""
    pref = findings.select(
        "repo",
        "path",
        "severity",
        # NB sequence(1, 0) DESCENDS in Spark, so the depth-1 case must
        # short-circuit to an empty array, not an empty sequence
        F.explode(
            F.expr(
                "CASE WHEN size(split(path, '/')) > 1 THEN"
                " transform(sequence(1, size(split(path, '/')) - 1),"
                " d -> array_join(slice(split(path, '/'), 1, d), '/'))"
                " ELSE array() END"
            )
        ).alias("dir"),
    )
    return (
        pref.groupBy("dir")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_findings"),
            F.countDistinct("repo", "path").cast("long").alias("n_files"),
            F.sum((F.col("severity") == "CRITICAL").cast("long"))
            .cast("long")
            .alias("n_critical"),
        )
        .select(
            "dir",
            F.size(F.split("dir", "/")).alias("depth"),
            "n_findings",
            "n_files",
            "n_critical",
        )
    )


def trigram_paths(events: DataFrame) -> DataFrame:
    """Contiguous THREE-STEP sequence census over per-user event
    streams — the sequence-mining depth markov_transitions' pair
    profile can't see (a→b→a loops vs a→b→c progressions): every
    (t1, t2, t3) window in the (ts, event_id) total order, with counts
    and exact basis-point share of all trigrams. Cross-user windows
    never form (the lag window is per-user); a user needs ≥ 3 events
    to contribute.

    Scale shape: one per-user sort window (two leads), then a narrow
    triple-key count — the same plan family as markov_transitions with
    one more lag."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    tri = (
        events.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .filter(F.col("t3").isNotNull())
    )
    counted = tri.groupBy("t1", "t2", "t3").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wall = Window.partitionBy()
    return (
        counted.withColumn("_tot", F.sum("n").over(wall)).select(
            "t1",
            "t2",
            "t3",
            "n",
            F.expr("CAST((10000 * n) div _tot AS BIGINT)").alias("share_bp"),
        )
    )


def cooccurrence_lift(findings: DataFrame) -> DataFrame:
    """Association LIFT over per-file vulnerability-type co-occurrence
    — vuln_cooccurrence's normalized twin: lift(a, b) = P(a∧b) /
    (P(a)·P(b)) in exact basis points, (10⁴·N·n_ab) div (n_a·n_b)
    over the N files carrying at least one finding. 10⁴ =
    independence; above = the pair clusters in the same files (a
    systemic pattern), below = the types repel. Type counts use the
    same distinct-(repo, path, vuln_type) base and display-type
    semantics as vuln_cooccurrence, so the two reports reconcile
    row-for-row.

    Scale shape: the pair base is vuln_cooccurrence's bounded-fan-out
    self-join; the marginals are one narrow groupBy(type) broadcast
    back onto the pairs; N is a 1-row aggregate broadcast."""
    per_file = findings.select("repo", "path", "vuln_type").distinct()
    pairs = vuln_cooccurrence(findings)
    marg = per_file.groupBy(F.col("vuln_type").alias("t")).agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    n_files = per_file.select("repo", "path").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("t").alias("type_a"), F.col("n_t").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(marg.select(F.col("t").alias("type_b"), F.col("n_t").alias("n_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_files))
        .select(
            "type_a",
            "type_b",
            F.col("n_files").alias("n_both"),
            "n_a",
            "n_b",
            "n_total",
            F.expr(
                "CAST((10000 * n_total * n_files) div (n_a * n_b) AS BIGINT)"
            ).alias("lift_bp"),
        )
    )


def supplier_scorecard(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    late_days: int = 60,
) -> DataFrame:
    """Vendor SCORECARD — the composite per-supplier operations report
    a procurement team reviews: volume, revenue (exact cents), on-time
    performance and return rate in exact basis points, and a pinned
    revenue rank. late_bp counts lines shipped more than ``late_days``
    after the order date (the fulfillment-lag SLA this schema can
    express); return_bp counts 'R'-flagged lines; both are truncated
    (10⁴·k) div n shares over the supplier's own lines.

    Scale shape: one orderkey equi-join lineitem↔orders (both
    fact-sized — the q4-family shuffle join), one map-side-combinable
    groupBy(suppkey), the supplier dim broadcast in, one rank window
    over the per-SUPPLIER aggregate. Output: (s_suppkey, s_name,
    n_lines, revenue_cents, late_bp, return_bp, rev_rank).
    """
    joined = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        lineitem["l_orderkey"] == F.col("o_orderkey"),
    )
    per = joined.groupBy(F.col("l_suppkey").alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
        F.sum(
            (
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
                > int(late_days)
            ).cast("long")
        ).alias("n_late"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("n_ret"),
    )
    return (
        per.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            per["s"] == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            "n_lines",
            "revenue_cents",
            F.expr("CAST((10000 * n_late) div n_lines AS BIGINT)").alias(
                "late_bp"
            ),
            F.expr("CAST((10000 * n_ret) div n_lines AS BIGINT)").alias(
                "return_bp"
            ),
        )
        .withColumn("rev_rank", F.row_number().over(
            Window.orderBy(F.desc("revenue_cents"), F.asc("s_suppkey"))
        ).cast("long"))
    )


def dual_source_risk(
    lineitem: DataFrame, supplier: DataFrame, part: DataFrame
) -> DataFrame:
    """Supply-chain RESILIENCE census: per part brand, how much of the
    observed catalog is SINGLE-SOURCED — one supplier (and one
    supplier nation) across every shipment in the fact table? The
    procurement-risk report behind dual-sourcing mandates; supplier
    sets are OBSERVED from lineitem (the schema's ground truth for who
    actually supplied what). Shares in exact truncated bp.

    Scale shape: one distinct (part, supplier) projection of the fact
    table, the supplier and part dims broadcast in, two narrow
    aggregates (per part, then per brand). Output: (p_brand, n_parts,
    n_single_supplier, single_supplier_bp, n_single_nation,
    single_nation_bp).
    """
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    enriched = pairs.join(
        F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
        pairs["l_suppkey"] == F.col("s_suppkey"),
    )
    per_part = enriched.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_supp"),
        F.countDistinct("s_nationkey").cast("long").alias("n_nat"),
    )
    with_brand = per_part.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        per_part["l_partkey"] == F.col("p_partkey"),
    )
    return (
        with_brand.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum((F.col("n_supp") == 1).cast("long"))
            .cast("long")
            .alias("n_single_supplier"),
            F.sum((F.col("n_nat") == 1).cast("long"))
            .cast("long")
            .alias("n_single_nation"),
        )
        .select(
            "p_brand",
            "n_parts",
            "n_single_supplier",
            F.expr("CAST((10000 * n_single_supplier) div n_parts AS BIGINT)")
            .alias("single_supplier_bp"),
            "n_single_nation",
            F.expr("CAST((10000 * n_single_nation) div n_parts AS BIGINT)")
            .alias("single_nation_bp"),
        )
    )


def cadence_regularity(
    events: DataFrame, min_gaps: int = 3, bot_cv2_fp: int = 25000000
) -> DataFrame:
    """Per-user CADENCE REGULARITY — the bot-detection screen a
    curation/fraud pipeline runs on behavioral streams: squared
    coefficient of variation of inter-event gaps in exact 10⁸ fixed
    point, CV² = (n·Σg² − (Σg)²) div (Σg)² with gaps in exact
    MICROSECONDS (unix_micros / epoch_us — the lossless cross-engine
    carrier; whole-second truncation would alias sub-second bots).
    Human arrivals look Poisson-ish (CV² ≈ 10⁸); a timer-driven bot's
    near-constant gaps collapse CV² toward 0 — ``bot_cv2_fp`` flags
    below-threshold users. Sums carried in DECIMAL(38,0) ((Σg)²
    passes int64 within hours of activity).

    Scale shape: one per-user lag window (the sessionize plan shape),
    one groupBy(user) aggregate; users with < ``min_gaps`` gaps are
    excluded (CV of two points is noise). Output: (user_id, n_gaps,
    mean_gap_us, cv2_x1e8, bot_like).
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    # testdata ts is TIMESTAMP_NTZ; the session TZ is pinned UTC
    # (session.py), so the cast to TIMESTAMP is lossless and matches
    # DuckDB's epoch_us over the same naive values
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = (
        events.select(
            "user_id",
            (F.lead(us).over(w) - us).alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(F.col("g").cast("decimal(38,0)")).alias("sg"),
        F.sum(F.expr("CAST(g AS DECIMAL(38,0)) * g")).alias("sgg"),
    )
    return (
        agg.filter(
            (F.col("n_gaps") >= int(min_gaps)) & (F.col("sg") > 0)
        )
        .select(
            "user_id",
            "n_gaps",
            F.expr("CAST(sg div n_gaps AS BIGINT)").alias("mean_gap_us"),
            F.expr(
                "CAST((100000000 * (n_gaps * sgg - sg * sg))"
                " div (sg * sg) AS BIGINT)"
            ).alias("cv2_x1e8"),
        )
        .withColumn("bot_like", F.col("cv2_x1e8") < int(bot_cv2_fp))
    )


def repo_risk_scores(
    findings: DataFrame, weights: dict[str, int] | None = None
) -> DataFrame:
    """Per-repository RISK SCORECARD over the findings table — the
    triage view a security org actually ranks remediation by: finding
    count, affected-file count, and a severity-weighted risk score
    (CRITICAL 8 / HIGH 5 / MEDIUM 2 / LOW 1 by default, unknown
    severities floor-weighted at 1), with a pinned deterministic rank
    (risk desc, repo asc). The repo-level rollup beside the A8
    severity histogram (global) and the path-hierarchy rollup
    (directory-level).

    Scale shape: one narrow groupBy(repo) with map-side combine —
    message/trace columns never travel — and the rank window runs
    over the per-repo aggregate only (bounded by repo count, not
    finding count). Output: (repo, n_findings, n_files, risk_score,
    risk_rank).
    """
    weights = weights or {"CRITICAL": 8, "HIGH": 5, "MEDIUM": 2, "LOW": 1}
    w = F.coalesce(
        *[
            F.when(F.col("severity") == k, F.lit(int(v)))
            for k, v in weights.items()
        ],
        F.lit(1),
    ).cast("long")
    per = findings.groupBy("repo").agg(
        F.count(F.lit(1)).cast("long").alias("n_findings"),
        F.countDistinct("path").cast("long").alias("n_files"),
        F.sum(w).cast("long").alias("risk_score"),
    )
    return per.withColumn(
        "risk_rank",
        F.row_number()
        .over(Window.orderBy(F.desc("risk_score"), F.asc("repo")))
        .cast("long"),
    )


def trade_balance(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Per-nation TRADE BALANCE — each nation's revenue as a SUPPLIER
    versus as a BUYER over the same fact table, exact cents, plus the
    surplus and the supply-to-consumption ratio in truncated bp. The
    whole-matrix rollup of the q7 bidirectional nation-pair shape
    (q7 filters to one pair; this nets out every nation's two roles).

    Scale shape: two passes over a 2-column fact projection — the
    supplier leg joins one broadcast dim, the buyer leg rides the
    orderkey equi-join then a broadcast customer dim — then a
    nation-keyed merge of two ≤|nations| aggregates with the nation
    name broadcast in. Output: (n_name, supp_rev_cents,
    cust_rev_cents, balance_cents, supp_to_cust_bp).
    """
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    srev = (
        lineitem.select("l_suppkey", cents.alias("c"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.sum("c").cast("long").alias("supp_rev_cents"))
    )
    crev = (
        lineitem.select("l_orderkey", cents.alias("c"))
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.sum("c").cast("long").alias("cust_rev_cents"))
    )
    merged = (
        srev.join(crev, "nationkey", "full")
        .select(
            "nationkey",
            F.coalesce("supp_rev_cents", F.lit(0)).cast("long").alias(
                "supp_rev_cents"
            ),
            F.coalesce("cust_rev_cents", F.lit(0)).cast("long").alias(
                "cust_rev_cents"
            ),
        )
    )
    return (
        merged.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            merged["nationkey"] == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            "supp_rev_cents",
            "cust_rev_cents",
            (F.col("supp_rev_cents") - F.col("cust_rev_cents"))
            .cast("long")
            .alias("balance_cents"),
            F.expr(
                "CAST(CASE WHEN cust_rev_cents > 0 THEN"
                " (10000 * supp_rev_cents) div cust_rev_cents END AS BIGINT)"
            ).alias("supp_to_cust_bp"),
        )
    )


def segment_profile(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """MARKET-SEGMENT profile — the account-planning rollup over the
    one TPC-H dimension nothing else in the deck reads
    (c_mktsegment): per segment, customer count, order count,
    exact-cent revenue, the segment's revenue share in truncated bp,
    and the truncated mean order value. Distinguishes the big-segment
    /small-ticket and small-segment/big-ticket shapes a revenue
    headline hides.

    Scale shape: one orderkey-side aggregate is unnecessary — orders
    carry o_totalprice — so a single custkey equi-join onto a
    2-column customer projection, one bounded groupBy, shares
    windowed over the ≤|segments| aggregate. Output: (c_mktsegment,
    n_customers, n_orders, revenue_cents, revenue_share_bp,
    avg_order_cents).
    """
    j = orders.select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    ).join(
        customer.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    per = j.groupBy("c_mktsegment").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("c").cast("long").alias("revenue_cents"),
    )
    return per.select(
        "c_mktsegment",
        "n_customers",
        "n_orders",
        "revenue_cents",
        F.expr(
            "CAST((10000 * revenue_cents)"
            " div (sum(revenue_cents) over ()) AS BIGINT)"
        ).alias("revenue_share_bp"),
        F.expr("CAST(revenue_cents div n_orders AS BIGINT)").alias(
            "avg_order_cents"
        ),
    )


def return_outlier_suppliers(
    lineitem: DataFrame, factor: int = 2, min_lines: int = 20
) -> DataFrame:
    """VENDOR-QUALITY outlier screen: suppliers whose return rate runs
    more than ``factor``× the corpus-wide rate, the comparison kept
    cross-multiplied (n_returns·total_lines > factor·total_returns·
    n_lines — no rate is ever materialized) and volume-floored
    (≥ ``min_lines`` lines; a 1-of-2 returner is noise, not a
    signal). The population screen the per-supplier scorecard's
    return column feeds; output is ONLY the flagged suppliers, rate
    in exact bp beside the corpus rate for context.

    Output: (l_suppkey, n_lines, n_returns, return_bp,
    corpus_return_bp).

    Scale shape: one narrow per-supplier aggregate; the corpus totals
    ride a 1-row aggregate broadcast onto it (the RFM bounds
    pattern).
    """
    per = lineitem.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum((F.col("l_returnflag") == "R").cast("long"))
        .cast("long")
        .alias("n_returns"),
    )
    tot = per.agg(
        F.sum("n_lines").cast("long").alias("_tl"),
        F.sum("n_returns").cast("long").alias("_tr"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("n_lines") >= int(min_lines))
            & (
                F.col("n_returns") * F.col("_tl")
                > F.lit(int(factor)) * F.col("_tr") * F.col("n_lines")
            )
        )
        .select(
            "l_suppkey",
            "n_lines",
            "n_returns",
            F.expr("CAST((10000 * n_returns) div n_lines AS BIGINT)").alias(
                "return_bp"
            ),
            F.expr("CAST((10000 * _tr) div _tl AS BIGINT)").alias(
                "corpus_return_bp"
            ),
        )
    )


def catalog_breadth(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Supplier CATALOG BREADTH — generalist-vs-specialist census from
    observed shipments: per supplier, distinct parts supplied, the
    exact-bp share of the whole observed catalog that represents, and
    distinct brands touched. The sourcing-strategy profile
    (dual_source_risk asks "how many suppliers per part"; this is the
    transpose) with the catalog size broadcast as a 1-row aggregate.

    Output: (l_suppkey, n_parts_supplied, catalog_share_bp,
    n_brands).

    Scale shape: one distinct (supplier, part) projection of the fact
    table, the part dim broadcast in for brands, one narrow
    per-supplier aggregate.
    """
    pairs = lineitem.select("l_suppkey", "l_partkey").distinct()
    catalog = pairs.select(
        F.countDistinct("l_partkey").cast("long").alias("_cat")
    )
    per = (
        pairs.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            pairs["l_partkey"] == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(
            F.countDistinct("l_partkey").cast("long").alias("n_parts_supplied"),
            F.countDistinct("p_brand").cast("long").alias("n_brands"),
        )
    )
    return per.crossJoin(F.broadcast(catalog)).select(
        "l_suppkey",
        "n_parts_supplied",
        F.expr("CAST((10000 * n_parts_supplied) div _cat AS BIGINT)").alias(
            "catalog_share_bp"
        ),
        "n_brands",
    )


def brand_supplier_histogram(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """BRAND-EXCLUSIVITY histogram — dual_source_risk lifted to the
    brand level and inverted into a distribution: brands bucketed by
    how many distinct suppliers ship them (from observed shipments),
    with exact bp shares. The single-supplier bucket is the
    brand-level procurement exposure; a long right tail is commodity
    supply.

    Output: (n_suppliers_per_brand, n_brands, share_bp).

    Scale shape: one distinct (part, supplier) projection, the part
    dim broadcast in, one per-brand distinct count, one bounded
    histogram.
    """
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    per = (
        pairs.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            pairs["l_partkey"] == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").cast("long").alias(
                "n_suppliers_per_brand"
            )
        )
    )
    hist = per.groupBy("n_suppliers_per_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_brands")
    )
    return hist.select(
        "n_suppliers_per_brand",
        "n_brands",
        F.expr(
            "CAST((10000 * n_brands) div (sum(n_brands) over ()) AS BIGINT)"
        ).alias("share_bp"),
    )
