"""Detector & findings-store queries (the reference scanner's surface)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.relational import latest_per_group, scan_diff
from ..pipeline import extract
from ..sources.synth import synth_malformed_corpus
from ._common import PERSISTED, _t


def a6_dedup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("first_event"), F.count("*").alias("dup_count"))
    )


A6_SQL = """
SELECT user_id, event_type, min(event_id) AS first_event, count(*) AS dup_count
FROM events GROUP BY user_id, event_type
"""


def a8_summary(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.max("value").alias("max_value"),
    )


A8_SQL = """
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users, max(value) AS max_value
FROM events GROUP BY event_type
"""


def _scan_sets(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    prev = ev.filter(F.col("event_id") % 2 == 0).select("user_id", "event_type").distinct()
    curr = ev.filter(F.col("event_id") % 2 == 1).select("user_id", "event_type").distinct()
    return curr, prev


def a9_diff_new(spark, sf_dir):
    curr, prev = _scan_sets(spark, sf_dir)
    return scan_diff(curr, prev, ["user_id", "event_type"])["new"]


A9_NEW_SQL = """
SELECT DISTINCT user_id, event_type FROM events WHERE event_id % 2 = 1
EXCEPT
SELECT DISTINCT user_id, event_type FROM events WHERE event_id % 2 = 0
"""


def a9_diff_persistent(spark, sf_dir):
    curr, prev = _scan_sets(spark, sf_dir)
    return scan_diff(curr, prev, ["user_id", "event_type"])["persistent"]


A9_PERSISTENT_SQL = """
SELECT DISTINCT user_id, event_type FROM events WHERE event_id % 2 = 1
INTERSECT
SELECT DISTINCT user_id, event_type FROM events WHERE event_id % 2 = 0
"""


def a10_latest(spark, sf_dir):
    # project the three consumed columns BEFORE the rank-1 operator: the
    # max_by fast path carries the full row struct through its aggregate,
    # which defeats Catalyst's nested-column pruning at the scan (round 6
    # plan audit: ReadSchema listed all six event columns)
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    out = latest_per_group(ev, ["user_id"], [F.desc("ts"), F.desc("event_id")])
    return out.select("user_id", F.col("event_id").alias("latest_event"), F.col("ts").alias("latest_ts"))


A10_SQL = """
SELECT user_id, event_id AS latest_event, ts AS latest_ts
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
WHERE rn = 1
"""


def b1_regex_match(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").rlike(r"(?i)\bspark\b"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


B1_SQL = r"""
SELECT lang, count(*) AS n_docs FROM documents
WHERE regexp_matches(text, '(?i)\bspark\b') GROUP BY lang
"""


def b1_regex_hits(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.regexp_count(F.col("text"), F.lit("spark")).cast("long").alias("n_hits")
    ).filter(F.col("n_hits") > 0)


B1_HITS_SQL = r"""
SELECT doc_id, CAST(length(regexp_extract_all(text, 'spark')) AS BIGINT) AS n_hits
FROM documents WHERE length(regexp_extract_all(text, 'spark')) > 0
"""


_CORPUS_RULES = [
    ("CORPUS-SPARK-1", r"(?i)\bspark\b", "LOW"),
    ("CORPUS-JOINMERGE-2", r"join .* merge", "MEDIUM"),
    ("CORPUS-VECTOR-3", r"\bvector\b", "LOW"),
]


def b1_regex_relational(spark, sf_dir):
    # B1 as a pure-relational plan (same shape as
    # operators/regex_relational.py): the rule set is known at plan time, so
    # each pattern is a LITERAL rlike branch — foldable, compiled once by the
    # JVM — emitted as an array of matching rule structs and exploded.
    docs = _t(spark, sf_dir, "documents")
    branches = [
        F.when(
            F.col("text").rlike(pattern),
            F.struct(F.lit(rule_id).alias("rule_id"), F.lit(severity).alias("severity")),
        )
        for rule_id, pattern, severity in _CORPUS_RULES
    ]
    matched = F.filter(F.array(*branches), lambda m: m.isNotNull())
    return docs.select("doc_id", F.explode(matched).alias("m")).select(
        "doc_id", F.col("m.rule_id").alias("rule_id"), F.col("m.severity").alias("severity")
    )


B1_RELATIONAL_SQL = r"""
WITH rules(rule_id, pattern, severity) AS (VALUES
  ('CORPUS-SPARK-1', '(?i)\bspark\b', 'LOW'),
  ('CORPUS-JOINMERGE-2', 'join .* merge', 'MEDIUM'),
  ('CORPUS-VECTOR-3', '\bvector\b', 'LOW'))
SELECT doc_id, rule_id, severity
FROM documents, rules WHERE regexp_matches(text, pattern)
"""


def scalar_trace_roundtrip(spark, sf_dir):
    # the reference flattens traces with ' -> ' for storage and re-splits on
    # read (scanner.py:209, db.py:246-248) — the split/concat_ws scalar pair
    docs = _t(spark, sf_dir, "documents")
    joined = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " -> ")
    return docs.select(
        "doc_id",
        joined.alias("trace_flat"),
        F.size(F.split(joined, " -> ")).cast("long").alias("n_hops"),
    )


SCALAR_TRACE_SQL = """
SELECT doc_id,
       array_to_string(string_split(text, ' ')[1:5], ' -> ') AS trace_flat,
       CAST(length(string_split(array_to_string(string_split(text, ' ')[1:5], ' -> '), ' -> ')) AS BIGINT) AS n_hops
FROM documents
"""


def tier_error_rate(spark, sf_dir):
    # A5/parse-loss observability: every 5th-ish synthesized python file is
    # deliberately unparseable; the swallowed-tier-error stream must surface
    # exactly those files (reference would silently lose them,
    # scanner.py:183-185). Oracle = a pure predicate over documents.
    docs = _t(spark, sf_dir, "documents")
    res = extract(spark, synth_malformed_corpus(docs), run_id="errprobe", enable_interfile=False)
    PERSISTED.hold(spark, sf_dir, "tier_error_rate", res)
    total = docs.select(F.count("*").alias("n_files"))
    per_tier = (
        res.tier_errors
        .select(F.split("message", ":").getItem(0).alias("tier"))
        .groupBy("tier")
        .agg(F.count("*").cast("long").alias("n_errors"))
    )
    return per_tier.crossJoin(total).select(
        "tier",
        "n_errors",
        F.round(F.col("n_errors") / F.col("n_files"), 4).alias("error_rate"),
    )


TIER_ERROR_RATE_SQL = """
SELECT 'ast' AS tier,
       CAST(count(*) FILTER (WHERE doc_id % 5 = 3) AS BIGINT) AS n_errors,
       round(CAST(count(*) FILTER (WHERE doc_id % 5 = 3) AS DOUBLE) / count(*), 4) AS error_rate
FROM documents
"""


def where_used(spark, sf_dir):
    # A11 usage query shape on documents: docs mentioning 'customer' but not
    # 'table' (whole-word rlike + negative filter = usage minus declaration).
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").rlike(r"\bcustomer\b"))
        .filter(~F.col("text").rlike(r"\btable\b"))
        .select("doc_id", "lang")
    )


WHERE_USED_SQL = r"""
SELECT doc_id, lang FROM documents
WHERE regexp_matches(text, '\bcustomer\b') AND NOT regexp_matches(text, '\btable\b')
"""
