"""Entity linking / canonicalization (north star, SURVEY.md §7 M7).

The same sink reached via multiple taint paths yields several findings on
the same (repo, path, category, line-span); canonicalization collapses them
to one canonical finding (the reference keeps the first by insertion order,
scanner.py:176-180 — here: deterministic min over (line, message, variable))
while recording the variant count.

Implemented as an order-independent `min(struct(...))` aggregate so the
skewed variant is a mechanical two-phase salted rollup: hot keys (one
mega-file with thousands of findings on one line-span) spread across
`salt_buckets` reducers in phase 1, exact final min/sum in phase 2.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_KEY = ["repo", "path", "commit", "base_type"]
_CANON_STRUCT = ["line", "message", "variable", "sink", "severity", "trace"]


def row_salt(salt_buckets: int, cols):
    """A ROW-varying, RETRY-DETERMINISTIC salt column for two-phase skewed
    aggregations over the given columns (pass every column of the frame).

    Two requirements pull in different directions:

    * The salt must vary across rows of the SAME grouping key — a salt
      derived from the key alone (hash(key) % buckets) is constant per key,
      so every row of a hot key still lands on one reducer and the
      'salting' is a no-op. Hashing the FULL row varies wherever any
      non-key column differs (for findings: path/line/message always do).
    * The salt must be identical when a task is recomputed —
      monotonically_increasing_id (used before round 3) changes its id
      assignment under partial stage retry, so a reducer that already
      fetched some map outputs could see rows move between salt groups and
      double-count or drop them. A content hash can't move.

    Residual caveat: rows that are byte-identical across ALL columns share
    a salt, so a hot key made of exact duplicate rows is spread only by the
    map-side partial aggregate (which collapses those duplicates to one
    partial row per partition before the shuffle — bounded either way)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(salt_buckets))


def _with_span(findings: DataFrame, line_span: int) -> DataFrame:
    return findings.withColumn("line_span", (F.col("line") / F.lit(line_span)).cast("long"))


def canonicalize_findings(
    findings: DataFrame,
    line_span: int = 1,
    salt_buckets: Optional[int] = None,
) -> DataFrame:
    """→ one row per (repo, path, commit, base_type, line_span):
    canonical finding fields + n_variants."""
    df = _with_span(findings, line_span)
    keys = _KEY + ["line_span"]
    canon = F.struct(*[F.col(c) for c in _CANON_STRUCT]).alias("_c")

    if not salt_buckets:
        agg = df.select(*keys, canon).groupBy(*keys).agg(
            F.min("_c").alias("_c"), F.count("*").alias("n_variants")
        )
    else:
        # row-varying salt over the full row (key + canonical struct): a
        # key-derived salt is constant per key and would leave the hot key
        # on a single reducer; hashing row content keeps the salt stable
        # across stage retries (see row_salt)
        pre = df.select(*keys, canon)
        salted = pre.withColumn("_salt", row_salt(salt_buckets, pre.columns))
        partial = salted.groupBy(*keys, "_salt").agg(
            F.min("_c").alias("_c"), F.count("*").alias("_n")
        )
        agg = partial.groupBy(*keys).agg(
            F.min("_c").alias("_c"), F.sum("_n").cast("long").alias("n_variants")
        )

    return agg.select(
        *_KEY,
        "line_span",
        F.col("_c.line").alias("line"),
        F.col("_c.message").alias("message"),
        F.col("_c.variable").alias("variable"),
        F.col("_c.sink").alias("sink"),
        F.col("_c.severity").alias("severity"),
        F.col("_c.trace").alias("trace"),
        "n_variants",
    )
