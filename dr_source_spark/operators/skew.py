"""Skew handling for heavy-tailed repo sizes (SURVEY.md §4 R9).

Repos follow a heavy-tailed size distribution: one mega-repo must never pin
a single task. Two tools:

* ``repartition_by_size_buckets`` — pre-pass computes per-repo file counts,
  assigns small/medium/large buckets, and range-repartitions on
  (bucket, repo, path-hash-salt): large repos spread across many
  partitions, small repos stay co-located (cheap map-side locality for the
  per-repo aggregations that follow).
* ``salted_group_count`` — the generic two-phase salted aggregation used by
  finding canonicalization when a single key is hot.

AQE's skew-join splitting (enabled in session.py) covers the join side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def repo_size_buckets(files: DataFrame, medium: int = 1000, large: int = 100_000) -> DataFrame:
    """Per-repo file counts → (repo, n_files, bucket)."""
    counts = files.groupBy("repo").agg(F.count("*").alias("n_files"))
    return counts.withColumn(
        "bucket",
        F.when(F.col("n_files") >= large, F.lit("large"))
        .when(F.col("n_files") >= medium, F.lit("medium"))
        .otherwise(F.lit("small")),
    )


def repartition_by_size_buckets(
    files: DataFrame,
    num_partitions: int,
    medium: int = 1000,
    large: int = 100_000,
) -> DataFrame:
    """Spread large repos across partitions, keep small repos co-located.

    Salt granularity scales with bucket: small → salt 0 (one partition per
    repo hash), medium → 8-way, large → 64-way. The broadcast of the tiny
    bucket table costs nothing; the repartition is the shuffle we were
    going to do anyway before the detector stage.
    """
    buckets = repo_size_buckets(files, medium, large).select("repo", "bucket")
    salted = (
        files.join(F.broadcast(buckets), "repo", "left")
        .withColumn(
            "_salt",
            F.when(F.col("bucket") == "large", F.pmod(F.xxhash64("path"), F.lit(64)))
            .when(F.col("bucket") == "medium", F.pmod(F.xxhash64("path"), F.lit(8)))
            .otherwise(F.lit(0)),
        )
    )
    return salted.repartition(num_partitions, "repo", "_salt").drop("_salt", "bucket")


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


def salted_group_count(df: DataFrame, key_cols, salt_buckets: int = 16) -> DataFrame:
    """Two-phase count per key under skew: salted partial counts, then the
    final unsalted sum (hot keys spread over `salt_buckets` reducers)."""
    keys = list(key_cols)
    salted = df.withColumn("_salt", row_salt(salt_buckets, df.columns))
    partial = salted.groupBy(*keys, "_salt").agg(F.count("*").alias("_partial"))
    return partial.groupBy(*keys).agg(F.sum("_partial").cast("long").alias("n"))
