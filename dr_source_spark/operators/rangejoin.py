"""Range (interval) join — the second canonical missing-operator the
brief names next to as-of join.

Joining points to intervals (``lo <= v <= hi``) has no equi-key, so
Catalyst plans BroadcastNestedLoopJoin — an all-pairs scan that dies at
scale unless one side is tiny. The standard MPP rewrite is BUCKETIZATION:

  1. pick a bucket width W;
  2. explode each interval onto every W-bucket it overlaps
     (floor(lo/W) .. floor(hi/W) — the explode factor is bounded by
     interval_width/W + 2, so W is chosen near the typical interval
     width);
  3. each point lives in exactly ONE bucket (floor(v/W)), so the
     bucket equi-join meets every true (point, interval) pair exactly
     once — no post-join dedup;
  4. the residual ``lo <= v <= hi`` filter discards same-bucket
     non-overlaps.

One narrow shuffle per side on an integer bucket key; the plan contains
a hash/sort-merge equi-join, never a nested loop (plan-gated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_bucket_join(
    points: DataFrame,
    intervals: DataFrame,
    value_col: str = "v",
    bucket_width: float = 32.0,
) -> DataFrame:
    """All (point, interval) pairs with ``lo <= v <= hi``, as the join of
    both inputs' full rows. ``bucket_width`` trades interval-explode
    fan-out (width/W buckets per interval) against bucket selectivity;
    intervals must have lo <= hi (rows violating it match nothing)."""
    w = float(bucket_width)
    p = points.withColumn("_b", F.floor(F.col(value_col) / w).cast("long"))
    i = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / w).cast("long"),
                F.floor(F.col("hi") / w).cast("long"),
            )
        ),
    )
    return (
        p.join(i, "_b")
        .filter((F.col(value_col) >= F.col("lo")) & (F.col(value_col) <= F.col("hi")))
        .drop("_b")
    )
