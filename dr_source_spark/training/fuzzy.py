"""Fuzzy string matching: q-gram-blocked edit-distance joins.

Entity resolution on NAMES (vendor strings, package names, author
fields) needs "equal up to typos" — an edit-distance join. The naive
form is an all-pairs nested loop with levenshtein() in the condition:
quadratic, the classic fuzzy-join scale killer. The standard scale
shape is BLOCK then VERIFY:

1. Reduce to DISTINCT strings (values repeat heavily in real columns;
   the join runs on the vocabulary, not the rows).
2. Block on shared character q-grams: explode each string's positional
   -agnostic 3-grams, equi-join on the gram, collect distinct candidate
   pairs. A hot gram blocks into one partition's worth of pairs, never
   the full cross product.
3. Cheap length prefilter (|len(a)-len(b)| <= max_dist is necessary
   for edit distance <= max_dist), then verify candidates with the
   built-in JVM levenshtein().

The operator's CONTRACT is "pairs sharing at least one 3-gram with
edit distance <= max_dist" — the blocking predicate is part of the
definition (exactly like the LSH-candidates + Jaccard-verify family),
which keeps the DuckDB oracle cell-exact: it states the same two
conditions declaratively. For strings shorter than the q-gram width
the gram is the whole string, so only identical short strings block
together; a true unblocked edit-distance join over short strings is
the all-pairs query this operator exists to avoid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _grams(col, q: int = 3):
    # positions 1..len-q+1; strings shorter than q contribute themselves
    n = F.greatest(F.length(col) - (q - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: col.substr(i, F.lit(q)))


def fuzzy_string_matches(df: DataFrame, col: str, max_dist: int = 2) -> DataFrame:
    """Distinct value pairs (a < b) sharing >= 1 q-gram with
    levenshtein(a, b) <= max_dist. Output: name_a, name_b, dist."""
    q = 3
    names = df.select(F.col(col).alias("name")).filter(F.col("name").isNotNull()).distinct()
    grams = names.select(
        "name", F.explode(F.array_distinct(_grams(F.col("name"), q))).alias("g")
    )
    right = grams.select(F.col("name").alias("name_b"), F.col("g").alias("_g"))
    cands = (
        grams.join(right, (F.col("g") == F.col("_g")) & (F.col("name") < F.col("name_b")))
        .select(F.col("name").alias("name_a"), "name_b")
        .distinct()
    )
    return (
        cands.filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= max_dist
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= max_dist)
    )
