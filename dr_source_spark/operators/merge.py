"""CDC MERGE (upsert) classification, relationally.

The maintenance loop of every incrementally-loaded 100 TB table:
a new batch arrives and each existing row is kept, updated, or joined
by an insert — SQL's MERGE INTO. Without a transactional table format
the operator is still well-defined relationally, and its CLASSIFY half
(what would change) gives the audit artifact MERGE INTO never shows:
the per-key action census a reviewer signs before the write.

Shape at scale: one full-outer hash join on the key — the same single
shuffle MERGE INTO's join phase costs — then pure column logic. Change
detection compares a caller-supplied list of value columns exactly
(integers / exact decimals; floor floats to cents first). Deletes are
modeled the standard CDC way (an ``is_delete`` flag on the batch) rather
than by absence, because at 100 TB "absent from today's batch" almost
never means "deleted".

``operators/lineage.py`` gives the resume story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def classify_merge(
    existing: DataFrame,
    updates: DataFrame,
    key: str,
    value_cols: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """Per-key action census: ``insert`` (key only in the batch),
    ``update`` (both sides, any value column differs), ``delete``
    (batch row flagged), ``noop`` (both sides, all values equal).
    Existing keys absent from the batch produce no row — they are
    untouched, and at scale you never materialize a census of the
    whole table to process a day's batch.

    Output: key, action, old_/new_ value columns (NULL where absent).
    """
    ex = existing.select(
        F.col(key).alias("_k"),
        *[F.col(c).alias(f"old_{c}") for c in value_cols],
        F.lit(True).alias("_in_ex"),
    )
    up_cols = [F.col(key).alias(key), *[F.col(c).alias(f"new_{c}") for c in value_cols]]
    if delete_col is not None:
        up_cols.append(F.col(delete_col).alias("_del"))
    up = updates.select(*up_cols, F.lit(True).alias("_in_up"))
    j = up.join(ex, up[key] == ex["_k"], "full_outer")
    changed = None
    for c in value_cols:
        neq = ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        changed = neq if changed is None else (changed | neq)
    action = (
        F.when(F.col("_in_up").isNull(), F.lit(None).cast("string"))  # untouched
        .when(F.coalesce(F.col("_del"), F.lit(False)) if delete_col else F.lit(False), "delete")
        .when(F.col("_in_ex").isNull(), "insert")
        .when(changed, "update")
        .otherwise("noop")
    )
    return (
        j.select(
            F.coalesce(up[key], F.col("_k")).alias(key),
            action.alias("action"),
            *[F.col(f"old_{c}") for c in value_cols],
            *[F.col(f"new_{c}") for c in value_cols],
        )
        .filter(F.col("action").isNotNull())
    )


def maintain_group_agg(
    base_agg: DataFrame,
    delta: DataFrame,
    key: str,
    value_cents: str,
    delete_col: str,
) -> DataFrame:
    """Incremental view maintenance of a (key, n_rows, sum_cents) group
    aggregate under a CDC delta batch — WITHOUT rescanning the base
    table: each delta insert contributes (+1, +value), each delete
    RETRACTS (-1, -value), and the maintained view is the aggregate-merge
    of the base summary with the delta summary. Groups whose maintained
    count reaches zero drop out of the view (an aggregate row for an
    empty group is not "0", it is absent — matching what a recompute
    would produce). count and sum are self-maintainable; min/max are NOT
    (a retraction can expose an unknown runner-up) — that asymmetry is
    the textbook IVM boundary and deliberately out of scope here.

    Scale shape: the whole point — cost is O(|delta|) + O(|groups|), one
    map-side-combinable groupBy over the delta and one narrow-key merge
    groupBy, while the recompute it replaces rescans the full fact
    table. The oracle for this operator IS the recompute (base minus
    deletes plus inserts aggregated from scratch), so every driver run
    re-proves the maintenance algebra exactly."""
    d = delta.groupBy(F.col(key).alias("grp")).agg(
        F.sum(
            F.when(F.col(delete_col), F.lit(-1)).otherwise(F.lit(1))
        ).cast("long").alias("n_rows"),
        F.sum(
            F.when(F.col(delete_col), -F.col(value_cents)).otherwise(
                F.col(value_cents)
            )
        ).cast("long").alias("sum_cents"),
    )
    b = base_agg.select(
        F.col(key).alias("grp"),
        F.col("n_rows").cast("long"),
        F.col("sum_cents").cast("long"),
    )
    return (
        b.unionByName(d)
        .groupBy("grp")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
        )
        .filter(F.col("n_rows") > 0)
        .withColumnRenamed("grp", key)
    )
