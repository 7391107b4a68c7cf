"""Data-layout planning operators: Z-order file manifests and
equi-depth column histograms.

Two planning primitives a 100 TB table maintenance loop runs constantly,
as deterministic, exactly-oracle-checkable queries:

* ``zorder_manifest`` — the dry-run of an OPTIMIZE ZORDER BY (a, b):
  interleave the bits of two bucketed dimensions into a Z-value (Morton
  order), range-chop the Z-space into target files, and emit the file
  manifest with min/max stats. Files built this way are simultaneously
  clustered on BOTH dimensions, so a point/range predicate on either one
  prunes most files (the min/max stats in the manifest are exactly what
  a format like Iceberg/Delta keeps per file to do that pruning).
* ``equidepth_histogram`` — optimizer-style column statistics: B buckets
  with ~equal row counts, tie-coalesced (all rows of one value land in
  one bucket, as in real engine NDV histograms). Built WITHOUT a global
  sort: distinct values are counted (a massive reduction at scale),
  globally ranked by the existing two-level ``global_prefix_sum``
  (operators/prefix.py — the only single-partition exchange is over the
  tiny bucket totals), and assigned bucket = rank * B div N by integer
  arithmetic both engines floor identically.

Everything is integer math over built-in expressions — no UDFs, no
floats in any grouping key — so the DuckDB oracles in
``queries/events.py`` compare cell-for-cell.

The reference has no layout/statistics surface; this extends the engine
along the at-scale-operations axis of the brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dr_source_spark.operators.prefix import global_prefix_sum


def interleave_bits(a: Column, b: Column, bits: int = 8) -> Column:
    """Morton/Z-value of two ``bits``-wide non-negative ints: bit i of
    ``a`` lands at position 2i+1, bit i of ``b`` at 2i. Pure integer
    div/mod arithmetic (no engine-specific bit intrinsics) so the exact
    expression transliterates to the SQL oracle."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + (F.floor(a / (1 << i)) % 2) * (1 << (2 * i + 1))
            + (F.floor(b / (1 << i)) % 2) * (1 << (2 * i))
        )
    return z.cast("long")


def zorder_manifest(
    events: DataFrame, dim_bits: int = 8, file_span: int = 256
) -> DataFrame:
    """(file_id, n_events, z_lo, z_hi, n_users, u_lo, u_hi, t_lo, t_hi):
    target-file manifest of a Z-order layout of ``events`` over
    (user-bucket, hour-bucket).

    Dimensions: u = pmod(user_id, 2^dim_bits), t = pmod(epoch-hour,
    2^dim_bits) — cyclic bucketing keeps both dimensions dense, which is
    what Z-order wants (sparse dimensions waste interleaved bits). pmod,
    not %: a negative user_id or pre-1970 timestamp under sign-preserving
    % would feed a negative bucket into the bit interleave and produce
    garbage Z-values and overlapping file stats. Each target file
    covers ``file_span`` consecutive Z-values; the emitted per-file
    min/max of BOTH raw dimensions is the pruning-stats payload a lakehouse
    manifest would carry, and directly shows the locality win: with
    interleaving, each file spans a narrow range of u AND of t.

    Scale shape: one projection + one groupBy(file_id) with full map-side
    combine — output rows = 2^(2*dim_bits)/file_span regardless of input
    size. The actual rewrite (repartitionByRange(file_id) + write) is a
    sort the engine would do ONCE per OPTIMIZE run; the manifest is the
    plan for it."""
    m = 1 << dim_bits
    u = F.pmod(F.col("user_id"), F.lit(m))
    t = F.pmod(F.floor(F.unix_timestamp("ts") / 3600), F.lit(m))
    z = interleave_bits(u, t, dim_bits)
    return (
        events.select(
            "user_id",
            u.alias("u"),
            t.alias("t"),
            (F.floor(z / file_span)).cast("long").alias("file_id"),
            z.alias("z"),
        )
        .groupBy("file_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("z").alias("z_lo"),
            F.max("z").alias("z_hi"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.min("u").cast("long").alias("u_lo"),
            F.max("u").cast("long").alias("u_hi"),
            F.min("t").cast("long").alias("t_lo"),
            F.max("t").cast("long").alias("t_hi"),
        )
    )


def with_hilbert_index(
    df: DataFrame, x_col: str, y_col: str, bits: int = 6, out_col: str = "hkey"
) -> DataFrame:
    """Append ``out_col`` = Hilbert-curve index of (``x_col``, ``y_col``)
    on a ``2^bits`` x ``2^bits`` grid (the standard xy2d recurrence:
    quadrant digit + rotate/flip per level, most-significant level
    first).

    Why Hilbert next to Morton (``interleave_bits``): consecutive Hilbert
    cells are always GRID-ADJACENT (|du| + |dt| = 1 — pytest-pinned as an
    exact law over the full grid), while the Z-curve teleports across
    quadrant seams (max jump 2^bits at the middle seam). Files cut from
    consecutive key ranges therefore never straddle a seam, which tightens
    the per-file min/max pruning stats at the quadrant boundaries.

    Plan shape: the recurrence updates (x, y, d) per level, so each level
    is its OWN ``select`` stage — Catalyst's CollapseProject keeps
    multi-referenced non-trivial aliases as separate Projects instead of
    substituting them, so the expression tree stays linear in ``bits``
    (the naive single-expression form grows ~8x per level). All integer
    div/mod arithmetic — no bit intrinsics — so the SQL oracle is a
    direct transliteration (chained CTEs, one per level). NULL inputs
    propagate to a NULL key (the manifest shows them as one visible NULL
    file, same convention as ``zorder_manifest``)."""
    n = 1 << bits
    keep = list(df.columns)
    out = df.select(
        *keep,
        F.col(x_col).cast("long").alias("_hx"),
        F.col(y_col).cast("long").alias("_hy"),
        F.lit(0).cast("long").alias("_hd"),
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = F.floor(F.col("_hx") / s) % 2
        ry = F.floor(F.col("_hy") / s) % 2
        quadrant = F.when(rx == 0, ry).otherwise(3 - ry)
        # rotate/flip: ry=1 keeps (x, y); ry=0 swaps, flipping both when
        # rx=1 — NULL x/y falls through every branch and stays NULL
        nx = (
            F.when(ry == 1, F.col("_hx"))
            .when(rx == 1, n - 1 - F.col("_hy"))
            .otherwise(F.col("_hy"))
        )
        ny = (
            F.when(ry == 1, F.col("_hy"))
            .when(rx == 1, n - 1 - F.col("_hx"))
            .otherwise(F.col("_hx"))
        )
        out = out.select(
            *keep,
            nx.cast("long").alias("_hx"),
            ny.cast("long").alias("_hy"),
            (F.col("_hd") + F.lit(s * s).cast("long") * quadrant).cast("long").alias("_hd"),
        )
    # a single-sided NULL (x NULL, y not) would otherwise leak a garbage
    # non-NULL digit through the rotation's otherwise-branches — mask the
    # key to NULL whenever EITHER input is NULL, matching the Z-order
    # convention (NULL rows form one visible NULL file)
    null_in = F.col(x_col).isNull() | F.col(y_col).isNull()
    return out.select(
        *keep,
        F.when(null_in, F.lit(None).cast("long")).otherwise(F.col("_hd")).alias(out_col),
    )


def hilbert_manifest(
    events: DataFrame, dim_bits: int = 6, file_span: int = 64
) -> DataFrame:
    """(file_id, n_events, h_lo, h_hi, n_users, u_lo, u_hi, t_lo, t_hi):
    target-file manifest of a HILBERT layout of ``events`` over
    (user-bucket, hour-bucket) — the seam-free sibling of
    ``zorder_manifest``.

    Same cyclic ``pmod`` bucketing as the Z-order manifest (negative ids
    / pre-epoch timestamps must land in [0, 2^bits) before the curve
    walk). With ``file_span = 4^k``, every aligned span of consecutive
    Hilbert keys is EXACTLY one 2^k x 2^k subsquare — so on a uniform
    grid each file's (u, t) bounding box is provably minimal for its
    cell count, which is the pruning-stats win over the Z-curve's
    seam-straddling files (pytest pins both laws).

    Scale shape: identical to ``zorder_manifest`` — one projection
    (``bits`` chained narrow Projects, no shuffle) + one map-side-combined
    groupBy(file_id); output rows = 4^dim_bits / file_span regardless of
    input size."""
    m = 1 << dim_bits
    u = F.pmod(F.col("user_id"), F.lit(m))
    t = F.pmod(F.floor(F.unix_timestamp("ts") / 3600), F.lit(m))
    keyed = with_hilbert_index(
        events.select("user_id", u.alias("u"), t.alias("t")), "u", "t", dim_bits, "h"
    )
    return (
        keyed.select(
            "user_id",
            "u",
            "t",
            "h",
            (F.floor(F.col("h") / file_span)).cast("long").alias("file_id"),
        )
        .groupBy("file_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("h").alias("h_lo"),
            F.max("h").alias("h_hi"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.min("u").cast("long").alias("u_lo"),
            F.max("u").cast("long").alias("u_hi"),
            F.min("t").cast("long").alias("t_lo"),
            F.max("t").cast("long").alias("t_hi"),
        )
    )


def equidepth_histogram(
    events: DataFrame, value_col: str = "value", buckets: int = 16, scale: int = 100
) -> DataFrame:
    """(bucket, n_rows, n_values, v_lo, v_hi): tie-coalesced equi-depth
    histogram of ``value_col``.

    Values are keyed by ``vk = round(value * scale)`` (the synthetic data
    is 2-decimal; a finer column just coalesces sub-resolution ties —
    documented, not silent: n_values counts the distinct keys). Pipeline:
    groupBy(vk) -> (cnt, min/max raw value); exclusive global rank of
    each vk via the two-level prefix sum over cnt; bucket = rank * B div
    N. All rows sharing a value share a bucket, so bucket counts deviate
    from N/B only at value-frequency boundaries — exactly how engine NDV
    histograms behave.

    Scale shape: the only full-data shuffle is groupBy(vk) (map-side
    combined, output = distinct-value count); the prefix sum's lone
    SinglePartition window is over its bucket totals (plan-gated in
    tests/test_plans.py for the underlying helper); N rides a broadcast
    1-row cross join, not a driver action."""
    # histograms cover NON-NULL values (null_count is a separate stat in
    # every engine's column statistics) — the filter is explicit here and
    # in the SQL oracle; without it, NULL keys would silently vanish in
    # the prefix join (join-on-NULL never matches) while the oracle kept
    # them: an engine-divergence class, not just a semantics choice.
    vk = F.round(F.col(value_col) * scale).cast("long")
    per_value = (
        events.where(F.col(value_col).isNotNull())
        .select(vk.alias("vk"), F.col(value_col).alias("_v"))
        .groupBy("vk")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.min("_v").alias("lo"),
            F.max("_v").alias("hi"),
        )
    )
    ranked = global_prefix_sum(per_value, "vk", "cnt", out_col="rank_excl")
    total = per_value.agg(F.sum("cnt").cast("long").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("bucket", F.expr(f"(rank_excl * {buckets}) div _n"))
        .groupBy("bucket")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_values"),
            F.min("lo").alias("v_lo"),
            F.max("hi").alias("v_hi"),
        )
    )

def range_partition_advice(
    events: DataFrame, value_col: str = "value", parts: int = 8, scale: int = 100
) -> DataFrame:
    """(partition, n_rows, n_values, v_lo, v_hi, skew_pct, max_value_rows,
    salt_factor): the equi-depth histogram wired into a repartitioning
    advisor — the exact version of what ``repartitionByRange``'s sampler
    guesses.

    Each row is one target range partition: ``v_lo``/``v_hi`` are its
    boundary values (feed them to a range partitioner), ``skew_pct`` is
    its relative load (100 = a perfectly balanced share; tie-coalescing
    means a heavy value can push its partition past 100 — exactly the
    skew a sampled partitioner discovers only at runtime), and
    ``salt_factor`` is the advisor's verdict on the partition's single
    heaviest value: ceil(max_value_rows * parts / N) — 1 means even the
    heaviest key fits a balanced share, k > 1 means that ONE key alone
    carries k shares and range partitioning cannot split it (identical
    sort keys are indivisible), so the consumer should salt it into k
    subkeys before the shuffle.

    All integer arithmetic (rank * parts div N assignment, ceil as
    (a*parts + N - 1) div N) over the same two-level prefix-sum rank as
    ``equidepth_histogram`` — no global sort, no sampling, no floats.
    Scale shape: identical to the histogram — the only full-data shuffle
    is the map-side-combined groupBy(vk); output rows = ``parts``."""
    vk = F.round(F.col(value_col) * scale).cast("long")
    per_value = (
        events.where(F.col(value_col).isNotNull())
        .select(vk.alias("vk"), F.col(value_col).alias("_v"))
        .groupBy("vk")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.min("_v").alias("lo"),
            F.max("_v").alias("hi"),
        )
    )
    ranked = global_prefix_sum(per_value, "vk", "cnt", out_col="rank_excl")
    total = per_value.agg(F.sum("cnt").cast("long").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("partition", F.expr(f"(rank_excl * {parts}) div _n"))
        .groupBy("partition")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_values"),
            F.min("lo").alias("v_lo"),
            F.max("hi").alias("v_hi"),
            F.max("cnt").cast("long").alias("max_value_rows"),
            F.max("_n").alias("_n"),
        )
        .select(
            "partition",
            "n_rows",
            "n_values",
            "v_lo",
            "v_hi",
            F.expr(f"(n_rows * 100 * {parts}) div _n").cast("long").alias("skew_pct"),
            "max_value_rows",
            F.expr(f"(max_value_rows * {parts} + _n - 1) div _n")
            .cast("long")
            .alias("salt_factor"),
        )
    )


def _ring_points(n_shards: int, vnodes: int) -> tuple[list[int], list[int]]:
    """The consistent-hash ring as two parallel sorted lists
    (positions, shard ids). Positions are the engine's shared 32-bit md5
    base hash of ``s{shard}:{vnode}`` — hashlib reproduces F.md5 /
    DuckDB md5 exactly, so the ring can be built ONCE driver-side (it is
    configuration, not data: n_shards * vnodes integers) and embedded as
    a literal in both the Spark expression and the SQL oracle."""
    import hashlib

    pts = sorted(
        (
            int(hashlib.md5(f"s{s}:{j}".encode()).hexdigest()[:8], 16),
            s,
        )
        for s in range(n_shards)
        for j in range(vnodes)
    )
    return [p[0] for p in pts], [p[1] for p in pts]


def ring_assign_expr(id_col: Column, n_shards: int, vnodes: int = 64) -> Column:
    """Consistent-hash ring assignment as a pure JVM expression: the doc
    hash's successor on the sorted ring (wrapping past the top), found by
    counting ring positions below the hash inside a literal array —
    O(ring size) per row with ZERO joins, which is the point: the ring is
    configuration-sized by definition, so shipping it as a literal beats
    any broadcast-join plan."""
    vhs, shards = _ring_points(n_shards, vnodes)
    h = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast("long")
    vh_arr = F.array(*[F.lit(v).cast("long") for v in vhs])
    sh_arr = F.array(*[F.lit(s).cast("long") for s in shards])
    idx = F.size(F.filter(vh_arr, lambda x: x < h))  # ring points below h
    wrapped = F.when(idx >= len(vhs), F.lit(0)).otherwise(idx)
    return F.element_at(sh_arr, wrapped + 1)


def reshard_plan(
    df: DataFrame,
    id_col: str,
    old_shards: int,
    new_shards: int,
    vnodes: int = 64,
) -> DataFrame:
    """Reshard movement census: when a cluster grows from ``old_shards``
    to ``new_shards``, how many rows must MOVE under (a) modulo
    placement (hash % N — the naive scheme: changing N remaps nearly
    everything) vs (b) a consistent-hash ring with ``vnodes`` virtual
    nodes per shard (only keys whose ring successor changes move —
    expectation ~1/new_shards). One row per strategy:
    (strategy, n_rows, n_moved, moved_bp). The number a capacity plan
    needs BEFORE the migration: moved rows are network + rewrite cost.

    Scale shape: one narrow projection computing four assignments as
    pure expressions (the ring is a literal — see ``ring_assign_expr``),
    one map-side-combinable 2x2 aggregate, zero joins, zero shuffles of
    data wider than the id hash."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    a = df.select(
        (h % old_shards != h % new_shards).alias("_mod_moved"),
        (
            ring_assign_expr(F.col(id_col), old_shards, vnodes)
            != ring_assign_expr(F.col(id_col), new_shards, vnodes)
        ).alias("_ring_moved"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("_mod_moved").cast("long")).cast("long").alias("_mm"),
        F.sum(F.col("_ring_moved").cast("long")).cast("long").alias("_rm"),
    )
    strategies = a.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("mod").alias("strategy"),
                    F.col("n_rows"),
                    F.col("_mm").alias("n_moved"),
                ),
                F.struct(
                    F.lit("ring").alias("strategy"),
                    F.col("n_rows"),
                    F.col("_rm").alias("n_moved"),
                ),
            )
        ).alias("s")
    ).select("s.strategy", "s.n_rows", "s.n_moved")
    return strategies.withColumn(
        "moved_bp",
        F.expr("CAST(CASE WHEN n_rows > 0 THEN 10000 * n_moved div n_rows END AS BIGINT)"),
    )


def snake_shard_plan(
    lineitem: "DataFrame", n_shards: int = 8
) -> "DataFrame":
    """LOAD-AWARE SHARD PLAN by snake (boustrophedon) assignment — the
    layout-planning complement of consistent-hash resharding (that one
    is key-stable; this one is load-balanced): suppliers ranked by
    exact-cent revenue descending, dealt into ``n_shards`` in snake
    order (1..N, then N..1, …) so each pass pairs a heavy pick with a
    light slot — the classic near-LPT heuristic that is fully
    deterministic and shuffle-expressible (greedy true-LPT is
    inherently sequential). Output is the per-shard LOAD CENSUS the
    planner reads: supplier count, load, exact share bp, and the
    balance ratio vs the ideal equal split in bp (10 000 = perfectly
    fair).

    Output: (shard, n_suppliers, load_cents, load_share_bp,
    vs_fair_bp).

    Scale shape: one narrow per-supplier aggregate, one rank window
    over that aggregate (bounded by supplier count, not line count),
    one ≤ n_shards merge.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    per = lineitem.groupBy("l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    w = Window.orderBy(F.desc("rev"), F.asc("l_suppkey"))
    n = int(n_shards)
    assigned = per.select(
        "rev",
        (F.row_number().over(w) - 1).alias("r0"),
    ).select(
        "rev",
        F.expr(
            f"CAST(CASE WHEN (r0 % {2 * n}) < {n} THEN r0 % {2 * n}"
            f" ELSE {2 * n - 1} - (r0 % {2 * n}) END AS BIGINT)"
        ).alias("shard"),
    )
    shards = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("rev").cast("long").alias("load_cents"),
    )
    return shards.select(
        "shard",
        "n_suppliers",
        "load_cents",
        F.expr(
            "CAST((10000 * load_cents) div (sum(load_cents) over ())"
            " AS BIGINT)"
        ).alias("load_share_bp"),
        F.expr(
            f"CAST((10000 * {n} * load_cents)"
            " div (sum(load_cents) over ()) AS BIGINT)"
        ).alias("vs_fair_bp"),
    )
