"""Graph analytics over the constructed knowledge graph (edges tables of
any (src, dst) shape) — the operators a KG consumer runs AFTER
materialization: ranking (fixed-point global and personalized PageRank,
HITS, walk counts), components and reachability (alternating-star
components, BFS, weighted SSSP, k-core, k-truss), motif census
(triangles, 4-cycles, clustering, rich club), neighborhood sketches
(HyperBall), similarity (neighbor Jaccard, resource allocation) and
community structure (label propagation, modularity, conductance).

The operators are Spark jobs designed for 10^12-edge scale:
* every intermediate is an edge- or node-list (no adjacency matrices),
* per-iteration lineage truncation (``localCheckpoint`` — swap for a
  reliable ``checkpoint`` dir on a real cluster),
* deterministic arithmetic so a DuckDB oracle reproduces results exactly.

The normal form. An operator over "the undirected simple graph" reads
its input through `_undirected`: self-loops dropped, reversed and
parallel edges collapsed into one canonical pair ``(a, b)`` with
``a < b``; both engines agree on it by construction. `_adjacency` lists
each canonical edge both ways, `_degrees` counts a node's neighbors in
it, and `_endpoints` is the node set of an edge list. The directed
operators (HITS, walk counts, reciprocity) read the directed simple
graph, `_digraph`: distinct ``(src, dst)``, self-loops dropped.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

_D38 = "decimal(38,0)"

PAGERANK_SCALE = 10**12

# Observation metric names must be unique per SparkSession (a reused name
# on a new plan silently never completes) — monotonic suffix per call site
_OBS_SEQ = itertools.count()

# The small-graph rule, one for all seven driver routes (PageRank global
# and personalized, components, BFS, label propagation, triangles,
# 4-cycles, HyperBall), applied by `_small_graph` and read at call time
# (patch it to 0 to force the distributed route): the operator's own edge
# checkpoint observes its row count and its rows with a NULL endpoint in
# the checkpoint's own job, so no extra job decides. At most this many
# edges and no NULL endpoint, the edges come over Arrow and the identical
# algorithm runs on the driver instead of one fixed-cost Spark job per
# round (20 component rounds measured 8.2 s at sf0.1's 83 k edges, round
# 5). The wedge kernels (triangles, 4-cycles, HyperBall's exact balls)
# walk length-2 paths, so their driver cost grows with the wedges, not the
# edges: `_wedge_graph` also holds Σ_v d_v² over the undirected simple
# graph to this. That half is a size bound, not a speed crossover: Σ d² is
# at least twice the simple edges, so it caps the wedge work at the size
# the edge half admits. Measured on 4 cores (200 k random edges, warm),
# the driver route beat the distributed one at every load tried, Σ d²
# 1.2 M to 16.3 M (4-cycles 1.1 vs 14 s at 16.3 M); a kernel's peak
# traced allocation was at most ~70 bytes per unit of Σ d² (HyperBall,
# 83 MB at 1.2 M; 4-cycles 480 MB at 16.3 M), so ~140 MB at this bound.
# HyperBall's nodes on no edge never reach the driver. The distributed
# path is the DESIGN (a 100 TB near-dup graph has billions of edges).
# Both routes are pytest-gated identical.
DRIVER_CC_MAX_EDGES = 2_000_000


def _ckpt_observed(df: DataFrame, name: str, *metrics):
    """``localCheckpoint`` ``df`` and return it with ``metrics`` (named
    aggregates), read from an ``observe`` on the checkpoint's own job —
    no separate scalar job (round-3 postmortem: one per round dominated
    wall time at small scale)."""
    obs = Observation(f"{name}_{next(_OBS_SEQ)}")
    return df.observe(obs, *metrics).localCheckpoint(eager=True), obs.get


def _ckpt_counted(df: DataFrame, name: str):
    """`_ckpt_observed` with the row count."""
    df, got = _ckpt_observed(df, name, F.count(F.lit(1)).alias("n"))
    return df, int(got["n"])


def _collect_pairs(df: DataFrame) -> list:
    """Collect a 2-column DataFrame to the driver as a list of (a, b)
    tuples via the Arrow path (`toPandas`) — row-based ``collect()`` builds
    one Row object per record and measured ~4x slower at the 10^5-10^6-row
    sizes the graph driver paths handle (round 6). Null-free inputs only
    (`_small_graph` collects no edge list with a NULL endpoint); pandas
    would surface NULLs as NaN/None unchanged."""
    pdf = df.toPandas()
    a, b = pdf.columns[0], pdf.columns[1]
    return list(zip(pdf[a].tolist(), pdf[b].tolist()))


def _driver_frame(spark, rows, schema) -> DataFrame:
    """A driver route's result — a list of row tuples, or a dict of
    columns by name — as a DataFrame, over Arrow (a pandas frame, not a
    tuple list: near the 2M-edge threshold the pickle path would cost ~20
    s of driver serialization and hand the advantage back)."""
    import pandas as pd

    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.fieldNames()), schema)


def _long(name: str) -> StructField:
    """A long column of a driver route's hand-built result schema."""
    return StructField(name, LongType())


def _small_graph(df: DataFrame, name: str, *metrics):
    """The small-graph gate (see ``DRIVER_CC_MAX_EDGES``): checkpoint the
    (src, dst) edge list ``df``, observing ``n`` (rows), ``n_null`` (rows
    with a NULL endpoint) and ``metrics`` in the checkpoint's own job.
    Returns (checkpoint, metrics, pairs). ``pairs`` is the collected edge
    list when 0 < n <= DRIVER_CC_MAX_EDGES and no endpoint is NULL; the
    caller then unpersists the checkpoint when done with it. Otherwise
    ``pairs`` is None and the caller runs its distributed route on the
    checkpoint. A wedge kernel also passes ``pairs`` through
    `_wedge_graph`."""
    nulls = F.col("src").isNull() | F.col("dst").isNull()
    e, got = _ckpt_observed(
        df, name, F.count(F.lit(1)).alias("n"), F.count_if(nulls).alias("n_null"), *metrics
    )
    if not 0 < got["n"] <= DRIVER_CC_MAX_EDGES or got["n_null"]:
        return e, got, None
    return e, got, _collect_pairs(e)


def _simple_codes(pairs, ordered: bool = False):
    """(nodes, a, b): the distinct endpoints of ``pairs`` and the
    undirected simple graph as int64 positions in ``nodes``, a < b, each
    edge once. ``ordered`` sorts ``nodes`` as Spark orders them (Python
    orders str by code point, Spark by UTF-8 bytes: the same); it costs a
    sort of every node id, which only a kernel that compares ids needs."""
    import numpy as np
    import pandas as pd

    ends = pd.Series([s for s, _ in pairs] + [d for _, d in pairs], dtype=object)
    codes, nodes = pd.factorize(ends, sort=ordered)
    m, n = len(pairs), len(nodes)
    src, dst = codes[:m].astype(np.int64), codes[m:].astype(np.int64)
    loop = src == dst
    key = np.unique(np.minimum(src, dst)[~loop] * n + np.maximum(src, dst)[~loop])
    return nodes.tolist(), key // n, key % n


def _wedge_load(simple) -> int:
    """Σ_v d_v² over the undirected simple graph ``simple`` (`_simple_codes`):
    the bound on the length-2 paths a wedge kernel walks (2 × wedges +
    edges × 2)."""
    import numpy as np

    nodes, a, b = simple
    deg = np.bincount(np.concatenate([a, b]), minlength=len(nodes))
    return int((deg * deg).sum())


def _wedge_graph(pairs):
    """The wedge kernels' half of the gate: `_simple_codes` of the pairs
    `_small_graph` collected, built once for both the bound and the
    kernel, or None when ``pairs`` is None or `_wedge_load` is over
    ``DRIVER_CC_MAX_EDGES``."""
    if pairs is None:
        return None
    simple = _simple_codes(pairs)
    return simple if _wedge_load(simple) <= DRIVER_CC_MAX_EDGES else None


def _wedges(center, member, n: int):
    """(c, x, y): every pair of ``member`` entries that share a ``center``
    (the (center, member) rows of a simple adjacency over n nodes), once,
    x < y, with the center. Vectorized: the rows are grouped by center
    and each row pairs with every later row of its group."""
    import numpy as np

    order = np.lexsort((member, center))
    member, center = member[order], center[order]
    row = np.arange(len(member))
    after = np.cumsum(np.bincount(center, minlength=n))[center] - row - 1
    first = np.cumsum(after) - after
    partner = np.arange(int(after.sum())) - np.repeat(first - row - 1, after)
    return np.repeat(center, after), np.repeat(member, after), member[partner]


def _undirected(edges: DataFrame) -> DataFrame:
    """The normal form of (src, dst) edges: distinct (a, b), a < b."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )


def _digraph(edges: DataFrame) -> DataFrame:
    """The directed simple graph: distinct (src, dst), src != dst."""
    return edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()


def _adjacency(und: DataFrame) -> DataFrame:
    """(node, neigh): every (a, b) edge both ways. One pass over ``und``
    (an explode, not a union of two projections, which would plan the
    lineage of an uncheckpointed ``und`` twice)."""
    return und.select(
        F.inline(
            F.array(
                F.struct(F.col("a").alias("node"), F.col("b").alias("neigh")),
                F.struct(F.col("b").alias("node"), F.col("a").alias("neigh")),
            )
        )
    )


def _degrees(adj: DataFrame) -> DataFrame:
    """(node, d long) over an `_adjacency` list."""
    return adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))


def _endpoints(edges: DataFrame, also: DataFrame | None = None) -> DataFrame:
    """(node): the distinct endpoints of (src, dst) edges, plus the
    ``node`` column of ``also``, under one distinct. A union, not an
    explode: the optimizer then drops a distinct that ends ``edges``'
    own lineage (an explode kept it: +10 Exchanges in dedup_hyperball's
    plan)."""
    ends = edges.select(F.col("src").alias("node")).union(edges.select(F.col("dst").alias("node")))
    if also is not None:
        ends = also.select("node").union(ends)
    return ends.distinct()


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 10,
    scale: int = PAGERANK_SCALE,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank in 64-bit FIXED-POINT arithmetic: ranks are integers in
    ``scale`` units and every division is an integer floor (`div`), so the
    result (node, rank long) is bit-exact across engines and runs — float
    PageRank is non-associative across partition orders and can't be
    value-hashed. An empty graph gives an empty result.

    Global PageRank is personalized PageRank with every node a seed
    (Haveliwala, "Topic-Sensitive PageRank", WWW'02), bit for bit here:
    both operators run `_fixed_point_rank`. With S the seed set, initial
    mass ``scale // |S|`` sits on the seeds; per iteration each node sends
    rank*damping_pct//(100*out_deg) along each out-edge, dangling mass
    redistributes as a floored even share over S, and every seed adds the
    floored (1-d) base. The floors dissipate a ~1e-10 relative mass per
    iteration at the default scale — determinism is worth more. Raises
    ``ValueError`` when ``scale < 1000 * |S|`` (the shares collapse to 0)
    and, on both routes, when ``scale * damping_pct >= 2**63`` (rank ≤
    scale, so ``rank * damping_pct`` then fits a long).

    Scale: the distinct edge list is checkpointed once, its count an
    ``observe`` metric. Each iteration is one narrow equi-join (edges ×
    ranks) plus a map-side-combinable groupBy(dst) sum; the dangling mass
    is read from an ``observe`` metric on the iteration's own checkpoint,
    so each iteration is ONE Spark job (a separate scalar job per round
    doubled the per-iteration fixed cost at small scale — round-3
    postmortem). The seed flag is a boolean on the node table: broadcast
    -joined for personalized PageRank, a literal ``True`` here.

    Graphs at or under ``DRIVER_CC_MAX_EDGES`` edges run the same integer
    arithmetic in an int64 numpy loop on the driver — BIT-EXACT (integer
    sums are order-free; pytest parity gate) — instead of ``iterations``
    fixed-cost Spark jobs: kg_pagerank at sf0.1 measured 3.1–4.5 s
    distributed vs 1.47 s best-of-3 on the driver (round 5). Building the
    degree and node checkpoints before deciding the route cost 4 more
    jobs: 4.0 s for kg_pagerank over 180 k cached edge rows, of which the
    rank loop was under 0.5 s (round 6)."""
    return _fixed_point_rank(edges, None, iterations, scale, damping_pct)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 8,
    scale: int = PAGERANK_SCALE,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized PageRank (random walk with restart) — the seeded
    relevance query a KG consumer runs constantly ("rank every entity by
    exposure to THESE nodes"): ``pagerank_fixed_point`` with the seed set
    S = the ``node`` column of ``seeds``, so initial mass, restart base
    and dangling mass all go to the seeds only (all three exactly
    mirrored in the DuckDB oracle). Seeds outside the edge node set are
    ignored (they can neither send nor receive mass); an empty effective
    seed set raises ``ValueError``."""
    return _fixed_point_rank(edges, seeds, iterations, scale, damping_pct)


def _restart_base(ns: int, scale: int, damping_pct: int) -> int:
    """The floored (1-d) restart share per seed, after both routes' checks."""
    if ns == 0:
        raise ValueError("personalized_pagerank: no seed intersects the edge node set")
    if scale < ns * 1000:
        # fixed-point starvation: with < ~3 decimal digits of headroom per
        # seed the floored shares collapse to 0 and ranks stop moving
        raise ValueError(
            f"pagerank scale {scale} too small for {ns} seed nodes — use scale >= n * 1000"
        )
    return (scale * (100 - damping_pct)) // (100 * ns)


def _ppr_node_table(e: DataFrame, deg: DataFrame, seeds: DataFrame | None) -> DataFrame:
    """(node, dang, seed) for `_fixed_point_rank` — separate so the plan
    gate can inspect the PRE-checkpoint plan (after localCheckpoint the
    executed plan is a Scan ExistingRDD and every join assertion is
    vacuous). The seed flag joins as an explicit broadcast: the seed set
    is small by construction. ``seeds=None`` (global PageRank) makes
    every node a seed with a literal flag and no join."""
    nodes = _endpoints(e).join(
        deg.select(F.col("src").alias("node"), F.lit(False).alias("dang")), "node", "left"
    )
    if seeds is None:
        seed = F.lit(True)
    else:
        seed_nodes = seeds.select(F.col("node")).distinct().withColumn("seed", F.lit(True))
        nodes = nodes.join(F.broadcast(seed_nodes), "node", "left")
        seed = F.coalesce(F.col("seed"), F.lit(False))
    return nodes.select(
        "node", F.coalesce(F.col("dang"), F.lit(True)).alias("dang"), seed.alias("seed")
    )


def _fixed_point_rank(
    edges: DataFrame, seeds: DataFrame | None, iterations: int, scale: int, damping_pct: int
) -> DataFrame:
    """The one fixed-point rank loop; ``seeds=None`` makes every node a
    seed (global PageRank). See ``pagerank_fixed_point``."""
    # max(…, 1): with no damping the rank itself must still fit a long
    if scale * max(damping_pct, 1) >= 2**63:
        raise ValueError(
            f"pagerank scale {scale} * damping_pct {damping_pct} must stay under 2**63"
        )
    e, got, edge_rows = _small_graph(edges.select("src", "dst").distinct(), "pagerank_edges")
    empty = e.select(F.col("src").alias("node"), F.lit(0).cast("long").alias("rank"))
    if got["n"] == 0 and seeds is None:
        return empty
    if edge_rows is not None:
        e.unpersist()
        seed_set = None if seeds is None else {
            r[0] for r in seeds.select("node").distinct().collect()
        }
        ranks = _driver_rank(edge_rows, seed_set, iterations, scale, damping_pct)
        return _driver_frame(edges.sparkSession, ranks, empty.schema)
    deg = e.groupBy("src").agg(F.count("*").alias("d")).localCheckpoint(eager=True)
    # nodes carry a static `dang` flag (no out-edges) so the per-iteration
    # dangling-mass sum is a plain conditional aggregate over ranks itself
    nodes, got = _ckpt_observed(
        _ppr_node_table(e, deg, seeds), "pagerank_seeds", F.count_if("seed").alias("ns")
    )
    ns = int(got["ns"])
    base = _restart_base(ns, scale, damping_pct)
    dangling = F.sum(F.when(F.col("dang"), F.col("rank")).otherwise(0)).alias("dangling")
    ranks, got = _ckpt_observed(
        nodes.withColumn("rank", F.when(F.col("seed"), scale // ns).otherwise(0).cast("long")),
        "pagerank_dangling",
        dangling,
    )
    for _ in range(iterations):
        share = (int(got["dangling"]) * damping_pct) // (100 * ns)
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr(f"(rank * {damping_pct}) div (100 * d)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        new_ranks, got = _ckpt_observed(
            nodes.join(contrib, "node", "left").select(
                "node",
                "dang",
                "seed",
                (
                    F.when(F.col("seed"), F.lit(base + share)).otherwise(0)
                    + F.coalesce(F.col("contrib"), F.lit(0))
                )
                .cast("long")
                .alias("rank"),
            ),
            "pagerank_dangling",
            dangling,
        )
        ranks.unpersist()
        ranks = new_ranks
    return ranks.select("node", "rank")


def _driver_rank(edge_rows, seed_set, iterations: int, scale: int, damping_pct: int) -> list:
    """The driver route: `_fixed_point_rank`'s loop over int64 numpy
    arrays (``seed_set=None``: every node is a seed). The per-edge floored
    contribution is computed vectorized and summed per destination with
    ``np.add.reduceat`` over a dst-sorted edge order (precomputed once —
    the edge structure is iteration-invariant). ~20x the pure-Python
    loop's throughput at 10^5-10^6 edges (round-6 measurement). Both
    loops floor-divide nonnegative integers that fit int64 (the scale
    gate), so numpy's ``//`` is bit-identical to Python's — tested
    against `_rank_reference`."""
    import numpy as np

    node_list = sorted({s for s, _ in edge_rows} | {d for _, d in edge_rows})
    n = len(node_list)
    idx = {v: i for i, v in enumerate(node_list)}
    src = np.fromiter((idx[s] for s, _ in edge_rows), dtype=np.int64, count=len(edge_rows))
    dst = np.fromiter((idx[d] for _, d in edge_rows), dtype=np.int64, count=len(edge_rows))
    if seed_set is None:
        seed = np.ones(n, dtype=bool)
    else:
        seed = np.fromiter((v in seed_set for v in node_list), dtype=bool, count=n)
    ns = int(seed.sum())
    base = _restart_base(ns, scale, damping_pct)
    deg = np.bincount(src, minlength=n)
    dangling_mask = deg == 0
    order = np.argsort(dst, kind="stable")
    src_ord, dst_ord = src[order], dst[order]
    deg_ord = deg[src_ord]
    dst_unique, starts = np.unique(dst_ord, return_index=True)
    dp = np.int64(damping_pct)
    rank = np.where(seed, np.int64(scale // ns), np.int64(0))
    for _ in range(iterations):
        share = (int(rank[dangling_mask].sum()) * damping_pct) // (100 * ns)
        vals = (rank[src_ord] * dp) // (100 * deg_ord)
        contrib = np.zeros(n, dtype=np.int64)
        contrib[dst_unique] = np.add.reduceat(vals, starts)
        rank = np.where(seed, np.int64(base + share), np.int64(0)) + contrib
    return list(zip(node_list, rank.tolist()))


def _rank_reference(edge_rows, seed_set, iterations: int, scale: int, damping_pct: int) -> list:
    """`_fixed_point_rank`'s loop, line for line, in pure-Python integers
    (``seed_set=None``: every node is a seed) — kept only as the reference
    `_driver_rank` is tested against."""
    from collections import Counter, defaultdict

    deg = Counter(s for s, _ in edge_rows)
    node_list = sorted({s for s, _ in edge_rows} | {d for _, d in edge_rows})
    seeds = set(node_list) if seed_set is None else seed_set & set(node_list)
    ns = len(seeds)
    base = (scale * (100 - damping_pct)) // (100 * ns)
    rank = {v: (scale // ns if v in seeds else 0) for v in node_list}
    for _ in range(iterations):
        dangling = sum(rank[v] for v in node_list if v not in deg)
        share = (dangling * damping_pct) // (100 * ns)
        contrib = defaultdict(int)
        for s, d in edge_rows:
            contrib[d] += (rank[s] * damping_pct) // (100 * deg[s])
        rank = {v: (base + share if v in seeds else 0) + contrib[v] for v in node_list}
    return [(v, rank[v]) for v in node_list]


def _driver_union_find(rows) -> list:
    """(node, component-min) pairs, root excluded — the same contract as
    the converged star edge list. Python min = code-point order = Spark's
    binary string ordering, so labels match the distributed path.

    A vectorized numpy min-label-propagation variant was dropped: it
    measured ~3x SLOWER at the driver path's edge sizes (656 k random
    edges: 1.9 s vs 0.54 s, round 6) — ``np.ufunc.at`` is not a numpy
    fast path, while union-find touches each edge once."""
    parent = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min = {}
    for x in parent:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    return [(x, comp_min[find(x)]) for x in parent if x != comp_min[find(x)]]


def alternating_star_components(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Connected components by alternating large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    O(log n) rounds, each round two narrow-key groupBy shuffles, no
    driver-side graph state. Input (src, dst) of any orderable type mapped
    to itself; returns the final star edge list (node, root) with root =
    the component's MINIMUM node, root itself excluded.

    Convergence is detected by a deterministic content fingerprint (count +
    XOR of per-edge xxhash64 — internal only, never oracle-visible) read
    from an ``observe`` metric on the round's own checkpoint
    materialization — ONE Spark job per round, no separate fingerprint
    aggregate (round-3 postmortem: the extra scalar job per round dominated
    wall time at small scale). Each round is one large/small star pair
    between checkpoints: two un-checkpointed pairs per round MEASURED 3x
    SLOWER on the sf0.1 near-dup graph (82,791 edges: 3.4-6.0 s vs
    10.0-10.4 s, quiet box, round 5) — each star composes two
    self-unions, so two pairs roughly quadruple the logical plan Catalyst
    must optimize per job, which swamps the saved observe/checkpoint
    fixed cost. On a real cluster configure a reliable checkpoint dir.

    Inputs at or under ``DRIVER_CC_MAX_EDGES`` edges short-circuit
    to the driver union-find above (identical output, pytest-gated
    parity); with it, the full dedup_clusters pipeline at sf0.1 measures
    5.5 s best (8.2 s with 20 distributed rounds on the 83 k-edge
    graph), of which LSH candidate generation is 3.5 s and the jaccard
    verify 1.5 s — the component step is no longer the cost center."""
    return _star_components(edges, max_rounds)[0]


def _star_components(edges: DataFrame, max_rounds: int):
    """`alternating_star_components` and whether its output is a
    converged star (False when ``max_rounds`` ran out first)."""

    def star(df: DataFrame, large: bool) -> DataFrame:
        if large:
            sym = df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        else:
            sym = df.select(
                F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
            )
        mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
        mins = mins.select("src", F.least("src", "_mn").alias("_m"))
        joined = sym.join(mins, "src")
        if large:
            out = joined.filter(F.col("dst") > F.col("src")).select(
                F.col("dst").alias("src"), F.col("_m").alias("dst")
            )
        else:
            out = joined.select(F.col("dst").alias("src"), F.col("_m").alias("dst")).union(
                joined.select("src", F.col("_m").alias("dst"))
            )
        return out.filter(F.col("src") != F.col("dst")).distinct()

    xor = F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h")

    def _ckpt_with_fp(df: DataFrame):
        df, got = _ckpt_observed(df, "cc_fingerprint", F.count(F.lit(1)).alias("n"), xor)
        return df, (got["n"], got["h"])

    # no up-front .distinct(): the driver union-find dedups implicitly,
    # every star round ends in .distinct() anyway, and the fingerprint
    # only drives convergence detection (a raw-vs-round-1 false match
    # would need identical counts AND xor — impossible when dups were
    # dropped, astronomically unlikely otherwise). Saves one full shuffle
    # of the edge list per call (round 6).
    cur, got, pairs = _small_graph(edges.select("src", "dst"), "cc_fingerprint", xor)
    prev_fp = (got["n"], got["h"])
    if pairs is not None:
        cur.unpersist()
        return _driver_frame(edges.sparkSession, _driver_union_find(pairs), cur.schema), True
    for _ in range(max_rounds):
        if prev_fp[0] == 0:
            return cur, True
        nxt, fp = _ckpt_with_fp(star(star(cur, large=True), large=False))
        cur.unpersist()
        cur = nxt
        if fp == prev_fp:
            return cur, True
        prev_fp = fp
    return cur, False


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over the undirected simple
    graph (`_triangle_list`) — every node of the input appears,
    zero-filled.

    Scale shape (Suri & Vassilvitskii, "Counting Triangles and the Curse
    of the Last Reducer", WWW'11): each undirected edge is ORIENTED from
    its lower-(degree, id) endpoint to the higher, so wedges are always
    enumerated at their lowest-degree vertex — a celebrity node with 10^6
    neighbors never materializes its ~10^12 neighbor pairs. Every stage is
    an equi-join or a narrow groupBy (shuffle keys: node / (v1, v2));
    no all-pairs anywhere. Deterministic: ties in degree break on node id,
    so any ANSI engine reproduces the exact counts (the DuckDB oracle uses
    the orientation-free sorted-triangle 3-way join — same triangles).

    The (narrow) edge list is checkpointed ONCE on entry and the oriented
    edge list once more (in `_triangle_list`): the plan references edges ~8 times (nodes, the
    undirected/degree prep, and the o1/o2/closing join branches), so an
    expensive upstream — the LSH → jaccard-verify pipeline feeding
    dedup_triangles — would otherwise be recomputed per branch (measured
    14.7 s warm at sf0.1 before, 6.0 s after — the remainder is the one
    LSH → verify pass the query genuinely needs; identical output).

    Small graphs (the `_small_graph` gate, wedge bound included) count on
    the driver with `_driver_triangles` over the entry checkpoint: two
    Spark jobs per call instead of one per join stage."""
    e, _, pairs = _small_graph(edges.select("src", "dst"), "triangle_edges")
    simple = _wedge_graph(pairs)
    if simple is not None:
        e.unpersist()
        schema = StructType([StructField("node", edges.schema["src"].dataType), _long("n_triangles")])
        return _driver_frame(edges.sparkSession, _driver_triangles(*simple), schema)
    triangles = _triangle_list(_undirected(e))
    verts = (
        triangles.select(F.col("w0").alias("node"))
        .union(triangles.select("w1"))
        .union(triangles.select("w2"))
    )
    counts = verts.groupBy("node").agg(F.count("*").alias("n"))
    return _endpoints(e).join(counts, "node", "left").select(
        "node", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_triangles")
    )


def _driver_triangles(nodes: list, a, b) -> list:
    """(node, n_triangles) for every node of the simple graph (`_simple_codes`:
    every endpoint), zero-filled: `_triangle_list`'s degree-ordered
    orientation over int64 numpy arrays.
    A triangle is the one wedge at its lowest vertex whose two oriented
    out-neighbors are joined by an edge (looked up by ``searchsorted`` in
    the sorted edge keys)."""
    import numpy as np

    n = len(nodes)
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    a_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    u, x, y = _wedges(np.where(a_first, a, b), np.where(a_first, b, a), n)
    keys = a * n + b
    probe = np.minimum(x, y) * n + np.maximum(x, y)
    closed = keys[np.minimum(np.searchsorted(keys, probe), len(keys) - 1)] == probe
    tri = np.bincount(np.concatenate([u[closed], x[closed], y[closed]]), minlength=n)
    return list(zip(nodes, tri.tolist()))


def _triangle_list(und: DataFrame) -> DataFrame:
    """(w0, w1, w2): every triangle of the canonical undirected edge set
    ``(a, b)`` with a < b, enumerated ONCE each via a degree-ordered
    orientation (wedges form only at their lowest-(degree, id) vertex —
    a celebrity node never materializes its neighbor pairs; see
    ``triangle_counts``). Vertex order in the output row is
    orientation order, not sorted."""
    deg = _degrees(_adjacency(und))
    j = (
        und.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = j.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint(eager=True)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # wedge at u: pair (v1, v2) ordered by the SAME (deg, id) key the
    # orientation uses, so the closing edge (if any) is oriented v1 -> v2
    wedges = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u"))
        & (
            F.struct(F.col("o1.dv"), F.col("o1.v"))
            < F.struct(F.col("o2.dv"), F.col("o2.v"))
        ),
    ).select(
        F.col("o1.u").alias("w0"), F.col("o1.v").alias("w1"), F.col("o2.v").alias("w2")
    )
    closing = oriented.select(F.col("u").alias("w1"), F.col("v").alias("w2"))
    return wedges.join(closing, ["w1", "w2"])


def _edge_support(und: DataFrame) -> DataFrame:
    """(a, b, support) for every canonical edge: the number of triangles
    the edge closes (0-filled). Each triangle contributes to exactly its
    three edges via an in-plan explode — narrow keys, full map-side
    combine, no per-edge neighbor-set materialization."""
    tri = _triangle_list(und)
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("w0", "w1").alias("a"), F.greatest("w0", "w1").alias("b")
                ),
                F.struct(
                    F.least("w0", "w2").alias("a"), F.greatest("w0", "w2").alias("b")
                ),
                F.struct(
                    F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
                ),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    sup = tri_edges.groupBy("a", "b").agg(F.count("*").cast("long").alias("support"))
    return und.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support")
    )


def ktruss_edges(edges: DataFrame, k: int = 4, rounds: int = 3) -> DataFrame:
    """(a, b, support): the edges surviving ``rounds`` peeling iterations
    of k-truss decomposition — drop every edge in fewer than k-2
    triangles, recount, repeat — plus each survivor's triangle support
    within the FINAL surviving graph.

    Rounds-bound contract (the weighted_sssp convention): the result is
    exactly the ``rounds``-th peel iterate, so an unrolled SQL oracle
    reproduces it bit-for-bit; peeling is monotone (edge sets only
    shrink) and idempotent at the fixed point, so overshooting
    convergence re-derives the identical edge list — pytest pins
    fixpoint on the fixtures. The true k-truss is the fixed point;
    callers wanting it raise ``rounds`` (support only drops when an
    incident edge died last round, so diameter-many rounds suffice).

    Scale shape: each round is one degree-ordered triangle enumeration
    (the Suri-Vassilvitskii orientation — no celebrity blowup), one
    3-way explode + narrow (a, b) groupBy for supports, one equi-join
    filter. The shrinking edge list is checkpointed per round, so round
    r+1's plan starts from materialized data instead of r stacked
    enumerations."""
    und = _undirected(edges).localCheckpoint(eager=True)
    for _ in range(rounds):
        und = (
            _edge_support(und)
            .where(F.col("support") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    return _edge_support(und)


def weighted_sssp(
    edges: DataFrame, seeds: DataFrame, rounds: int = 4
) -> DataFrame:
    """Bounded single-source-shortest-path over INTEGER edge weights
    (Bellman-Ford relaxation): distance 0 at every seed, then ``rounds``
    synchronous sweeps of ``dist(v) = min(dist(v), min over (u,v,w) of
    dist(u) + w)`` over the symmetrized multigraph (parallel edges keep
    their minimum weight; self-loops dropped — they can never improve a
    distance). Returns (node, dist) for nodes reachable within
    ``rounds`` hops; after k sweeps dist is EXACTLY the cheapest path
    using <= k edges, so a SQL oracle unrolling the same k sweeps
    reproduces it bit-for-bit (the same bounded-iteration contract as
    label_propagation). Integer weights make every distance exact — no
    float accumulation to disagree on.

    Scale shape: per sweep one equi-join (edges x frontier distances, key
    = src node) + a min-groupBy on the destination — narrow keys, full
    map-side combine; the distance table is the only state and is
    checkpointed per sweep to truncate lineage. Weighted SSSP is the
    missing sibling of bfs_distances (hop counts) — 'how DISSIMILAR is
    the cheapest chain linking this node to the seed set', not 'how many
    links'."""
    e = edges.filter(F.col("src") != F.col("dst")).select("src", "dst", "w")
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        relax = sym.join(dist, sym["src"] == dist["node"]).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        new_dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        dist.unpersist()
        dist = new_dist
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


def _class_compress(edges: DataFrame, class_max_degree: int):
    """Structural-equivalence compression shared by the co-neighbor
    operators (neighbor_jaccard / resource_allocation): nodes with
    byte-identical neighbor sets collapse into one class, so every
    pair-level co-neighbor quantity (common count, degrees, weights,
    adjacency — see the proofs in neighbor_jaccard's docstring) is
    computed ONCE per class pair and members expand only into output
    rows. Node ids are dictionary-encoded to longs (checkpointed —
    retry-stable) so the wedge shuffles 16-byte pairs, not KG node
    strings. Class keys (the serialized sorted neighbor array —
    injective for long ids) are built only for nodes of degree ≤
    ``class_max_degree``: the array is an aggregation buffer and a
    10⁷-degree hub must not materialize one; higher-degree nodes stay
    singleton classes with no array. A graph without structural twins
    degrades to all-singleton classes, i.e. exactly the plain wedge.

    Returns (nodes, members, cls_info, cls_adj, adj, deg, und_ids):
    nodes = (node, nid) dictionary; members = (node=nid, cls, d);
    cls_info = (cls, d, m); cls_adj = distinct (cls, neigh-nid);
    adj/deg by nid; und_ids = the distinct undirected edges as (a, b)
    nids."""
    und = _undirected(edges).localCheckpoint(eager=True)
    nodes = (
        _adjacency(und)
        .select("node")
        .distinct()
        .withColumn("nid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    und_ids = (
        und.join(nodes.select(F.col("node").alias("a"), F.col("nid").alias("aid")), "a")
        .join(nodes.select(F.col("node").alias("b"), F.col("nid").alias("bid")), "b")
        .select(F.col("aid").alias("a"), F.col("bid").alias("b"))
    )
    adj = _adjacency(und_ids)
    deg = _degrees(adj)
    keyed = adj.join(deg, "node")
    small = (
        keyed.filter(F.col("d") <= class_max_degree)
        .groupBy("node", "d")
        .agg(F.concat_ws(",", F.sort_array(F.collect_list(F.col("neigh").cast("string")))).alias("_sig"))
    )
    cls_of_sig = small.groupBy("_sig").agg(F.min("node").alias("cls"))
    members = small.join(cls_of_sig, "_sig").select("node", "cls", "d").union(
        keyed.filter(F.col("d") > class_max_degree)
        .select("node", "d").distinct()
        .select("node", F.col("node").alias("cls"), "d")
    )
    cls_adj = (
        adj.join(members.select("node", "cls"), "node").select("cls", "neigh").distinct()
    )
    cls_info = members.groupBy("cls", "d").agg(F.count("*").alias("m"))
    return nodes, members, cls_info, cls_adj, adj, deg, und_ids


def neighbor_jaccard(
    edges: DataFrame,
    min_pct: int = 50,
    min_common: int = 2,
    max_hub_degree: int = 0,
    class_max_degree: int = 256,
) -> DataFrame:
    """Link-prediction / structural entity-resolution: neighbor-set
    Jaccard between every node pair sharing >= ``min_common`` neighbors
    over the undirected simple graph — "which entities occupy the same
    structural position" (two files with the same vuln profile, two
    weakness classes hitting the same files). This is the graph-side
    complement of content dedup: candidates come from SHARED STRUCTURE,
    not shared text. Returns (node_a, node_b, n_common, deg_a, deg_b,
    jaccard_pct) with node_a < node_b; jaccard_pct is the exact integer
    ``100 * |N(a) ∩ N(b)| div |N(a) ∪ N(b)|`` so any ANSI engine
    reproduces it bit-for-bit.

    Scale shape: pairs are enumerated ONLY at shared neighbors (a wedge
    join on the center node), never all-pairs, and the intersection size
    is a narrow groupBy — the same candidates-then-verify discipline as
    the LSH dedup family. A wedge center of degree d contributes C(d, 2)
    pairs — that is the true co-neighbor result, not an artifact, but a
    celebrity hub (a CWE node touching 10^7 files) would dominate the
    output with weak pairs, so ``max_hub_degree`` (0 = off) drops wedge
    CENTERS above the cap before the join. The drop is never silent: an
    in-plan ``observe`` metric (n_hub_centers / n_adj_rows_at_hubs)
    rides the result, the same non-silent-cap pattern as the LSH
    ``lsh_cap_drops`` metric. min_pct/min_common prune AFTER the exact
    counts, so they change the output rows, never the arithmetic.

    Round-6 restructure (output row-identical — symdiff 0 at sf0.1's
    1 002 191 rows — and pytest-gated):

    * the wedge runs over STRUCTURAL-EQUIVALENCE CLASSES: nodes with
      byte-identical neighbor sets collapse to one class (a KG where
      thousands of files carry the same vuln profile has huge classes;
      every pair-level quantity — n_common, degrees, jaccard — depends
      only on the class pair), so each class pair is counted ONCE and
      members expand only into the final output rows. On the 50 k-file
      corpus this takes the wedge from 7.6×10⁸ enumerated pairs (a
      >300 s census kill) to a few hundred class pairs; on a graph with
      no structural twins every class is a singleton and the shape
      degrades to exactly the old wedge. Class keys are built only for
      nodes of degree ≤ ``class_max_degree`` (the sorted-neighbor array
      is an aggregation buffer — a 10⁷-degree hub must not materialize
      one); higher-degree nodes stay singleton classes with no array;
    * node ids are dictionary-encoded to longs first (checkpointed so
      the mapping is retry-stable) — the wedge shuffles 16-byte pairs
      instead of repeated ~50-byte KG node strings, strings join back
      broadcast-style only on the output rows;
    * an exact pair-level degree prune rides the class-pair wedge:
      ``n_common ≤ least(da, db)`` and integer-div jaccard ≥ p together
      imply ``p·(da+db) ≤ (100+p)·least(da,db)`` — pairs failing it can
      never reach the output (floor(100n/u) ≥ p ⟺ 100n ≥ p·u for
      integer p), so mixed-degree garbage dies inside the join."""
    nodes, members, cls_info, cls_adj, adj, deg, und_ids = _class_compress(
        edges, class_max_degree
    )
    if max_hub_degree:
        hub = F.col("d") > max_hub_degree
        # observe rides the per-center degree table (one row per center),
        # where the drop metrics are plain sums — observe() rejects
        # DISTINCT aggregates, the same constraint the LSH cap hit
        center_deg = deg.observe(
            f"neighbor_jaccard_hub_drops_{next(_OBS_SEQ)}",
            F.sum(F.when(hub, 1).otherwise(0)).alias("n_hub_centers"),
            F.sum(F.when(hub, F.col("d")).otherwise(0)).alias("n_adj_rows_at_hubs"),
        )
        cls_adj = cls_adj.join(
            center_deg.filter(~hub).select(F.col("node").alias("neigh")), "neigh"
        ).select("cls", "neigh")
    cls_adj_d = cls_adj.join(
        cls_info.select("cls", "d", "m"), "cls"
    )
    x, y = cls_adj_d.alias("x"), cls_adj_d.alias("y")
    prune = (
        F.lit(min_pct) * (F.col("x.d") + F.col("y.d"))
        <= F.lit(100 + min_pct) * F.least(F.col("x.d"), F.col("y.d"))
    ) if min_pct else F.lit(True)
    cross = (
        x.join(
            y,
            (F.col("x.neigh") == F.col("y.neigh")) & (F.col("x.cls") < F.col("y.cls")) & prune,
        )
        .groupBy(F.col("x.cls").alias("ca"), F.col("y.cls").alias("cb"))
        .agg(
            F.count("*").alias("n_common"),
            F.max(F.col("x.d")).alias("deg_a"),
            F.max(F.col("y.d")).alias("deg_b"),
        )
        .filter(F.col("n_common") >= min_common)
    )
    # within-class pairs: every member shares the full (hub-filtered)
    # neighbor set, so n_common = the class's surviving neighbor count
    within = (
        cls_adj.groupBy("cls").agg(F.count("*").alias("n_common"))
        .join(cls_info.filter(F.col("m") >= 2), "cls")
        .filter(F.col("n_common") >= min_common)
        .select("cls", "n_common", F.col("d").alias("deg_a"), F.col("d").alias("deg_b"))
    )
    jacc = F.expr("CAST(100 * n_common AS BIGINT) div (deg_a + deg_b - n_common)")
    cross = cross.withColumn("jaccard_pct", jacc).filter(F.col("jaccard_pct") >= min_pct)
    within = within.withColumn("jaccard_pct", jacc).filter(F.col("jaccard_pct") >= min_pct)
    mem = members.select("cls", "node")
    cross_pairs = (
        cross.join(mem.select(F.col("cls").alias("ca"), F.col("node").alias("ia")), "ca")
        .join(mem.select(F.col("cls").alias("cb"), F.col("node").alias("ib")), "cb")
        .select("ia", "ib", "n_common", "deg_a", "deg_b", "jaccard_pct")
    )
    m1 = mem.select(F.col("cls").alias("_c"), F.col("node").alias("ia"))
    m2 = mem.select(F.col("cls").alias("_c"), F.col("node").alias("ib"))
    within_pairs = (
        within.withColumnRenamed("cls", "_c")
        .join(m1, "_c")
        .join(m2, "_c")
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", "n_common", "deg_a", "deg_b", "jaccard_pct")
    )
    pairs = cross_pairs.union(within_pairs)
    sa = nodes.select(F.col("nid").alias("ia"), F.col("node").alias("_sa"))
    sb = nodes.select(F.col("nid").alias("ib"), F.col("node").alias("_sb"))
    swap = F.col("_sa") <= F.col("_sb")
    return (
        pairs.join(sa, "ia")
        .join(sb, "ib")
        .select(
            F.least("_sa", "_sb").alias("node_a"),
            F.greatest("_sa", "_sb").alias("node_b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.when(swap, F.col("deg_a")).otherwise(F.col("deg_b")).cast("long").alias("deg_a"),
            F.when(swap, F.col("deg_b")).otherwise(F.col("deg_a")).cast("long").alias("deg_b"),
            F.col("jaccard_pct").cast("long").alias("jaccard_pct"),
        )
    )


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 6, undirected: bool = True
) -> DataFrame:
    """Minimum hop distance from ANY seed node: (node, hops), seeds at 0,
    nodes unreachable within ``max_hops`` absent.

    Frontier BFS: each round is one equi-join (symmetrized edges × current
    frontier) + an anti-join against the settled set — both narrow-key
    shuffles, no path enumeration (a recursive path walk is exponential on
    dense bipartite graphs; the frontier is bounded by the node set).
    Termination (empty frontier) reads an ``observe`` metric off the
    round's own checkpoint — one job per hop, same pattern as
    pagerank/components above.

    Graphs at or under ``DRIVER_CC_MAX_EDGES`` edges short-circuit to a
    driver BFS — min-hop labels are order-free, so the output is
    IDENTICAL (pytest parity gate); the distributed loop is the design
    for billions-edge graphs."""
    e = edges.select("src", "dst")
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))) if undirected else e
    sym, _, pairs = _small_graph(sym.distinct(), "bfs_edges")
    if pairs is not None:
        adj = {}
        for s, d in pairs:
            adj.setdefault(s, []).append(d)
        dist = {r[0]: 0 for r in seeds.select("node").distinct().collect()}
        frontier = list(dist)
        for hop in range(1, max_hops + 1):
            nxt = sorted(
                {d for s in frontier for d in adj.get(s, ())} - dist.keys()
            )
            if not nxt:
                break
            for v in nxt:
                dist[v] = hop
            frontier = nxt
        sym.unpersist()
        schema = seeds.select("node").withColumn("hops", F.lit(0).cast("long")).schema
        return _driver_frame(edges.sparkSession, list(dist.items()), schema)

    dist, _ = _ckpt_counted(
        seeds.select("node").distinct().withColumn("hops", F.lit(0)), "bfs_frontier"
    )
    frontier = dist
    for hop in range(1, max_hops + 1):
        cand = (
            sym.join(frontier, sym["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new, n_new = _ckpt_counted(
            cand.join(dist, "node", "left_anti").withColumn("hops", F.lit(hop)), "bfs_frontier"
        )
        if n_new == 0:
            break
        prev = dist
        dist, _ = _ckpt_counted(prev.union(new), "bfs_frontier")
        prev.unpersist()
        frontier = new
    return dist.select("node", F.col("hops").cast("long").alias("hops"))


def kcore_nodes(edges: DataFrame, k: int = 2, max_rounds: int = 16) -> DataFrame:
    """The k-core of the undirected simple graph over (src, dst): nodes
    surviving iterated removal of degree < ``k`` nodes, with their degree
    INSIDE the core — the "dense part" extractor a KG consumer runs to
    separate structurally-embedded entities from peripheral ones.

    Each peel round is one narrow groupBy (degrees) + two semi-joins
    (surviving endpoints) — no adjacency materialization; round count is
    read from an ``observe`` metric on the round's own checkpoint (one
    Spark job per round, the same pattern as the other iterative ops
    here). ``max_rounds`` BOUNDS the computation identically to the
    unrolled oracle: early stop happens only at a true fixpoint (edge
    count unchanged ⇒ no node was dropped), where further peels are the
    identity — so a bounded oracle that always unrolls ``max_rounds``
    rounds computes the same result. Worst-case full peeling of a path
    graph needs ~n/2 rounds; callers on chain-heavy graphs should raise
    ``max_rounds`` (and their oracle's unroll) together."""
    cur, n_edges = _ckpt_counted(_undirected(edges), "kcore_edges")
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        alive = _degrees(_adjacency(cur)).filter(F.col("d") >= k).select("node")
        nxt, n_new = _ckpt_counted(
            cur.join(alive.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b"),
            "kcore_edges",
        )
        cur.unpersist()
        cur = nxt
        if n_new == n_edges:
            break
        n_edges = n_new
    return (
        _degrees(_adjacency(cur))
        .filter(F.col("d") >= k)
        .select("node", F.col("d").alias("core_degree"))
    )


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label propagation (community detection) over the
    undirected simple graph: every node starts labeled with its own id;
    each round a node adopts the most frequent label among its neighbors,
    ties broken by the MINIMUM label — fully deterministic, unlike classic
    async LPA. Runs a FIXED ``rounds`` sweeps (no convergence check) so a
    bounded SQL oracle unrolling the same rounds reproduces it exactly.
    Returns (node, label).

    Per round: one equi-join (symmetrized edges × labels) + a
    (node, label) count + a per-node argmax window — all narrow-key
    shuffles; labels are node ids, so no state beyond the label table
    exists, and the table is checkpointed per round to truncate lineage.

    The node set comes from the UNFILTERED endpoints: a node whose only
    edges are self-loops has no neighbors in the simple graph and keeps
    its own label — but it must still get a row ("every node
    starts labeled with its own id"), so such nodes are appended after
    the sweeps rather than silently omitted.

    Small graphs (the `_small_graph` gate) run the same sweeps on the
    driver (`_driver_label_propagation`): two Spark jobs per call instead
    of ~6 per round."""
    e, _, pairs = _small_graph(edges.select("src", "dst"), "lpa_edges")
    if pairs is not None:
        e.unpersist()
        t = edges.schema["src"].dataType
        schema = StructType([StructField("node", t), StructField("label", t)])
        return _driver_frame(edges.sparkSession, _driver_label_propagation(pairs, rounds), schema)
    adj = _adjacency(_undirected(e)).localCheckpoint(eager=True)
    labels = (
        adj.select("node")
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        neigh = (
            adj.join(labels.withColumnRenamed("node", "neigh"), "neigh")
            .select("node", "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("_c"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("_c"), F.asc("label"))
        new_labels = (
            neigh.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
        labels.unpersist()
        labels = new_labels
    isolated = _endpoints(e).join(labels, "node", "left_anti").withColumn(
        "label", F.col("node")
    )
    return labels.unionByName(isolated)


def _driver_label_propagation(pairs, rounds: int) -> list:
    """(node, label) for every endpoint of ``pairs``: `label_propagation`'s
    synchronous sweeps over int64 numpy arrays. Labels are positions in
    the sorted node list, so the minimum position is the minimum label a
    tie takes. A round counts (node, neighbor label) pairs with
    ``np.unique`` and keeps, per node, the first row in (node, -count,
    label) order. A node without neighbors in the simple graph keeps its
    own label."""
    import numpy as np

    nodes, a, b = _simple_codes(pairs, ordered=True)
    n = len(nodes)
    node, neigh = np.concatenate([a, b]), np.concatenate([b, a])
    label = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        key, count = np.unique(node * n + label[neigh], return_counts=True)
        v, lab = key // n, key % n
        order = np.lexsort((lab, -count, v))
        v, lab = v[order], lab[order]
        first = np.ones(len(v), dtype=bool)
        first[1:] = v[1:] != v[:-1]
        label[v[first]] = lab[first]
    return list(zip(nodes, [nodes[i] for i in label.tolist()]))


def two_hop_paths(
    edges: DataFrame, pred_a: str, pred_b: str, shape: str = "chain"
) -> DataFrame:
    """Length-2 property-path query over the (src, pred, dst) edge table —
    the SPARQL ``?a p1 ?m . ?m p2 ?b`` (chain) / ``?m p1 ?a . ?m p2 ?b``
    (co_subject) patterns a KG consumer runs constantly. Returns distinct
    (node_a, mid, node_b).

    * ``chain``: a -[pred_a]-> mid, mid -[pred_b]-> b.
    * ``co_subject``: mid -[pred_a]-> a, mid -[pred_b]-> b — e.g.
      var -TAINTED_BY-> source and var -FLOWS_TO-> sink joins taint
      sources to the sinks they reach through each variable.

    Scale shape: predicate filters prune each side BEFORE the equi-join on
    the mid node (pushed into the scan); the join key is a single node id,
    so skew follows node degree — a celebrity mid node fans out
    |pred_a-edges| x |pred_b-edges|, which is the true result size, not an
    artifact. One shuffle per side plus the distinct."""
    if shape == "chain":
        a = edges.filter(F.col("pred") == pred_a).select(
            F.col("src").alias("node_a"), F.col("dst").alias("mid")
        )
        b = edges.filter(F.col("pred") == pred_b).select(
            F.col("src").alias("mid"), F.col("dst").alias("node_b")
        )
    elif shape == "co_subject":
        a = edges.filter(F.col("pred") == pred_a).select(
            F.col("dst").alias("node_a"), F.col("src").alias("mid")
        )
        b = edges.filter(F.col("pred") == pred_b).select(
            F.col("src").alias("mid"), F.col("dst").alias("node_b")
        )
    else:
        raise ValueError(f"unknown shape: {shape!r}")
    return a.join(b, "mid").select("node_a", "mid", "node_b").distinct()


def _hash32(col):
    """32-bit md5-prefix hash — same family as ``training.dedup._minhash_base``
    (inlined here: training imports this module, so importing back would
    cycle). DuckDB mirror: ``_duck_minhash_base`` in ``queries/_common.py``."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hyperball_registers(
    edges: DataFrame, nodes: DataFrame, p: int = 4, rounds: int = 2
) -> DataFrame:
    """(node, bucket, r): HyperLogLog register table of each node's
    <=``rounds``-hop out-neighborhood, via HyperBall propagation (Boldi &
    Vigna, "In-Core Computation of Geometric Centralities with HyperBall",
    2013 — public paper; no reference analogue).

    R_0(v) = sketch({v}); R_{t+1}(v) = max-merge(R_t(v), R_t(u) for every
    edge (v, u)). Register max-merge IS sketch-of-set-union, so after t
    rounds R_t(v) == sketch(ball_t(v)) exactly — path multiplicity and
    visit order cannot perturb a max. That identity is the cross-engine
    oracle law: the DuckDB oracle materializes the <=t-hop ball as a SET
    and sketches it directly, and every register must agree.

    Scale shape: the state is O(nodes x 2^p) narrow integer rows — the
    whole point of HyperBall is that the neighborhood function of a
    10^12-edge graph fits where the exact per-node ball (quadratic blow-up
    on dense components) cannot. Each round is one equi-join on the edge
    key plus a map-side-combinable max-aggregate; no floats, no UDFs.
    Fixed small ``rounds`` keeps the plan linear (callers wanting deep
    radii should checkpoint between rounds like ``bfs_distances``).

    The node universe is ``nodes`` UNION every edge endpoint — an edge
    endpoint missing from ``nodes`` would otherwise have no initial
    self-register and its neighbors' sketches would silently miss it,
    breaking the law above (``exact_ball`` normalizes identically)."""
    regs = _initial_registers(_node_universe(edges, nodes), p)
    for _ in range(rounds):
        prop = edges.join(
            regs.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "bucket", "r")
        regs = (
            regs.unionByName(prop)
            .groupBy("node", "bucket")
            .agg(F.max("r").alias("r"))
        )
    return regs


def _initial_registers(universe: DataFrame, p: int) -> DataFrame:
    """(node, bucket, r): R_0, each node's register in the sketch of
    itself — bucket the low ``p`` bits of `_hash32`, r the rank of the
    rest's leading one."""
    m = 1 << p
    maxrho = 32 - p + 1
    h = _hash32(F.col("node").cast("string"))
    rem = F.floor(h / m)
    rho = F.when(rem == 0, F.lit(maxrho)).otherwise(
        F.lit(32 - p) - F.length(F.bin(rem)) + 1
    )
    return universe.select("node", (h % m).alias("bucket"), rho.cast("int").alias("r"))


def _node_universe(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """``nodes`` plus every edge endpoint — the node set both hyperball
    halves operate on, so the registers == sketch(ball) law holds for any
    caller-supplied node table (a missing endpoint would get phantom
    registers on one side and a counted membership on the other)."""
    return _endpoints(edges, also=nodes)


def exact_ball(edges: DataFrame, nodes: DataFrame, hops: int) -> DataFrame:
    """(node, member): the exact <=``hops``-hop reachable set per node,
    self included — the ground truth ``hyperball_registers`` sketches.
    Node universe normalized like ``hyperball_registers``. Quadratic on
    dense components by construction (a k-clique stores k^2 rows):
    benchmark-scale validation, not the 10^12-edge path."""
    ball = _node_universe(edges, nodes).select("node", F.col("node").alias("member"))
    return _extend_ball(ball, edges, hops)


def _extend_ball(ball: DataFrame, edges: DataFrame, hops: int) -> DataFrame:
    """Extend a (node, member) set table by ``hops`` one-hop expansions."""
    for _ in range(hops):
        ext = ball.join(
            edges.withColumnRenamed("src", "member"), "member"
        ).select("node", F.col("dst").alias("member"))
        ball = ball.unionByName(ext).distinct()
    return ball


def hyperball_neighborhoods(
    edges: DataFrame, nodes: DataFrame, p: int = 4
) -> DataFrame:
    """(node, ball1_exact, ball2_exact, harmonic_x2, m, used_regs,
    zero_regs, sum_rho, harmonic_scaled): per-node 2-hop neighborhood
    summary — the HyperBall register sketch beside the exact ball sizes,
    every cell an exact integer.

    * ball1_exact / ball2_exact: |<=1-hop| and |<=2-hop| reachable sets
      (self included) — makes the sketch's error oracle-visible, the same
      pattern as ``hdr_quantile_bounds`` emitting bounds beside the exact
      rank statistic.
    * harmonic_x2: doubled truncated harmonic centrality
      2*(ball1-1) + (ball2-ball1) — distance-1 nodes weigh 1, distance-2
      nodes weigh 1/2; doubling keeps it integer.
    * the register summary mirrors ``sketch.hll_summary`` per node:
      harmonic_scaled = sum_j 2^(maxrho - r_j) with absent buckets
      contributing 2^maxrho, so the float alpha correction stays a
      read-time computation.

    At 100 TB only the register half runs (rounds bounded, state linear in
    nodes); the exact half is the benchmark-scale witness.

    Small graphs (the `_small_graph` gate; `_wedge_graph`'s bound covers
    the exact 2-hop balls) run both halves on the driver
    (`_driver_hyperball`) for the edge endpoints, from their R_0 as
    Spark's `_initial_registers` computes it over a local frame of the
    collected endpoints. ``nodes`` on no edge never reach the driver:
    their rows are `_lone_hyperball`'s, projected in Spark, so a large
    node table beside few edges is no large driver input. The call's
    Spark jobs are the checkpoint, the edges' collect and R_0's; the
    result's Spark-side rows run when it is read."""
    e, _, pairs = _small_graph(edges.select("src", "dst"), "hyperball_edges")
    simple = _wedge_graph(pairs)
    if simple is not None:
        e.unpersist()
        spark, node = edges.sparkSession, StructField("node", edges.schema["src"].dataType)
        ends = _driver_frame(spark, {"node": simple[0]}, StructType([node]))
        regs0 = _initial_registers(ends, p).toPandas()
        rows = _driver_hyperball(
            pairs, regs0["node"].tolist(), regs0["bucket"].to_numpy(), regs0["r"].to_numpy(), p
        )
        near = _driver_frame(spark, rows, StructType([node, *map(_long, _HYPERBALL_COLS)]))
        return near.unionByName(_lone_hyperball(nodes, near, p))
    edges = e
    m = 1 << p
    maxrho = 32 - p + 1
    regs = hyperball_registers(edges, nodes, p=p, rounds=2)
    summ = regs.groupBy("node").agg(
        F.lit(m).cast("long").alias("m"),
        F.count("*").alias("used_regs"),
        (F.lit(m) - F.count("*")).alias("zero_regs"),
        F.sum("r").cast("long").alias("sum_rho"),
        (
            F.sum(F.pow(F.lit(2), F.lit(maxrho) - F.col("r")).cast("long"))
            + (F.lit(m) - F.count("*")) * F.lit(1 << maxrho)
        )
        .cast("long")
        .alias("harmonic_scaled"),
    )
    # ONE expansion per hop: ball2 extends ball1 instead of re-running
    # the 1-hop join from scratch inside a hops=2 call (the exact witness
    # is already quadratic on dense components — no need to pay the first
    # hop twice)
    ball1 = exact_ball(edges, nodes, hops=1)
    b1 = ball1.groupBy("node").agg(F.count("*").cast("long").alias("ball1_exact"))
    b2 = (
        _extend_ball(ball1, edges, hops=1)
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("ball2_exact"))
    )
    return (
        b1.join(b2, "node")
        .withColumn(
            "harmonic_x2",
            (
                F.lit(2) * (F.col("ball1_exact") - 1)
                + (F.col("ball2_exact") - F.col("ball1_exact"))
            ).cast("long"),
        )
        .join(summ, "node")
        .select("node", *_HYPERBALL_COLS)
    )


_HYPERBALL_COLS = (
    "ball1_exact", "ball2_exact", "harmonic_x2", "m",
    "used_regs", "zero_regs", "sum_rho", "harmonic_scaled",
)


def _lone_hyperball(nodes: DataFrame, near: DataFrame, p: int) -> DataFrame:
    """`hyperball_neighborhoods`' rows for the non-NULL ``nodes`` absent
    from ``near`` (the driver route's rows, one per edge endpoint), in
    closed form: a node on no edge has itself for both balls and its R_0,
    one register, for its sketch."""
    m = 1 << p
    maxrho = 32 - p + 1
    lone = (
        nodes.select("node")
        .where(F.col("node").isNotNull())
        .join(near.select("node"), "node", "left_anti")
        .distinct()
    )
    one = F.lit(1).cast("long")
    return _initial_registers(lone, p).select(
        "node",
        one.alias("ball1_exact"),
        one.alias("ball2_exact"),
        F.lit(0).cast("long").alias("harmonic_x2"),
        F.lit(m).cast("long").alias("m"),
        one.alias("used_regs"),
        F.lit(m - 1).cast("long").alias("zero_regs"),
        F.col("r").cast("long").alias("sum_rho"),
        (
            F.pow(F.lit(2), F.lit(maxrho) - F.col("r")).cast("long") + F.lit((m - 1) << maxrho)
        ).alias("harmonic_scaled"),
    )


def _driver_hyperball(pairs, nodes: list, bucket, r, p: int) -> dict:
    """`hyperball_neighborhoods`' columns on the driver, over int64 numpy
    arrays: ``nodes`` holds every endpoint of ``pairs`` and (``bucket``,
    ``r``) is its R_0.
    Self-loops and repeated edges change no ball and no register, so the
    kernel runs on the distinct non-loop (src, dst) edges, src-sorted.
    Registers are an (n, 2^p) int8 array, 0 where absent; a round max-merges
    each node's out-neighbors' registers (``np.maximum.reduceat``). ball1
    is self plus the out-degree; ball2 counts the distinct members of
    ball1 ∪ every out-neighbor's out-list, listed by ``np.repeat``."""
    import numpy as np
    import pandas as pd

    m, maxrho, n = 1 << p, 32 - p + 1, len(nodes)
    # factorize numbers values by first appearance: nodes[i] is code i
    ends = pd.Series(nodes + [v for pair in pairs for v in pair], dtype=object)
    codes = pd.factorize(ends)[0][n:]
    src, dst = codes[0::2].astype(np.int64), codes[1::2].astype(np.int64)
    key = np.unique(src[src != dst] * n + dst[src != dst])
    src, dst = key // n, key % n
    heads, starts = np.unique(src, return_index=True)
    regs = np.zeros((n, m), dtype=np.int8)  # r <= maxrho <= 32
    regs[np.arange(n), bucket] = r
    for _ in range(2):
        regs[heads] = np.maximum(regs[heads], np.maximum.reduceat(regs[dst], starts))
    used = (regs > 0).sum(axis=1)
    out_deg = np.bincount(src, minlength=n)
    # the out-list of each edge's head, row by row: edge (v, u) lists out(u)
    first = np.cumsum(out_deg) - out_deg
    fan = out_deg[dst]
    hop2 = np.repeat(first[dst] - (np.cumsum(fan) - fan), fan) + np.arange(int(fan.sum()))
    self_key = np.arange(n) * (n + 1)
    ball2 = np.unique(np.concatenate([self_key, key, np.repeat(src, fan) * n + dst[hop2]]))
    b1, b2 = out_deg + 1, np.bincount(ball2 // n, minlength=n)
    return {
        "node": nodes,
        "ball1_exact": b1,
        "ball2_exact": b2,
        "harmonic_x2": 2 * (b1 - 1) + (b2 - b1),
        "m": np.full(n, m),
        "used_regs": used,
        "zero_regs": m - used,
        "sum_rho": regs.sum(axis=1, dtype=np.int64),
        # an absent register (0) adds 2^maxrho, the read-time convention
        "harmonic_scaled": (1 << (maxrho - regs.astype(np.int64))).sum(axis=1),
    }


def degree_mixing_stats(edges: DataFrame) -> DataFrame:
    """Degree-assortativity sufficient statistics as one exact-integer
    row: is this graph hub-meets-hub (assortative, r > 0) or
    hub-meets-leaf (disassortative, r < 0)? The answer shapes every
    downstream choice this package makes — hub caps in neighbor_jaccard,
    skew salting, LSH cluster caps — so the measurement belongs next to
    them.

    Emits (m, sx, sxx, sxy) over the SYMMETRIZED edge list (each
    undirected edge contributes both (da, db) and (db, da), so the x
    and y marginals coincide and two of the six Pearson sums collapse).
    The assortativity coefficient is the read-time float
        r = (m*sxy - sx*sx) / (m*sxx - sx*sx)
    — division stays OUT of the engines (the one thing two engines
    round apart), the sums are exact int64, and the DuckDB oracle
    reproduces every cell. One narrow shuffle for degrees, one
    broadcastable join back onto edges, one global aggregate."""
    und = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = und.groupBy(F.col("src").alias("_n")).agg(F.count("*").alias("_d"))
    da = deg.select(F.col("_n").alias("_na"), F.col("_d").alias("da"))
    db = deg.select(F.col("_n").alias("_nb"), F.col("_d").alias("db"))
    return (
        und.join(da, F.col("src") == F.col("_na"))
        .join(db, F.col("dst") == F.col("_nb"))
        .agg(
            F.count("*").cast("long").alias("m"),
            F.sum("da").cast("long").alias("sx"),
            F.sum(F.col("da") * F.col("da")).cast("long").alias("sxx"),
            F.sum(F.col("da") * F.col("db")).cast("long").alias("sxy"),
        )
    )


def modularity_by_community(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Exact per-community modularity ledger over the undirected simple
    graph induced by ``edges``, for the partition in ``labels``
    (node, label) — typically the ``label_propagation`` output.

    Newman modularity is Q = Σ_c (e_c/m − (d_c/2m)²); multiplying
    through by the common denominator 4m² makes every community's
    contribution an INTEGER: ``q_num_c = 4m·e_c − d_c²`` with
    Q = Σ_c q_num_c / 4m². Emitting (label, n_nodes, internal_edges,
    degree_sum, q_num) keeps the ledger exact — the float Q is a
    read-time division — and cross-engine reproducible.

    Scale shape: one distinct over the canonicalized edge list, one
    degree aggregate, two broadcast-sized joins of the edge list
    against the label table (labels are narrow (node, label) rows),
    and a final groupBy on the community key. All DECIMAL(38,0)
    arithmetic so 10^12-edge graphs cannot overflow the q_num product.
    """
    und = _undirected(edges).localCheckpoint(eager=True)
    m = und.count()  # scalar: one number on the driver, reused in the expr
    deg = _degrees(_adjacency(und))
    nd = labels.join(deg, "node", "left").select(
        "node", "label", F.coalesce(F.col("d"), F.lit(0)).alias("d")
    )
    dc = nd.groupBy("label").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.col("d").cast("decimal(38,0)")).alias("_dsum"),
    )
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("_la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("_lb"))
    ec = (
        und.join(la, "a").join(lb, "b")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count("*").cast("decimal(38,0)").alias("_ein"))
    )
    four_m = F.lit(4 * m).cast("decimal(38,0)")
    return (
        dc.join(ec, "label", "left")
        .select(
            "label",
            "n_nodes",
            F.coalesce(F.col("_ein"), F.lit(0)).cast("long").alias("internal_edges"),
            F.col("_dsum").cast("long").alias("degree_sum"),
            (
                four_m * F.coalesce(F.col("_ein"), F.lit(0).cast("decimal(38,0)"))
                - F.col("_dsum") * F.col("_dsum")
            ).cast("long").alias("q_num"),
        )
    )


def transitivity_global(edges: DataFrame) -> DataFrame:
    """Global transitivity (the graph clustering coefficient):
    C = 3·triangles / wedges = closed wedges over all wedges, in exact
    truncated basis points — ONE number separating a clustered network
    (co-purchase, social) from a random one of the same degree
    sequence. Built from parts this module already proves: Σ of the
    per-node triangle participation counts (triangle_counts — the
    degree-ordered Suri-Vassilvitskii enumeration) is exactly
    3·triangles, and wedges = Σ_v d_v(d_v−1)/2 over the undirected
    degrees. Graphs with no wedges (degree ≤ 1 everywhere) emit NULL.

    Output: one row (n_nodes, n_edges, n_triangles, n_wedges,
    transitivity_bp). Scale shape: triangle_counts' equi-joins plus one
    degree aggregate; the two 1-row summaries cross-join at the end.
    """
    deg = _degrees(_adjacency(_undirected(edges))).select(F.col("d").cast(_D38).alias("_d"))
    wedges = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("_d").alias("_deg_tot"),
        F.sum(F.expr("(_d * (_d - 1)) div 2")).alias("_w"),
    )
    tri = triangle_counts(edges).agg(
        # empty graph: SUM is NULL but "zero triangles" is the honest
        # answer (and what a count(*) oracle reports)
        F.coalesce(F.sum("n_triangles"), F.lit(0)).cast(_D38).alias("_t3")
    )
    return (
        wedges.crossJoin(tri)
        .select(
            "n_nodes",
            F.expr("cast(_deg_tot div 2 as long)").alias("n_edges"),
            F.expr("cast(_t3 div 3 as long)").alias("n_triangles"),
            F.col("_w").cast("long").alias("n_wedges"),
            F.when(
                F.col("_w") > 0,
                F.expr("(_t3 * 10000) div _w").cast("long"),
            ).alias("transitivity_bp"),
        )
    )


def resource_allocation(
    edges: DataFrame,
    min_common: int = 1,
    scale: int = 10000,
    max_hub_degree: int = 0,
    class_max_degree: int = 256,
) -> DataFrame:
    """Resource-allocation link prediction (Zhou-Lü-Zhang): for every
    NON-ADJACENT node pair sharing >= ``min_common`` neighbors, score
    RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z) — a common neighbor is strong
    evidence exactly when it is NOT a hub. This is the weighted sibling
    of ``neighbor_jaccard``: same wedge-join candidate generation, but
    the center contributes ``scale div deg(z)`` (an exact integer
    weight fixed per center BEFORE the pair sum) instead of a flat 1,
    and pairs that are already edges are anti-joined away, so the
    output is a true "missing link" ranking (which file/vuln
    association the graph predicts but the scan has not yet emitted).
    Using the integer per-center weight instead of a float 1/deg keeps
    the score engine-exact; the ranking it induces is the RA ranking
    whenever scale exceeds the max degree (10000 here vs degrees in
    the hundreds).

    Scale shape: wedge join at shared neighbors only (never
    all-pairs); ``max_hub_degree`` applies the same non-silent
    observe-metric hub cap as neighbor_jaccard — a celebrity center
    contributes C(d,2) weak pairs AND a near-zero weight, so capping
    loses almost no score mass. The anti-join on the undirected edge
    set is a narrow-key hash join.

    Round-6 restructure (output row-identical, pytest-gated): the wedge
    runs over the structural-equivalence classes of ``_class_compress``
    — every pair-level quantity here (shared-center count, the
    per-center weight sum, and pair adjacency, which is uniform across
    a class pair: see neighbor_jaccard's proof) depends only on the
    class pair, so class pairs are scored once and members expand only
    into output rows. Within-class pairs are never adjacent (a member
    of its own neighbor set would be a self-loop), so they skip the
    anti-join by construction, and their score is the class's full
    (hub-filtered) center-weight sum."""
    nodes, members, cls_info, cls_adj, adj, deg, und_ids = _class_compress(
        edges, class_max_degree
    )
    center_w = deg.select(
        F.col("node").alias("neigh"),
        F.expr(f"cast({scale} div d as long)").alias("w"),
        "d",
    )
    if max_hub_degree:
        hub = F.col("d") > max_hub_degree
        center_w = center_w.observe(
            f"resource_alloc_hub_drops_{next(_OBS_SEQ)}",
            F.sum(F.when(hub, 1).otherwise(0)).alias("n_hub_centers"),
            F.sum(F.when(hub, F.col("d")).otherwise(0)).alias("n_adj_rows_at_hubs"),
        ).filter(~hub)
    cls_adj_w = cls_adj.join(center_w.select("neigh", "w"), "neigh")
    x, y = cls_adj_w.alias("x"), cls_adj_w.alias("y")
    cross = (
        x.join(
            y,
            (F.col("x.neigh") == F.col("y.neigh")) & (F.col("x.cls") < F.col("y.cls")),
        )
        .groupBy(F.col("x.cls").alias("ca"), F.col("y.cls").alias("cb"))
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(F.col("x.w")).cast("long").alias("ra_score_scaled"),
        )
        .filter(F.col("n_common") >= min_common)
    )
    cls_edges = (
        und_ids.join(members.select(F.col("node").alias("a"), F.col("cls").alias("_ca")), "a")
        .join(members.select(F.col("node").alias("b"), F.col("cls").alias("_cb")), "b")
        .select(F.least("_ca", "_cb").alias("ca"), F.greatest("_ca", "_cb").alias("cb"))
        .distinct()
    )
    cross = cross.join(cls_edges, ["ca", "cb"], "left_anti")
    within = (
        cls_adj_w.groupBy("cls").agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum("w").cast("long").alias("ra_score_scaled"),
        )
        .join(cls_info.filter(F.col("m") >= 2).select("cls"), "cls")
        .filter(F.col("n_common") >= min_common)
    )
    mem = members.select("cls", "node")
    cross_pairs = (
        cross.join(mem.select(F.col("cls").alias("ca"), F.col("node").alias("ia")), "ca")
        .join(mem.select(F.col("cls").alias("cb"), F.col("node").alias("ib")), "cb")
        .select("ia", "ib", "n_common", "ra_score_scaled")
    )
    within_pairs = (
        within.withColumnRenamed("cls", "_c")
        .join(mem.select(F.col("cls").alias("_c"), F.col("node").alias("ia")), "_c")
        .join(mem.select(F.col("cls").alias("_c"), F.col("node").alias("ib")), "_c")
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", "n_common", "ra_score_scaled")
    )
    pairs = cross_pairs.union(within_pairs)
    return (
        pairs.join(nodes.select(F.col("nid").alias("ia"), F.col("node").alias("_sa")), "ia")
        .join(nodes.select(F.col("nid").alias("ib"), F.col("node").alias("_sb")), "ib")
        .select(
            F.least("_sa", "_sb").alias("node_a"),
            F.greatest("_sa", "_sb").alias("node_b"),
            "n_common",
            "ra_score_scaled",
        )
    )


def hits_scores(
    edges: DataFrame, rounds: int = 2, scale: int = 10000
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over the directed simple
    graph, with the normalization made ENGINE-EXACT: each half-step
    rescales by the current maximum via integer division
    (score·scale div max), so every intermediate is a BIGINT and any
    ANSI engine reproduces the run bit-for-bit. Per-iteration rescaling
    by any positive constant leaves HITS' direction unchanged (the
    classic L2 norm is also just a rescale), so max-norm is a faithful
    deterministic variant; ``rounds`` is fixed and part of the
    contract, like the pagerank_fixed_point iteration count.

    Complements pagerank: pagerank ranks by random-walk visitation,
    HITS separates "points at good things" (hub — a scanner file that
    touches every weak endpoint) from "is pointed at by good things"
    (authority — the CWE every tainted path lands on).

    Scale shape: per half-step one narrow-key join edge⋈score and one
    groupBy — both map-side combinable — plus a 1-row max broadcast;
    2·rounds such steps, no iteration-to-convergence (fixed unroll).
    """
    if rounds < 1:
        raise ValueError("hits_scores needs rounds >= 1")
    e = _digraph(edges).localCheckpoint(eager=True)
    nodes = _endpoints(e)
    hub = nodes.select("node", F.lit(scale).cast("long").alias("s"))
    auth = None
    for _ in range(rounds):
        a_raw = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("s").alias("raw"))
        )
        auth = _max_norm(nodes, a_raw, scale)
        h_raw = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("s").alias("raw"))
        )
        hub = _max_norm(nodes, h_raw, scale)
    return (
        nodes.join(hub.withColumnRenamed("s", "hub_scaled"), "node", "left")
        .join(auth.withColumnRenamed("s", "auth_scaled"), "node", "left")
        .select(
            "node",
            F.coalesce("hub_scaled", F.lit(0)).cast("long").alias("hub_scaled"),
            F.coalesce("auth_scaled", F.lit(0)).cast("long").alias("auth_scaled"),
        )
    )


def _max_norm(nodes: DataFrame, raw: DataFrame, scale: int) -> DataFrame:
    """(node, s): raw scores max-normalized to [0, scale] by exact
    integer division; nodes absent from ``raw`` get 0."""
    m = raw.agg(F.max("raw").alias("m"))
    return (
        nodes.join(raw, "node", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "node",
            F.when(
                F.col("m").isNull() | (F.col("m") <= 0), F.lit(0)
            )
            .otherwise(
                F.expr(f"cast((coalesce(raw, 0) * {scale}) div m as long)")
            )
            .alias("s"),
        )
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node LOCAL clustering coefficient in exact basis points:
    lcc(v) = triangles(v) / C(deg(v), 2) — "how much of v's
    neighborhood is itself connected". The per-node complement of
    ``transitivity_global`` (one global ratio) and the pointwise
    refinement of ``triangle_counts``: lcc_bp = (10000·2·tri) div
    (d·(d−1)), pure integers. Nodes of degree < 2 have no defined
    coefficient and report NULL (not 0 — an isolated leaf is not
    "perfectly unclustered", it is unmeasurable).

    Shape: triangle_counts (degree-oriented wedge enumeration — the
    Suri-Vassilvitskii shape, no celebrity blowup) plus one degree
    aggregate and a narrow join.
    """
    deg = _degrees(_adjacency(_undirected(edges))).withColumnRenamed("d", "degree")
    tri = triangle_counts(edges)
    return (
        tri.join(deg, "node", "left")
        .select(
            "node",
            F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
            "n_triangles",
        )
        .withColumn(
            "lcc_bp",
            F.expr(
                "cast(case when degree >= 2 then"
                " (20000 * n_triangles) div (degree * (degree - 1)) end as long)"
            ),
        )
    )


def four_cycle_census(edges: DataFrame) -> DataFrame:
    """Exact global 4-cycle (rectangle) count: #C4 = Σ_{u<v}
    C(codeg(u,v), 2) / 2 — every 4-cycle is counted once at each of its
    two diagonals, so the sum halves exactly. Co-neighbor pairs come
    from the wedge join at the shared neighbor (the neighbor_jaccard
    candidate shape); pairs with codegree 1 contribute C(1,2) = 0 to the
    plain sum. Returns one row:
    (n_copair_rows, n_wedges, n_four_cycles).

    Scale note: the wedge join at a hub of degree d materializes
    C(d, 2) pairs — for the EXACT census that cost is irreducible
    (every one of those pairs can carry rectangles); on hub-heavy
    graphs run the capped neighbor_jaccard variant for an audited
    undercount instead. The 4-cycle count is the standard bipartite-
    core/spam-farm signal the triangle census is blind to (bipartite
    graphs have zero triangles but abundant rectangles).

    Small graphs (the `_small_graph` gate, wedge bound included) run the
    census on the driver (`_driver_four_cycles`)."""
    e, _, pairs = _small_graph(edges.select("src", "dst"), "c4_edges")
    simple = _wedge_graph(pairs)
    if simple is not None:
        e.unpersist()
        schema = StructType([_long("n_copair_rows"), _long("n_wedges"), _long("n_four_cycles")])
        return _driver_frame(edges.sparkSession, [_driver_four_cycles(*simple)], schema)
    adj = _adjacency(_undirected(e))
    x, y = adj.alias("x"), adj.alias("y")
    copairs = (
        x.join(
            y,
            (F.col("x.neigh") == F.col("y.neigh")) & (F.col("x.node") < F.col("y.node")),
        )
        .groupBy(F.col("x.node"), F.col("y.node"))
        .agg(F.count("*").alias("c"))
    )
    agg = copairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_copair_rows"),
        F.sum("c").cast("long").alias("n_wedges"),
        F.sum(F.expr(f"(cast(c as {_D38}) * (c - 1)) div 2").cast(_D38)).alias("_diag"),
    )
    # Σ C(codeg, 2) counts every rectangle at both diagonals — always
    # even, so the integer halving is exact
    return agg.select(
        "n_copair_rows",
        "n_wedges",
        F.expr("cast(_diag div 2 as long)").alias("n_four_cycles"),
    )


def _driver_four_cycles(nodes: list, a, b) -> tuple:
    """`four_cycle_census`'s one row over the simple graph's int64 codes
    (`_simple_codes`): `_wedges` lists every co-neighbor pair (x, y) at
    each shared neighbor, and ``np.unique`` counts each pair's codegree. No wedge gives the
    distributed route's row over no co-pairs: (0, NULL, NULL)."""
    import numpy as np

    n = len(nodes)
    _, x, y = _wedges(np.concatenate([b, a]), np.concatenate([a, b]), n)
    if len(x) == 0:
        return 0, None, None
    _, codeg = np.unique(x * n + y, return_counts=True)
    return len(codeg), len(x), int((codeg * (codeg - 1) // 2).sum()) // 2


def walk_counts(edges: DataFrame, rounds: int = 3, alpha_inv: int = 4) -> DataFrame:
    """Exact directed walk-count profile + truncated Katz centrality:
    for each node v, the number of directed walks of length exactly
    k (k = 1..rounds) ENDING at v, and the truncated Katz index with
    attenuation 1/alpha_inv carried as the exact integer numerator

        katz_scaled = Σ_k alpha_inv^(rounds-k) · walks_k
                    = alpha_inv^rounds · Σ_k walks_k / alpha_inv^k.

    No division ever happens (the attenuation is cleared to a common
    denominator), so unlike the fixed-point pagerank there is not even
    a flooring step — every cell is the exact walk-count arithmetic
    any engine reproduces. Walks are counted on the simple digraph.

    Complements the centrality family: pagerank ranks by stationary
    visitation (normalized), HITS by mutual reinforcement (max-norm),
    Katz by TOTAL attenuated walk inflow — the only one of the three
    that is division-free exact, which makes it the cheapest
    engine-portable centrality for audit pipelines.

    Scale shape: per round one narrow-key join edges⋈scores on src and
    one map-side-combinable groupBy on dst — the same shape as one
    pagerank round, `rounds` times, no iteration-to-convergence.
    Counts accumulate in DECIMAL(38,0) (walks_k ≤ max_indeg^k blows
    int64 on dense graphs); outputs cast to BIGINT, which holds
    whenever max_indeg^rounds · alpha_inv^rounds < 2^63 — on hub-heavy
    graphs at extreme scale keep the decimal column instead.
    """
    if rounds < 1:
        raise ValueError("walk_counts needs rounds >= 1")
    e = _digraph(edges).localCheckpoint(eager=True)
    nodes = _endpoints(e)
    walks = []  # walks[k-1]: (node, w) — walks of length exactly k ending at node
    w = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast(_D38).alias("w")
    )
    walks.append(w)
    for _ in range(rounds - 1):
        w = (
            e.join(w.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("w").alias("w"))
        )
        walks.append(w)
    out = nodes
    katz = F.lit(0).cast(_D38)
    for k, wk in enumerate(walks, start=1):
        col = f"walks_{k}"
        out = out.join(wk.withColumnRenamed("w", col), "node", "left")
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(0).cast(_D38)))
        katz = katz + F.col(col) * F.lit(alpha_inv ** (rounds - k)).cast(_D38)
    out = out.withColumn("katz_scaled", katz)
    return out.select(
        "node",
        *[F.col(f"walks_{k}").cast("long").alias(f"walks_{k}") for k in range(1, rounds + 1)],
        F.col("katz_scaled").cast("long").alias("katz_scaled"),
    )


def metapath_census(edges: DataFrame, shape: str = "chain") -> DataFrame:
    """(pred_a, pred_b, n_paths, n_mid_nodes): the 2-hop metapath census
    over a (src, pred, dst) edge table — the schema-level digest of
    ``two_hop_paths`` (which materializes the walks for ONE pair): which
    property paths exist at all, and through how many distinct mid
    entities they run.

    * ``chain``: directed walks a -[pred_a]-> m -[pred_b]-> c, counted
      per ORDERED predicate pair. Structurally empty on a bipartite KG
      (no node is both a target and a source) — which is itself the
      diagnostic the census exists to surface.
    * ``co_subject``: unordered pairs of DISTINCT edges sharing their
      source node, counted per pred_a <= pred_b — e.g.
      (TAINTED_BY, FLOWS_TO) counts variables that both carry a taint
      source and reach a sink, the join a KG consumer audits constantly.
    * ``co_object``: same, sharing the target node — e.g.
      (HAS_VULN, HAS_VULN) counts file pairs co-occurring on a weakness
      class.

    Scale shape: the walks are NEVER materialized. The simple digraph
    (distinct (src, pred, dst), self-loops dropped) collapses to
    per-(mid, pred) count rows first; one equi-join on the mid node —
    per-node fanout bounded by the SQUARE OF THE PREDICATE VOCABULARY,
    not node degree — and a map-side-combinable groupBy sums the exact
    pair counts (c_a * c_b across predicates, C(c, 2) within one). Counts
    accumulate in DECIMAL(38,0) (hub-degree products blow int64 at
    extreme scale); the output casts to BIGINT."""
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "pred", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    if shape == "chain":
        inc = e.groupBy(F.col("dst").alias("node"), F.col("pred").alias("pred_a")).agg(
            F.count(F.lit(1)).cast(_D38).alias("c_a")
        )
        out = e.groupBy(F.col("src").alias("node"), F.col("pred").alias("pred_b")).agg(
            F.count(F.lit(1)).cast(_D38).alias("c_b")
        )
        res = (
            inc.join(out, "node")
            .groupBy("pred_a", "pred_b")
            .agg(
                F.sum(F.col("c_a") * F.col("c_b")).cast("long").alias("n_paths"),
                F.count_distinct(F.col("node")).cast("long").alias("n_mid_nodes"),
            )
        )
    elif shape in ("co_subject", "co_object"):
        mid = F.col("src") if shape == "co_subject" else F.col("dst")
        pc = e.groupBy(mid.alias("node"), F.col("pred")).agg(
            F.count(F.lit(1)).cast(_D38).alias("c")
        )
        a = pc.select("node", F.col("pred").alias("pred_a"), F.col("c").alias("c_a"))
        b = pc.select("node", F.col("pred").alias("pred_b"), F.col("c").alias("c_b"))
        pairs = a.join(b, "node").filter(F.col("pred_a") <= F.col("pred_b"))
        n_pairs = F.when(
            F.col("pred_a") < F.col("pred_b"), F.col("c_a") * F.col("c_b")
        ).otherwise((F.col("c_a") * (F.col("c_a") - 1) / 2).cast(_D38))
        res = (
            pairs.groupBy("pred_a", "pred_b")
            .agg(
                F.sum(n_pairs).cast("long").alias("n_paths"),
                F.count_distinct(F.col("node")).cast("long").alias("n_mid_nodes"),
            )
            .filter(F.col("n_paths") > 0)
        )
    else:
        raise ValueError(f"unknown shape: {shape!r}")
    e.unpersist()
    return res


def reciprocity(edges: DataFrame) -> DataFrame:
    """One-row directed-graph reciprocity summary: of the edges of the
    simple digraph, how many have their reverse edge present.
    (n_edges, n_pairs, n_mutual_pairs, reciprocity_bp) with
    reciprocity_bp = 10000 * 2*n_mutual_pairs div n_edges — the classic
    r = |mutual edges| / |edges| in exact basis points. On the KG this
    measures how symmetric the extracted relations are (a FLOWS_TO that
    ever flows back is a cycle smell worth auditing).

    Scale shape: no self-join — each directed edge maps to its unordered
    pair key (least, greatest) and ONE map-side-combinable groupBy counts
    directions per pair (1 or 2, since edges are distinct); the final
    digest is a single-row aggregate. One narrow shuffle total."""
    pairs = _digraph(edges).groupBy(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).agg(F.count(F.lit(1)).alias("n_dirs"))
    return pairs.select(
        F.sum("n_dirs").cast("long").alias("n_edges"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((F.col("n_dirs") == 2).cast("long")).cast("long").alias("n_mutual_pairs"),
        F.expr(
            "CAST(10000 * 2 * sum(CAST(n_dirs = 2 AS BIGINT)) div sum(n_dirs) AS BIGINT)"
        ).alias("reciprocity_bp"),
    )


def eccentricity_profile(
    edges: DataFrame, n_pivots: int = 4, max_hops: int = 8
) -> DataFrame:
    """Pivot-based distance profile of the undirected graph: from each of
    the ``n_pivots`` highest-degree nodes (ties broken by node id — the
    standard deterministic pivot heuristic: high-degree pivots reach the
    giant component fastest and their max distance lower-bounds the
    diameter), run a full BFS and report
    (pivot, degree, n_reached, ecc, sum_hops, closeness_bp):
    eccentricity = max hop distance, closeness_bp = 10000*(n_reached-1)
    div sum_hops (classic closeness over the reached set, exact basis
    points; NULL for an isolated pivot). max(ecc) over the profile is the
    textbook diameter lower bound.

    Scale shape: degrees and pivot selection are one groupBy + a
    TakeOrderedAndProject (k rows to the driver — the pivot list itself,
    not data). Each pivot then runs ``bfs_distances`` (frontier BFS, one
    job per hop, node-bounded). The loop is sequential in the FIXED pivot
    count; for large pivot sets the design swaps to one labeled frontier
    carrying (pivot, node) composite keys — same joins, one loop."""
    spark = edges.sparkSession
    und = _undirected(edges).localCheckpoint(eager=True)
    e = und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    deg = _degrees(_adjacency(und)).withColumnRenamed("d", "degree")
    pivots = [
        (r["node"], r["degree"])
        for r in deg.orderBy(F.desc("degree"), F.asc("node")).limit(n_pivots).collect()
    ]
    profiles = []
    for node, degree in pivots:
        seeds = spark.createDataFrame([(node,)], "node string")
        d = bfs_distances(e, seeds, max_hops=max_hops)
        profiles.append(
            d.agg(
                F.lit(node).alias("pivot_node"),
                F.lit(degree).cast("long").alias("degree"),
                F.count(F.lit(1)).cast("long").alias("n_reached"),
                F.max("hops").cast("long").alias("ecc"),
                F.sum("hops").cast("long").alias("sum_hops"),
                F.expr(
                    "CAST(CASE WHEN sum(hops) > 0 THEN 10000 * (count(*) - 1) div sum(hops) END AS BIGINT)"
                ).alias("closeness_bp"),
            )
        )
    und.unpersist()
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionByName(p)
    return out


def wl_colors(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Weisfeiler-Lehman color refinement over the undirected simple graph:
    (node, color, class_size) after ``rounds`` refinement rounds — the
    structural-role census (two nodes share a color iff the 1-WL test
    cannot tell their ``rounds``-hop neighborhood shapes apart). On a KG
    this groups entities by how they are wired, not what they are named:
    the fingerprint that spots template-generated subgraphs and feeds
    graph-dedup.

    Colors start as degrees; each round a node's new color is the dense
    rank of its signature ``old_color | sorted multiset of neighbor
    colors``. Ranks are assigned by BINARY STRING ORDER of the signature
    (ASCII digits/commas — identical in any engine), so the labels — not
    just the partition — are engine-reproducible.

    Scale shape: per round one equi-join (edges x colors, narrow key) +
    one map-side-combinable collect of SORTED neighbor colors per node +
    a rank over the DISTINCT signature table. That rank rides a
    single-partition window, which is safe because the distinct-signature
    table is at most the number of structural roles (<< nodes on real
    graphs); at adversarial scale swap it for the two-stage bucketed rank
    of training/sketch._k_smallest. Signatures hold numerically-sorted
    neighbor colors (array_sort on longs), never neighbor LISTS of
    strings — a celebrity node's signature is one row, and its length is
    its degree, the true output size."""
    if rounds < 1:
        raise ValueError("wl_colors needs rounds >= 1")
    adj = _adjacency(_undirected(edges)).localCheckpoint(eager=True)
    colors = _degrees(adj).withColumnRenamed("d", "color")
    for _ in range(rounds):
        nc = adj.join(
            colors.select(F.col("node").alias("neigh"), F.col("color").alias("nc")),
            "neigh",
        ).select("node", "nc")
        sig = (
            colors.join(
                nc.groupBy("node").agg(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.array_sort(F.collect_list("nc")),
                            lambda x: x.cast("string"),
                        ),
                    ).alias("_ns")
                ),
                "node",
            )
            .select(
                "node",
                F.concat(F.col("color").cast("string"), F.lit("|"), F.col("_ns")).alias(
                    "sig"
                ),
            )
        )
        ranks = (
            sig.select("sig")
            .distinct()
            .withColumn(
                "color", F.row_number().over(Window.orderBy("sig")).cast("long")
            )
        )
        prev, colors = colors, sig.join(ranks, "sig").select("node", "color")
        colors = colors.localCheckpoint(eager=True)
        prev.unpersist()
    sizes = colors.groupBy("color").agg(F.count(F.lit(1)).cast("long").alias("class_size"))
    out = colors.join(sizes, "color").select("node", "color", "class_size")
    adj.unpersist()
    return out


def greedy_matching(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Deterministic distributed greedy matching by local-minimum rounds
    (the derandomized Israeli-Itai shape): per round, an edge joins the
    matching iff its key is the MINIMUM among all edges incident to BOTH
    its endpoints — local minima never share a node, so each round adds
    an independent edge set with no coordination; matched nodes and
    their edges then drop and the next round runs on the remainder.
    Returns (a, b, matched_round) over the undirected simple graph
    (a < b). A fixed ``rounds`` makes this a bounded-round contract like
    ``ktruss_edges`` — each round at least halves... no: each round
    matches every local-min edge, and a maximal matching needs O(log n)
    rounds in expectation on random keys; here keys are the
    lexicographic edge names, so determinism is bought at the cost of a
    possibly longer tail — callers needing maximality raise ``rounds``.

    The matching itself is the building block of coarsening
    (multilevel partitioners), task assignment, and one-to-one record
    linking (each mention matched to at most one counterpart).

    Scale shape: per round one map-side-combinable groupBy (per-node min
    incident key over the node-exploded edge list), two narrow equi-joins
    to test both endpoints, and one node anti-join to shrink the
    remainder — never an edge-pair join. Remainders are
    localCheckpointed per round (lineage truncation, same discipline as
    the other iterative operators)."""
    if rounds < 1:
        raise ValueError("greedy_matching needs rounds >= 1")
    e = (
        _undirected(edges)
        .withColumn("k", F.concat(F.col("a"), F.lit("|"), F.col("b")))
        .localCheckpoint(eager=True)
    )
    matched = []
    rem = e
    for rnd in range(1, rounds + 1):
        inc = rem.select(F.col("a").alias("node"), "k").union(
            rem.select(F.col("b").alias("node"), "k")
        )
        mins = inc.groupBy("node").agg(F.min("k").alias("mk"))
        m = (
            rem.join(
                mins.select(F.col("node").alias("a"), F.col("mk").alias("_ma")), "a"
            )
            .join(
                mins.select(F.col("node").alias("b"), F.col("mk").alias("_mb")), "b"
            )
            .filter((F.col("k") == F.col("_ma")) & (F.col("k") == F.col("_mb")))
            .select("a", "b", "k")
            .localCheckpoint(eager=True)
        )
        matched.append(
            m.select("a", "b", F.lit(rnd).cast("long").alias("matched_round"))
        )
        mnodes = m.select(F.col("a").alias("node")).union(
            m.select(F.col("b").alias("node"))
        )
        nxt = (
            rem.join(mnodes.withColumnRenamed("node", "a"), "a", "left_anti")
            .join(mnodes.withColumnRenamed("node", "b"), "b", "left_anti")
            .select("a", "b", "k")
            .localCheckpoint(eager=True)
        )
        rem.unpersist()
        rem = nxt
    rem.unpersist()
    out = matched[0]
    for m in matched[1:]:
        out = out.unionByName(m)
    return out


def bipartite_core(
    edges: DataFrame, alpha: int = 2, beta: int = 2, rounds: int = 3
) -> DataFrame:
    """(alpha, beta)-core of a bipartite graph: iteratively drop edges
    whose LEFT endpoint has fewer than ``alpha`` distinct right
    neighbors or whose RIGHT endpoint has fewer than ``beta`` distinct
    left neighbors, for a fixed number of peel rounds; emit the
    surviving edges with both endpoints' final degrees
    (src, dst, left_deg, right_deg). The SIDED version of ``kcore_nodes``
    — on supplier x part, "suppliers stocking >= alpha parts that are
    each stocked by >= beta such suppliers", the mutually-reinforcing
    core a one-sided k-core cannot express (it would mix the two roles'
    thresholds). Like ``ktruss_edges``/``kcore_nodes``, the fixed
    ``rounds`` is a bounded-round contract: callers needing the true
    fixpoint raise it (each extra round is the same two narrow
    aggregates + one join).

    Scale shape: per round two map-side-combinable degree groupBys and
    two narrow equi-joins back onto the edge list; edges only ever
    shrink; per-round localCheckpoint truncates lineage."""
    if rounds < 1:
        raise ValueError("bipartite_core needs rounds >= 1")
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    for _ in range(rounds):
        ld = e.groupBy("src").agg(F.count(F.lit(1)).alias("_ld"))
        rd = e.groupBy("dst").agg(F.count(F.lit(1)).alias("_rd"))
        nxt = (
            e.join(ld.filter(F.col("_ld") >= alpha).select("src"), "src")
            .join(rd.filter(F.col("_rd") >= beta).select("dst"), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        e.unpersist()
        e = nxt
    ld = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("left_deg"))
    rd = e.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("right_deg"))
    out = e.join(ld, "src").join(rd, "dst").select("src", "dst", "left_deg", "right_deg")
    e.unpersist()
    return out


def conductance_by_label(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Community-quality audit: CONDUCTANCE φ(S) = cut(S) / min(vol(S),
    vol(V∖S)) per community, in exact basis points — the standard
    "how leaky is this cluster" score for any node-labelling (label
    propagation, components, ER entities). A tight community has low
    φ (few boundary edges relative to its internal volume); φ near
    10⁴ means the 'community' is mostly boundary.

    Semantics (pinned): the undirected simple graph; vol(S) = Σ
    degree over members, cut(S) = edges with exactly one endpoint in
    S; φ in truncated integer bp. Labels whose volume is 0 (isolated
    nodes) or the whole graph's volume (no complement) are excluded —
    φ is undefined there.

    Scale shape: one distinct-edge pass, two broadcast-joinable
    narrow aggregates (degree, per-label volume), and the cut count
    is a single join of the edge list against the label table on both
    endpoints — every shuffle keyed on node or label, nothing
    quadratic. Input ``labels``: (node, label).
    """
    und = _undirected(edges)
    deg = _degrees(_adjacency(und))
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("l_a"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("l_b"))
    el = und.join(la, "a").join(lb, "b")
    cross = el.filter(F.col("l_a") != F.col("l_b"))
    cut = (
        cross.select(F.col("l_a").alias("label"))
        .unionByName(cross.select(F.col("l_b").alias("label")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("cut_edges"))
    )
    vol = (
        labels.join(deg, "node", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("vol"),
        )
    )
    wall = Window.partitionBy()
    return (
        vol.withColumn("_tv", F.sum("vol").over(wall))
        .join(cut, "label", "left")
        .filter((F.col("vol") > 0) & (F.col("vol") < F.col("_tv")))
        .select(
            "label",
            "n_nodes",
            "vol",
            F.coalesce(F.col("cut_edges"), F.lit(0)).cast("long").alias(
                "cut_edges"
            ),
            F.expr(
                "CAST((10000 * coalesce(cut_edges, 0))"
                " div least(vol, _tv - vol) AS BIGINT)"
            ).alias("phi_bp"),
        )
    )


def component_labels(edges: DataFrame) -> DataFrame:
    """(node, component) labels for every endpoint of the edge set,
    shared by kg_components and the robustness census below."""
    return _label_components(_endpoints(edges), edges)


def _label_components(nodes: DataFrame, edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """(node, component) for every row of ``nodes``: the minimum node of
    its connected component in ``edges`` (`alternating_star_components`),
    or the node itself when no edge reaches it. A converged star has one
    row per non-root node; when ``max_rounds`` cut convergence short, a
    min-agg keeps the join 1:1 (on a converged star it is a no-op, so it
    is skipped with its shuffle)."""
    stars, converged = _star_components(edges, max_rounds)
    labels = stars.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    if not converged:
        labels = labels.groupBy("node").agg(F.min("component").alias("component"))
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
    )


def hub_removal_impact(edges: DataFrame, k: int = 5) -> DataFrame:
    """Attack-robustness census: how does the graph's component
    structure change when the top-``k`` HUBS (highest undirected
    degree, ties broken by node id — fully pinned) are deleted? One
    'before' and one 'after' row with node count, component count, and
    giant-component size — the classic scale-free-network fragility
    audit (a hub-and-spoke KG shatters; a mesh barely notices).

    Semantics (pinned): degree is in the undirected simple graph; the
    'after' graph is the edge set with both endpoints outside the hub
    list — nodes left with no surviving
    edge (including the hubs) drop out of the census entirely
    (component membership is defined by edges here, matching
    component_labels' node universe).

    Scale shape: degree = one narrow aggregate; the hub list is k
    rows (broadcast anti-joins); two component runs over the same
    alternating-star machinery (adaptive driver escape at bounded
    edge counts); summaries are narrow label aggregates.
    """
    deg = _degrees(_adjacency(_undirected(edges)))
    hubs = deg.orderBy(F.desc("d"), F.asc("node")).limit(int(k)).select("node")
    kept = (
        edges.join(
            F.broadcast(hubs.withColumnRenamed("node", "src")), "src", "left_anti"
        ).join(
            F.broadcast(hubs.withColumnRenamed("node", "dst")), "dst", "left_anti"
        )
    )

    def _summary(lbls: DataFrame, phase: str) -> DataFrame:
        per = lbls.groupBy("component").agg(
            F.count(F.lit(1)).cast("long").alias("sz")
        )
        return per.agg(
            F.lit(phase).alias("phase"),
            # empty 'after' graph: 0 nodes/components, giant NULL
            F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("n_nodes"),
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.max("sz").cast("long").alias("giant_size"),
        )

    return _summary(component_labels(edges), "before").unionByName(
        _summary(component_labels(kept), "after")
    )


def local_bridges(edges: DataFrame) -> DataFrame:
    """Granovetter LOCAL BRIDGES: undirected edges whose endpoints
    share NO common neighbor — removing one lengthens the a↔b path to
    ≥ 3 hops, so these are the weak ties that connect otherwise
    separate neighborhoods (the edges an information-flow or
    contagion analysis watches; triangle-embedded ties are redundant,
    bridges are not). The edge-level complement of
    clustering_coefficients: coefficient counts a node's closed
    wedges, this names the edges in NO closed wedge.

    Semantics (pinned): the undirected simple graph; an edge
    qualifies iff |N(a) ∩ N(b)| = 0.
    Output: (a, b, deg_a, deg_b) with a < b.

    Scale shape (round-6 restructure, output row-identical and
    pytest-gated): the old shape enumerated EVERY co-neighbor pair in
    the graph (Σ C(deg(center), 2) rows — 7.6×10⁸ on the 50 k-file KG,
    a census kill) just to anti-join the ~|E| that are edges. An edge
    is triangle-embedded iff some x ∈ N(a)∩N(b), so we probe each
    edge's LOWER-degree endpoint's adjacency and semi-join the other
    endpoint (the standard degree-orientation trick): the intermediate
    is Σ_edges min(deg_a, deg_b) rows — linear-ish in edges on hubby
    graphs — and only edges are ever scored.
    """
    und = _undirected(edges)
    adj = _adjacency(und)
    deg = _degrees(adj)
    ud = (
        und.join(deg.select(F.col("node").alias("a"), F.col("d").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("deg_b")), "b")
    )
    probe = F.when(F.col("deg_a") <= F.col("deg_b"), F.col("a")).otherwise(F.col("b"))
    other = F.when(F.col("deg_a") <= F.col("deg_b"), F.col("b")).otherwise(F.col("a"))
    probed = ud.select("a", "b", "deg_a", "deg_b", probe.alias("_p"), other.alias("_o"))
    cand = probed.join(
        adj.select(F.col("node").alias("_p"), F.col("neigh").alias("_x")), "_p"
    )
    in_triangle = cand.join(
        adj.select(F.col("node").alias("_o"), F.col("neigh").alias("_x")), ["_o", "_x"],
        "left_semi",
    ).select("a", "b").distinct()
    return (
        probed.join(in_triangle, ["a", "b"], "left_anti")
        .select("a", "b", "deg_a", "deg_b")
    )


def neighbor_jaccard_topk(
    edges: DataFrame, k: int = 100, class_max_degree: int = 256
) -> DataFrame:
    """Top-k node pairs by NEIGHBOR-SET JACCARD — the classic
    structural-similarity / link-prediction score: two nodes are alike
    to the degree their open neighborhoods overlap, jac_bp =
    (10⁴·|N(a)∩N(b)|) div (|N(a)|+|N(b)|−|N(a)∩N(b)|), exact
    truncated bp. High-Jaccard NON-adjacent pairs are the missing-link
    candidates (``adjacent`` marks which is which); high-Jaccard
    adjacent pairs are role-redundant ties (the local_bridges
    complement at the pair level).

    Semantics (pinned): the undirected simple graph; only pairs sharing ≥ 1 neighbor are scored (Jaccard 0
    pairs carry no signal and would force all-pairs); deterministic
    total order (jac_bp desc, a asc, b asc) before the cut. Output:
    (a, b, inter_cnt, deg_a, deg_b, jac_bp, adjacent), ≤ k rows.

    Scale shape (round-6 restructure, output row-identical and
    pytest-gated): the score runs over the structural-equivalence
    classes of ``_class_compress`` — jac_bp, degrees and adjacency are
    uniform per class pair (neighbor_jaccard's proofs) — and the k-cut
    happens at CLASS level before any member expansion:

    * class pairs are cut to the top k by jac_bp via TakeOrdered
      (orderBy().limit(k)), then every class pair TIED with the k-th
      jac value is pulled back in (the member-level tie-break crosses
      class pairs) — since each class pair carries ≥ 1 member pair, the
      k-th member pair's jac is ≥ the k-th class pair's, so the kept
      set provably contains the answer;
    * each kept class expands only its k+1 lexicographically-smallest
      members (per-class ranked window): a member with k+1 smaller
      class-mates yields, for ANY partner, k+1 strictly smaller pairs
      at the same jac — it can never reach the top k. Expansion is
      ≤ (k+1)² per kept class pair regardless of twin-class size.
    """
    nodes, members, cls_info, cls_adj, adj, deg, und_ids = _class_compress(
        edges, class_max_degree
    )
    cls_d = cls_info.select("cls", "d", "m")
    xa = cls_adj.join(cls_d, "cls")
    x, y = xa.alias("x"), xa.alias("y")
    cross = (
        x.join(y, (F.col("x.neigh") == F.col("y.neigh")) & (F.col("x.cls") < F.col("y.cls")))
        .groupBy(F.col("x.cls").alias("ca"), F.col("y.cls").alias("cb"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("inter_cnt"),
            F.max(F.col("x.d")).cast("long").alias("deg_a"),
            F.max(F.col("y.d")).cast("long").alias("deg_b"),
        )
    )
    cls_edges = (
        und_ids.join(members.select(F.col("node").alias("a"), F.col("cls").alias("_ca")), "a")
        .join(members.select(F.col("node").alias("b"), F.col("cls").alias("_cb")), "b")
        .select(F.least("_ca", "_cb").alias("ca"), F.greatest("_ca", "_cb").alias("cb"))
        .distinct()
        .withColumn("adj_hit", F.lit(1))
    )
    cross = cross.join(cls_edges, ["ca", "cb"], "left").select(
        "ca", "cb", "inter_cnt", "deg_a", "deg_b",
        F.col("adj_hit").isNotNull().alias("adjacent"),
    )
    within = (
        cls_info.filter(F.col("m") >= 2)
        .select(
            F.col("cls").alias("ca"), F.col("cls").alias("cb"),
            F.col("d").cast("long").alias("inter_cnt"),
            F.col("d").cast("long").alias("deg_a"), F.col("d").cast("long").alias("deg_b"),
            F.lit(False).alias("adjacent"),
        )
    )
    cpairs = cross.unionByName(within).withColumn(
        "jac_bp",
        F.expr("CAST((10000 * inter_cnt) div (deg_a + deg_b - inter_cnt) AS BIGINT)"),
    )
    # class-level k-cut + tie pullback (TakeOrdered, no global sort). The
    # one-row boundary value attaches as a broadcast scalar — the plan
    # gate in tests/test_plans.py allows exactly this one-row-aggregate
    # nested-loop attach (the same sanctioned shape the scalar-total
    # queries use) while still forbidding any pair-level BNLJ.
    topc = cpairs.orderBy(F.desc("jac_bp")).limit(int(k)).agg(F.min("jac_bp").alias("_bk"))
    kept = cpairs.join(F.broadcast(topc), F.col("jac_bp") >= F.col("_bk")).drop("_bk")
    # k+1 smallest members (by node value) per class
    mem_s = members.select("cls", "node").join(
        nodes.select(F.col("nid").alias("node"), F.col("node").alias("s")), "node"
    )
    from pyspark.sql.window import Window as _W

    ranked = mem_s.withColumn(
        "_r", F.row_number().over(_W.partitionBy("cls").orderBy(F.asc("s")))
    ).filter(F.col("_r") <= int(k) + 1).select("cls", "s")
    expanded = (
        kept.join(ranked.select(F.col("cls").alias("ca"), F.col("s").alias("_sa")), "ca")
        .join(ranked.select(F.col("cls").alias("cb"), F.col("s").alias("_sb")), "cb")
        .filter((F.col("ca") != F.col("cb")) | (F.col("_sa") < F.col("_sb")))
    )
    swap = F.col("_sa") <= F.col("_sb")
    scored = expanded.select(
        F.least("_sa", "_sb").alias("a"),
        F.greatest("_sa", "_sb").alias("b"),
        "inter_cnt",
        F.when(swap, F.col("deg_a")).otherwise(F.col("deg_b")).alias("deg_a"),
        F.when(swap, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_b"),
        "jac_bp",
        "adjacent",
    )
    return scored.orderBy(
        F.desc("jac_bp"), F.asc("a"), F.asc("b")
    ).limit(int(k))


def rich_club(edges: DataFrame, ks: tuple[int, ...] = (5, 10, 20, 50)) -> DataFrame:
    """RICH-CLUB coefficient at several club sizes — do the highest-
    degree nodes preferentially link to EACH OTHER? φ(k) = 2·E_k div
    (n_k·(n_k−1)) over the top-k-degree node set, exact truncated bp.
    A high φ marks an elite core (in a vuln KG: hub files and rules
    wired into one dense nucleus — the structural complement of
    hub_removal_impact, which measures what breaks when that core is
    deleted; this measures how tight the core itself is).

    Semantics (pinned): the undirected simple graph; the club =
    first k nodes by (degree desc, node asc) — a deterministic
    TakeOrdered cut, so degree ties at the boundary resolve stably;
    clubs larger than the graph clamp to all nodes. Output: one row
    per k — (k, n_club, n_club_edges, density_bp).

    Scale shape: degree is one narrow aggregate; each club is a k-row
    TakeOrdered result BROADCAST onto the edge list (two semi-joins)
    — the edge table is never shuffled on a new key, and club sizes
    are constants.
    """
    und = _undirected(edges)
    deg = _degrees(_adjacency(und))
    spark = edges.sparkSession
    out = None
    for k in ks:
        club = deg.orderBy(F.desc("d"), F.asc("node")).limit(int(k)).select("node")
        ek = (
            und.join(
                F.broadcast(club.select(F.col("node").alias("a"))), "a", "left_semi"
            )
            .join(
                F.broadcast(club.select(F.col("node").alias("b"))), "b", "left_semi"
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_club_edges"))
        )
        row = ek.crossJoin(
            club.agg(F.count(F.lit(1)).cast("long").alias("n_club"))
        ).select(
            F.lit(int(k)).cast("long").alias("k"),
            "n_club",
            "n_club_edges",
            F.expr(
                "CAST(CASE WHEN n_club > 1 THEN (10000 * 2 * n_club_edges)"
                " div (n_club * (n_club - 1)) ELSE 0 END AS BIGINT)"
            ).alias("density_bp"),
        )
        out = row if out is None else out.unionByName(row)
    return out
