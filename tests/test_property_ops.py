"""Property-based gates for the round-5 algebraic operators: the
distributed formulations must equal their brute-force definitions on
arbitrary inputs, not just the handcrafted fixtures.

Spark-session-per-example is too slow for hypothesis, so each property
draws MANY random cases up front (seeded) and verifies them in one
Spark job per case family — the property style without the per-example
session cost.
"""

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def test_prefix_sum_property_random_keyspaces(spark):
    """Exclusive prefix sums over sparse/clustered/negative key sets with
    varied bucket counts equal the sequential definition."""
    from dr_source_spark.operators.prefix import global_prefix_sum

    rng = random.Random(11)
    for trial in range(6):
        n = rng.randrange(1, 120)
        keys = rng.sample(range(-50_000, 50_000), n)
        vals = [rng.randrange(0, 1000) for _ in range(n)]
        nb = rng.choice([1, 2, 7, 32, 101])
        df = spark.createDataFrame(list(zip(keys, vals)), "k long, v long")
        got = {
            r.k: r.prefix_excl
            for r in global_prefix_sum(df, "k", "v", n_buckets=nb).collect()
        }
        acc, want = 0, {}
        for k, v in sorted(zip(keys, vals)):
            want[k] = acc
            acc += v
        assert got == want, f"trial {trial} nb={nb}"


def test_interval_join_property_vs_brute_force(spark):
    """Bucketized interval join equals the O(n*m) definition for random
    points/intervals including negatives and degenerate intervals."""
    from dr_source_spark.operators.rangejoin import interval_bucket_join

    rng = random.Random(13)
    for trial in range(4):
        pts = [(i, rng.uniform(-100, 100)) for i in range(rng.randrange(1, 60))]
        ivs = []
        for j in range(rng.randrange(1, 40)):
            lo = rng.uniform(-120, 120)
            ivs.append((j, lo, lo + rng.uniform(0, 80)))
        w = rng.choice([1.0, 7.5, 32.0, 200.0])
        p = spark.createDataFrame(pts, "pid long, v double")
        i = spark.createDataFrame(ivs, "iid long, lo double, hi double")
        got = {
            (r.pid, r.iid)
            for r in interval_bucket_join(p, i, value_col="v", bucket_width=w).collect()
        }
        want = {
            (pid, iid)
            for pid, v in pts
            for iid, lo, hi in ivs
            if lo <= v <= hi
        }
        assert got == want, f"trial {trial} w={w}"


def test_asof_join_property_vs_brute_force(spark):
    """Merge-carry as-of equals the per-row argmax definition on random
    event sets with duplicate left timestamps and sparse right sides."""
    from datetime import datetime, timedelta

    from dr_source_spark.operators.asof import asof_join

    rng = random.Random(17)
    t0 = datetime(2024, 1, 1)
    for trial in range(4):
        lts = [
            (i, rng.randrange(3), t0 + timedelta(minutes=rng.randrange(200)))
            for i in range(rng.randrange(1, 50))
        ]
        # right side unique per (key, ts) by construction
        seen = set()
        rts = []
        for _ in range(rng.randrange(1, 30)):
            key, m = rng.randrange(3), rng.randrange(200)
            if (key, m) in seen:
                continue
            seen.add((key, m))
            rts.append((key, t0 + timedelta(minutes=m), float(m)))
        left = spark.createDataFrame(lts, "event_id long, user_id long, ts timestamp")
        right = spark.createDataFrame(rts, "user_id long, ts timestamp, value double")
        got = {
            r.event_id: (r.asof_ts, r.asof_value)
            for r in asof_join(left, right).collect()
        }
        for eid, key, ts in lts:
            cands = [(rt, v) for k, rt, v in rts if k == key and rt <= ts]
            want = max(cands) if cands else (None, None)
            assert got[eid] == want, f"trial {trial} event {eid}"


def test_hyperball_law_random_graphs(spark):
    """On random graphs (dense, sparse, with isolates and self-loops) the
    propagated register table equals the pure-Python sketch of each
    node's exact <=2-hop ball — the HyperBall max-merge == set-union law
    on arbitrary topology, not just the handcrafted fixture."""
    from dr_source_spark.operators.graph import hyperball_registers
    from tests.test_training_ops import _py_hyperball_regs

    rng = random.Random(23)
    for trial in range(4):
        n = rng.randrange(4, 28)
        density = rng.choice([0.08, 0.25, 0.5])
        und = [
            (a, b)
            for a in range(n)
            for b in range(a, n)
            if rng.random() < density
        ]
        sym = [(a, b) for a, b in und if a != b]
        sym += [(b, a) for a, b in sym]
        adj = {}
        for a, b in sym:
            adj.setdefault(a, set()).add(b)
        nodes_l = list(range(n))
        if not sym:
            sym = [(0, 1), (1, 0)]
            adj = {0: {1}, 1: {0}}
        edges = spark.createDataFrame(sym, "src long, dst long")
        nodes = spark.createDataFrame([(v,) for v in nodes_l], "node long")
        got = {}
        for r in hyperball_registers(edges, nodes, p=4, rounds=2).collect():
            got.setdefault(r.node, {})[r.bucket] = r.r
        for v in nodes_l:
            ball = {v} | adj.get(v, set())
            ball |= {w for u in ball for w in adj.get(u, set())}
            assert got[v] == _py_hyperball_regs(ball), (trial, v)


def test_personalized_pagerank_paths_agree_random_graphs(spark, monkeypatch):
    """Driver and distributed PPR are bit-exact on random directed graphs
    with random seed sets — including dangling nodes (the dangling-mass
    share path) and seeds that are themselves dangling."""
    from dr_source_spark.operators import graph
    from dr_source_spark.operators.graph import personalized_pagerank

    rng = random.Random(37)
    for trial in range(3):
        n = rng.randrange(5, 18)
        m = rng.randrange(n, 4 * n)
        e = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
        e = [(a, b) for a, b in e if a != b] or [(0, 1)]
        node_set = {x for p in e for x in p}
        seeds_l = rng.sample(sorted(node_set), k=max(1, len(node_set) // 3))
        edges = spark.createDataFrame(e, "src long, dst long")
        seeds = spark.createDataFrame([(s,) for s in seeds_l], "node long")
        drv = {
            r.node: r.rank
            for r in personalized_pagerank(edges, seeds, iterations=5).collect()
        }
        with monkeypatch.context() as mp:
            mp.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)  # force the distributed loop
            dist = {
                r.node: r.rank
                for r in personalized_pagerank(edges, seeds, iterations=5).collect()
            }
        assert drv == dist, trial


def test_pagerank_is_personalized_pagerank_with_every_node_seeded(spark, monkeypatch):
    """Global fixed-point PageRank equals personalized PageRank seeded at
    EVERY node, bit for bit, on random directed graphs (dangling nodes
    included) and on both routes — the identity that lets the two
    operators share one loop."""
    from dr_source_spark.operators import graph

    rng = random.Random(41)
    for trial in range(4):
        n = rng.randrange(4, 20)
        e = {(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(n, 4 * n))}
        edges = spark.createDataFrame(sorted(e), "src long, dst long")
        every = spark.createDataFrame(
            [(v,) for v in sorted({x for p in e for x in p})], "node long"
        )
        for cutoff in (graph.DRIVER_CC_MAX_EDGES, 0):
            with monkeypatch.context() as mp:
                mp.setattr(graph, "DRIVER_CC_MAX_EDGES", cutoff)
                glob = {r.node: r.rank for r in graph.pagerank_fixed_point(edges).collect()}
                ppr = {
                    r.node: r.rank
                    for r in graph.personalized_pagerank(edges, every, iterations=10).collect()
                }
            assert glob == ppr and glob, (trial, cutoff)


def test_hub_removal_counts_a_self_loop_only_survivor(spark, monkeypatch):
    """hub_removal_impact ranks hubs in the simple graph but takes its
    'after' census over the raw surviving edges, so a node whose only
    surviving edge is a self-loop is a one-node component. The kg_hub_removal
    oracle builds its 'after' nodes from the same edges, self-loops
    included: operator and oracle agree, and the row is intended."""
    import duckdb

    from dr_source_spark.operators.graph import hub_removal_impact
    from dr_source_spark.queries import kg

    # hub h; after removing it, a keeps only its self-loop, b-c survives
    edges = [("h", "a"), ("h", "b"), ("h", "c"), ("h", "d"), ("a", "a"), ("b", "c")]
    want = [("after", 3, 2, 2), ("before", 5, 1, 5)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = sorted(tuple(r) for r in hub_removal_impact(df, k=1).collect())
    assert got == want
    values = ", ".join(f"('{a}', '{b}')" for a, b in edges)
    monkeypatch.setattr(
        kg, "kg_edges_oracle_sql", lambda: f"SELECT * FROM (VALUES {values}) t(src, dst)"
    )
    assert sorted(duckdb.connect().execute(kg.kg_hub_removal_sql(k=1)).fetchall()) == want


# name -> (op(graph module, edges, labels), directed): every graph operator
# that reads its input through the simple-graph normal form.
# hub_removal_impact is left out: a self-loop-only survivor is its own
# component in the 'after' census (pinned by the test above), so a self-loop
# on an existing node changes its output.
_NORMAL_FORM_OPS = {
    "triangle_counts": (lambda g, e, lab: g.triangle_counts(e), False),
    "ktruss_edges": (lambda g, e, lab: g.ktruss_edges(e, k=3, rounds=2), False),
    "kcore_nodes": (lambda g, e, lab: g.kcore_nodes(e, k=2), False),
    "label_propagation": (lambda g, e, lab: g.label_propagation(e, rounds=3), False),
    "modularity_by_community": (lambda g, e, lab: g.modularity_by_community(e, lab), False),
    "transitivity_global": (lambda g, e, lab: g.transitivity_global(e), False),
    "clustering_coefficients": (lambda g, e, lab: g.clustering_coefficients(e), False),
    "four_cycle_census": (lambda g, e, lab: g.four_cycle_census(e), False),
    "eccentricity_profile": (lambda g, e, lab: g.eccentricity_profile(e, n_pivots=2), False),
    "wl_colors": (lambda g, e, lab: g.wl_colors(e), False),
    "greedy_matching": (lambda g, e, lab: g.greedy_matching(e), False),
    "conductance_by_label": (lambda g, e, lab: g.conductance_by_label(e, lab), False),
    "local_bridges": (lambda g, e, lab: g.local_bridges(e), False),
    "rich_club": (lambda g, e, lab: g.rich_club(e, ks=(3, 6)), False),
    "component_labels": (lambda g, e, lab: g.component_labels(e), False),
    "neighbor_jaccard": (lambda g, e, lab: g.neighbor_jaccard(e, min_pct=0, min_common=1), False),
    "resource_allocation": (lambda g, e, lab: g.resource_allocation(e), False),
    "neighbor_jaccard_topk": (lambda g, e, lab: g.neighbor_jaccard_topk(e, k=5), False),
    "hits_scores": (lambda g, e, lab: g.hits_scores(e), True),
    "walk_counts": (lambda g, e, lab: g.walk_counts(e), True),
    "reciprocity": (lambda g, e, lab: g.reciprocity(e), True),
}
# the row a self-loop-only node gets from the operators that list every endpoint
_LONE = "z99"
_LONE_ROW = {
    "label_propagation": (_LONE, _LONE),
    "component_labels": (_LONE, _LONE),
    "triangle_counts": (_LONE, 0),
    "clustering_coefficients": (_LONE, 0, 0, None),
}


# the operators with a small-graph driver route (or built on one) run on
# both routes: at the default DRIVER_CC_MAX_EDGES (driver) and at 0
_BOTH_ROUTES = (
    "triangle_counts", "four_cycle_census", "label_propagation",
    "transitivity_global", "clustering_coefficients",
)


def _rows_key(row):
    return tuple(map(str, row))


@pytest.mark.parametrize(
    "name, cutoff",
    [pytest.param(n, None, id=n) for n in _NORMAL_FORM_OPS]
    + [pytest.param(n, 0, id=f"{n}-distributed") for n in _BOTH_ROUTES],
)
def test_graph_ops_see_the_simple_graph(spark, monkeypatch, name, cutoff):
    """The normal form, operator by operator: on random edges, the output
    equals the output on the same edges plus duplicate rows, self-loops on
    their nodes and (for the undirected operators) reversed copies — value
    and dtype. A node whose only edge is a self-loop is not in the simple
    graph, but the operators that list every endpoint give it a row."""
    from dr_source_spark.operators import graph

    if cutoff is not None:
        monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", cutoff)
    op, directed = _NORMAL_FORM_OPS[name]
    rng = random.Random(sum(map(ord, name)))
    n = rng.randrange(8, 14)
    ids = [f"n{i:02d}" for i in range(n)]
    base = sorted({tuple(rng.sample(ids, 2)) for _ in range(rng.randrange(n, 3 * n))})
    if not directed:  # one orientation per undirected edge in the base
        base = sorted({(min(p), max(p)) for p in base})
    ends = sorted({v for p in base for v in p})
    noisy = base + rng.sample(base, len(base) // 2) + [(v, v) for v in rng.sample(ends, 3)]
    if not directed:
        noisy += [(b, a) for a, b in rng.sample(base, len(base) // 2)]
    noisy.append((_LONE, _LONE))
    rng.shuffle(noisy)
    labels = spark.createDataFrame(
        [(v, f"c{i % 3}") for i, v in enumerate(ends)], "node string, label string"
    )

    def run(rows):
        out = op(graph, spark.createDataFrame(rows, "src string, dst string"), labels)
        return out.schema.simpleString(), sorted(map(tuple, out.collect()), key=_rows_key)

    schema, want = run(base)
    assert want, name
    want += [_LONE_ROW[name]] if name in _LONE_ROW else []
    assert run(noisy) == (schema, sorted(want, key=_rows_key))
