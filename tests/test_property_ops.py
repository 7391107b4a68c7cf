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
