"""The small-graph driver routes of operators/graph.py: one null-safe gate
(`_small_graph`), the same output as the distributed route on every
input, the wedge bound, and a fixed number of Spark jobs per call."""

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dr_source_spark.operators import graph  # noqa: E402

DEFAULT = graph.DRIVER_CC_MAX_EDGES


def _node_table(spark, e, nodes):
    return spark.createDataFrame([(v,) for v in nodes], f"node {e.schema['src'].dataType.simpleString()}")


# name -> op(spark, edges): every operator with a driver route
_ROUTED = {
    "pagerank_fixed_point": lambda s, e: graph.pagerank_fixed_point(e, iterations=4),
    "alternating_star_components": lambda s, e: graph.alternating_star_components(e),
    "bfs_distances": lambda s, e: graph.bfs_distances(e, _node_table(s, e, ["a"]), max_hops=3),
    "triangle_counts": lambda s, e: graph.triangle_counts(e),
    "four_cycle_census": lambda s, e: graph.four_cycle_census(e),
    "label_propagation": lambda s, e: graph.label_propagation(e, rounds=3),
    "hyperball_neighborhoods": lambda s, e: graph.hyperball_neighborhoods(
        e, _node_table(s, e, ["a", "b", "q"]), p=4
    ),
}


def _key(row):
    return tuple(map(str, row))


def _run(monkeypatch, cutoff, fn):
    """(schema, sorted rows) of ``fn()`` with the gate's bound at ``cutoff``."""
    with monkeypatch.context() as mp:
        mp.setattr(graph, "DRIVER_CC_MAX_EDGES", cutoff)
        out = fn()
        return out.schema.simpleString(), sorted(map(tuple, out.collect()), key=_key)


@pytest.mark.parametrize("name", list(_ROUTED))
def test_null_endpoints_take_the_distributed_route(spark, monkeypatch, name):
    """An edge with a NULL endpoint sends every operator to its
    distributed route, which handles NULL as Spark's joins and groups do:
    the default bound gives what the forced distributed route gives. (On
    the driver, PageRank, components and BFS would sort None against str
    and raise ``TypeError``.)"""
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", None), (None, "d"), ("e", "e")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    op = _ROUTED[name]
    assert _run(monkeypatch, DEFAULT, lambda: op(spark, edges)) == _run(
        monkeypatch, 0, lambda: op(spark, edges)
    )


def _noisy_graph(rng, typ: str):
    """Random edges with duplicates, self-loops, reversed copies and a
    self-loop-only node, as ``typ`` ids."""
    n = rng.randrange(10, 30)
    ids = [f"n{i:02d}" for i in range(n)] if typ == "string" else list(range(n))
    base = [tuple(rng.sample(ids, 2)) for _ in range(rng.randrange(n, 3 * n))]
    noisy = base + rng.sample(base, len(base) // 3) + [(b, a) for a, b in rng.sample(base, len(base) // 3)]
    noisy += [(v, v) for v in rng.sample(ids, 3)]
    noisy.append(("z99", "z99") if typ == "string" else (999, 999))
    rng.shuffle(noisy)
    return ids, noisy


# the wedge and linear kernels added beside PageRank, components and BFS,
# and the two operators that read triangle_counts
_NEW_KERNELS = {
    "triangle_counts": lambda e: graph.triangle_counts(e),
    "four_cycle_census": lambda e: graph.four_cycle_census(e),
    "label_propagation": lambda e: graph.label_propagation(e, rounds=4),
    "transitivity_global": lambda e: graph.transitivity_global(e),
    "clustering_coefficients": lambda e: graph.clustering_coefficients(e),
}


@pytest.mark.parametrize("shape", ["string", "long", "one-edge", "loops-only"])
@pytest.mark.parametrize("name", list(_NEW_KERNELS))
def test_driver_kernels_equal_distributed_route(spark, monkeypatch, name, shape):
    """Each new driver kernel gives the distributed route's multiset and
    dtypes on random graphs with duplicates, self-loops and reversed
    copies (string and long ids), and on graphs with no wedge: one edge,
    and self-loops only (an empty simple graph)."""
    typ = "long" if shape == "long" else "string"
    if shape == "one-edge":
        rows = [("a", "b")]
    elif shape == "loops-only":
        rows = [("a", "a"), ("b", "b"), ("a", "a")]
    else:
        _, rows = _noisy_graph(random.Random(f"{name}-{typ}"), typ)
    edges = spark.createDataFrame(rows, f"src {typ}, dst {typ}")
    op = _NEW_KERNELS[name]
    driver = _run(monkeypatch, DEFAULT, lambda: op(edges))
    assert driver == _run(monkeypatch, 0, lambda: op(edges)) and driver[1]


@pytest.mark.parametrize("typ", ["string", "long"])
def test_hyperball_routes_agree_with_absent_nodes(spark, monkeypatch, typ):
    """HyperBall's driver route equals its distributed route — registers
    from the same R_0 hash, both exact balls — with string and long ids, a
    node table that holds nodes absent from the edges and misses some edge
    endpoints (the universe is nodes ∪ endpoints)."""
    rng = random.Random(f"hyperball-{typ}")
    ids, rows = _noisy_graph(rng, typ)
    extra = ["lonely", "x-1"] if typ == "string" else [-1, 10_000]
    edges = spark.createDataFrame(rows, f"src {typ}, dst {typ}")
    nodes = spark.createDataFrame([(v,) for v in ids[::2] + extra], f"node {typ}")

    def op():
        return graph.hyperball_neighborhoods(edges, nodes, p=4)

    driver = _run(monkeypatch, DEFAULT, op)
    assert driver == _run(monkeypatch, 0, op)
    got = {r[0] for r in driver[1]}
    assert set(extra) <= got and {v for p in rows for v in p} <= got


def test_hyperball_driver_holds_only_the_edge_endpoints(spark, monkeypatch):
    """A node table larger than the bound beside a small edge set: the
    driver kernel sees the edge endpoints only, the nodes on no edge come
    from Spark, and the output is the distributed route's."""
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "d")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    ids = ["a", "c", None, "lone"] + [f"x{i:03d}" for i in range(200)]
    nodes = spark.createDataFrame([(v,) for v in ids + ids[:50]], "node string")
    cutoff = 40
    assert len(ids) > cutoff >= graph._wedge_load(graph._simple_codes(rows))

    def op():
        return graph.hyperball_neighborhoods(edges, nodes, p=4)

    want = _run(monkeypatch, 0, op)
    seen = []
    kernel = graph._driver_hyperball

    def spy(pairs, ns, *rest):
        seen.append(ns)
        return kernel(pairs, ns, *rest)

    with monkeypatch.context() as mp:
        mp.setattr(graph, "_driver_hyperball", spy)
        got = _run(monkeypatch, cutoff, op)
    assert got == want and len(got[1]) == len(ids) - 1 + 2
    assert [sorted(ns) for ns in seen] == [["a", "b", "c", "d"]]


def test_wedge_bound_sends_wedge_kernels_to_the_distributed_route(spark, monkeypatch):
    """With the bound at the edge count, a graph whose Σ d² exceeds it
    runs the wedge kernels (triangles, 4-cycles, HyperBall) distributed
    — their driver kernels are never called — and gives the distributed
    output; label propagation, a linear kernel, still takes the driver
    route at that bound."""
    und = [(f"h{h}", f"l{i}") for h in range(2) for i in range(12)] + [("l0", "l1"), ("l2", "l3")]
    edges = spark.createDataFrame(und, "src string, dst string")
    nodes = spark.createDataFrame([("h0",)], "node string")
    load = graph._wedge_load(graph._simple_codes([tuple(r) for r in und]))
    assert len(und) < load
    wedge_ops = {
        "_driver_triangles": lambda: graph.triangle_counts(edges),
        "_driver_four_cycles": lambda: graph.four_cycle_census(edges),
        "_driver_hyperball": lambda: graph.hyperball_neighborhoods(edges, nodes, p=4),
    }
    for kernel, op in wedge_ops.items():
        want = _run(monkeypatch, 0, op)
        with monkeypatch.context() as mp:
            mp.setattr(graph, kernel, lambda *a: pytest.fail(f"{kernel} ran over the wedge bound"))
            assert _run(monkeypatch, len(und), op) == want
        assert _run(monkeypatch, load, op) == want

    def lpa():
        return graph.label_propagation(edges, rounds=2)

    want = _run(monkeypatch, 0, lpa)
    with monkeypatch.context() as mp:
        calls = []
        kernel = graph._driver_label_propagation
        mp.setattr(graph, "_driver_label_propagation", lambda *a: calls.append(1) or kernel(*a))
        assert _run(monkeypatch, len(und), lpa) == want and calls


def test_wedge_load_is_sum_of_squared_simple_degrees():
    """Σ_v d_v² counts each undirected simple edge once per endpoint:
    duplicates, reversed copies and self-loops add nothing."""
    pairs = [("a", "b"), ("b", "a"), ("a", "b"), ("a", "c"), ("c", "c"), ("d", "d")]
    assert graph._wedge_load(graph._simple_codes(pairs)) == 2 * 2 + 1 + 1


# jobs per call, result collected, on a ~1 k-edge graph: the gate's
# checkpoint (two where it takes a distinct: the shuffle stage is its own
# job), the Arrow collect of the edges, and any other driver-side input
# (BFS's seeds: a distinct; HyperBall's R_0 over the endpoints, from a
# local frame). The result is a local relation, whose collect runs no
# job, except HyperBall's rows for the nodes on no edge: a broadcast
# anti-join and a distinct, three jobs.
_JOBS = {
    "pagerank_fixed_point": 3,
    "alternating_star_components": 2,
    "bfs_distances": 5,
    "triangle_counts": 2,
    "four_cycle_census": 2,
    "label_propagation": 2,
    "hyperball_neighborhoods": 6,
}


@pytest.mark.parametrize("name", list(_JOBS))
def test_driver_routes_run_a_fixed_number_of_jobs(spark, name):
    """Each driver route runs a fixed, small number of Spark jobs per call
    on a ~1 k-edge graph, whatever its round count: a change that brings
    back per-round jobs fails here."""
    rng = random.Random(7)
    ids = [f"n{i:03d}" for i in range(300)]
    rows = sorted({tuple(rng.sample(ids, 2)) for _ in range(1000)})
    edges = spark.createDataFrame(rows, "src string, dst string")
    sc = spark.sparkContext
    group = f"driver-route-{name}"
    sc.setJobGroup(group, name)
    try:
        _ROUTED[name](spark, edges).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == _JOBS[name]
