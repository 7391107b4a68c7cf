"""KG construction & graph analytics queries over the flagship extraction."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..kb.compile import AST_LANG_MAP, kb_rules_df
from ..kb.loader import load_kb
from ..operators.canonicalize import canonicalize_findings
from ..operators.graph import (
    bfs_distances,
    clustering_coefficients,
    component_labels,
    conductance_by_label,
    eccentricity_profile,
    four_cycle_census,
    greedy_matching,
    hits_scores,
    hub_removal_impact,
    hyperball_neighborhoods,
    kcore_nodes,
    label_propagation,
    local_bridges,
    metapath_census,
    modularity_by_community,
    neighbor_jaccard,
    neighbor_jaccard_topk,
    pagerank_fixed_point,
    personalized_pagerank,
    reciprocity,
    resource_allocation,
    rich_club,
    triangle_counts,
    two_hop_paths,
    walk_counts,
    wl_colors,
)
from ..operators.relational import (
    cooccurrence_lift,
    path_rollup,
    repo_risk_scores,
    severity_histogram,
    vuln_cooccurrence,
)
from ..operators.triples import (
    blast_radius,
    cwe_mix,
    defect_density,
    findings_per_file,
    message_templates,
    repo_concentration,
    rule_coverage,
    schema_graph,
    severity_by_lang,
    sink_census,
    subject_kinds,
    trace_depth_census,
)
from ..pipeline import extract
from ..sources.corpus import ingest_source_files
from ..sources.synth import (
    _TEMPLATES,
    EXPECTED_FINDINGS,
    EXPECTED_TRIPLES,
    _sq,
    kg_edges_oracle_sql,
    kg_nodes_oracle_sql,
    kg_triples_oracle_sql,
    synth_code_corpus,
)
from ._common import PERSISTED, _duck_minhash_base, _pagerank_sql_over, _t


def kg_extract_triples(spark, sf_dir):
    # flagship pipeline over the synthesized code corpus. Oracle: the corpus
    # is template-deterministic, so the expected triples are derivable in SQL
    # from `documents` alone (sources/synth.py:kg_triples_oracle_sql; the
    # constants are exhaustively verified per corpus word by
    # tests/test_kg_oracle_completeness.py). Trace flattens to the
    # reference's ' -> ' storage form (scanner.py:209) so every returned
    # column is scalar/hashable.
    return PERSISTED.kg_extraction(spark, sf_dir).triples.withColumn(
        "trace", F.array_join("trace", " -> ")
    )


def kg_canonicalize(spark, sf_dir):
    # entity linking: the salted line-span rollup over the flagship findings
    # (north-star canonicalization); one finding per key on this corpus, so
    # the oracle derives canonical rows from the template constants
    findings = PERSISTED.kg_extraction(spark, sf_dir).findings
    out = canonicalize_findings(findings, line_span=1, salt_buckets=8)
    return out.withColumn("trace", F.array_join("trace", " -> "))


def kg_graph_edges(spark, sf_dir):
    return PERSISTED.kg_extraction(spark, sf_dir).edges


def kg_graph_nodes(spark, sf_dir):
    return PERSISTED.kg_extraction(spark, sf_dir).nodes


def kg_severity_histogram(spark, sf_dir):
    # A8 severity histogram (reference cli.py:244-249) over the flagship
    # findings; oracle derives counts from the per-template finding constants
    return severity_histogram(PERSISTED.kg_extraction(spark, sf_dir).findings).withColumn(
        "n", F.col("n").cast("long")
    )


def kg_severity_histogram_sql() -> str:
    rows = [
        f"({tpl}, {_sevcount(tpl, sev)}, '{sev}')"
        for tpl in EXPECTED_FINDINGS
        for sev in sorted({f[5] for f in EXPECTED_FINDINGS[tpl]})
    ]
    return f"""
WITH per_tpl(tpl, k, severity) AS (VALUES {', '.join(rows)}),
docs AS (SELECT CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl FROM documents)
SELECT severity, CAST(sum(k) AS BIGINT) AS n
FROM docs JOIN per_tpl USING (tpl)
GROUP BY severity
"""


def _sevcount(tpl: int, sev: str) -> int:
    return sum(1 for f in EXPECTED_FINDINGS[tpl] if f[5] == sev)


def kg_node_degrees(spark, sf_dir):
    # first KG sanity metric: out-degree per subject over the edges table
    edges = PERSISTED.kg_extraction(spark, sf_dir).edges
    return edges.groupBy("src").agg(
        F.count("*").cast("long").alias("out_degree"),
        F.countDistinct("pred").cast("long").alias("n_preds"),
    )


def kg_pagerank(spark, sf_dir):
    # importance ranking over the constructed KG — fixed-point integer
    # arithmetic so the 10-iteration result is bit-exact vs the oracle
    return pagerank_fixed_point(PERSISTED.kg_extraction(spark, sf_dir).edges)


def kg_pagerank_sql(iterations: int = 10, scale: int = 10**12, dp: int = 85) -> str:
    return _pagerank_sql_over(kg_edges_oracle_sql(), iterations, scale, dp)


def kg_ppr_exposure(spark, sf_dir):
    # personalized PageRank seeded at every weakness-class node (CWE-*)
    # over the UNDIRECTED KG — "rank every entity by exposure to known
    # weakness classes": restart mass returns to the seeds, so rank decays
    # with graph distance from them (operators/graph.personalized_pagerank,
    # same 64-bit fixed-point arithmetic as kg_pagerank)
    edges = PERSISTED.kg_extraction(spark, sf_dir).edges
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    seeds = nodes.filter(F.col("node").like("CWE-%"))
    return personalized_pagerank(sym, seeds, iterations=8)


def kg_ppr_sql(iterations: int = 8, scale: int = 10**12, dp: int = 85) -> str:
    # unrolled like _kg_pagerank_sql, with three seed-conditional terms:
    # initial mass, restart base, and dangling share all go to the seeds
    # (CWE-* nodes) only. Symmetric edge table (exposure flows both ways),
    # so dangling mass is structurally zero — the term stays for parity
    # with the operator, which keeps it for general edge tables.
    parts = [
        f"WITH kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),",
        "e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM kg_e),",
        "e AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)),",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src),",
        "sc AS MATERIALIZED (SELECT count(*) AS ns FROM nodes WHERE node LIKE 'CWE-%'),",
        f"pr0 AS MATERIALIZED (SELECT node, CASE WHEN node LIKE 'CWE-%'"
        f" THEN CAST({scale} // sc.ns AS BIGINT) ELSE 0 END AS rank"
        f" FROM nodes CROSS JOIN sc),",
    ]
    for k in range(1, iterations + 1):
        prev = f"pr{k - 1}"
        parts.append(
            f"dang{k} AS MATERIALIZED (SELECT coalesce(sum(rank), 0) AS dm FROM {prev}"
            f" WHERE node NOT IN (SELECT src FROM deg)),\n"
            f"contrib{k} AS MATERIALIZED (SELECT e.dst AS node,"
            f" sum((r.rank * {dp}) // (100 * deg.d)) AS cb"
            f" FROM e JOIN {prev} r ON e.src = r.node JOIN deg ON deg.src = e.src"
            f" GROUP BY e.dst),\n"
            f"pr{k} AS MATERIALIZED (SELECT nodes.node,"
            f" CAST(CASE WHEN nodes.node LIKE 'CWE-%'"
            f" THEN ({scale} * {100 - dp}) // (100 * sc.ns)"
            f" + (dang{k}.dm * {dp}) // (100 * sc.ns) ELSE 0 END"
            f" + coalesce(contrib{k}.cb, 0) AS BIGINT) AS rank"
            f" FROM nodes CROSS JOIN sc CROSS JOIN dang{k}"
            f" LEFT JOIN contrib{k} ON contrib{k}.node = nodes.node),"
        )
    body = "\n".join(parts).rstrip(",")
    return f"{body}\nSELECT node, rank FROM pr{iterations}"


def kg_triples_diff(spark, sf_dir):
    # incremental-KG maintenance: triples added/removed between two corpus
    # versions (v2 drops every 5th doc, adds every 13th re-synthesized at
    # doc_id + 1_000_000). Two full extract() runs diffed by exceptAll on
    # the triple identity — the operation a nightly KG refresh performs.
    # 6-template corpus: the inter-file templates need contiguous doc_ids.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v2_docs = docs.filter(F.col("doc_id") % 5 != 0).union(
        docs.filter(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    res1 = extract(spark, synth_code_corpus(docs, templates=6),
                   run_id="diff-v1", enable_interfile=False)
    res2 = extract(spark, synth_code_corpus(v2_docs, templates=6),
                   run_id="diff-v2", enable_interfile=False)

    def _flat(t):
        # trace arrives as array<string>; the diff identity (and the
        # oracle) use the flattened ' -> ' form, like entry()
        return t.select(
            "subj", "pred", "obj", "line",
            F.concat_ws(" -> ", F.col("trace")).alias("trace"),
        )

    t1 = _flat(res1.triples)
    t2 = _flat(res2.triples)
    PERSISTED.hold(spark, sf_dir, "kg_triples_diff", res1, res2)
    removed = t1.exceptAll(t2).withColumn("change", F.lit("removed"))
    added = t2.exceptAll(t1).withColumn("change", F.lit("added"))
    return removed.union(added)


def kg_components(spark, sf_dir):
    # component labeling over the KG (alternating large-star/small-star);
    # every endpoint labeled with its component minimum
    return component_labels(PERSISTED.kg_extraction(spark, sf_dir).edges)


def kg_component_risk(spark, sf_dir):
    # risk blast radius per KG component: node count + HAS_VULN edge
    # count per connected component — "if this code cluster is touched,
    # how much vulnerable surface moves with it"
    edges = PERSISTED.kg_extraction(spark, sf_dir).edges
    comp = kg_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count("*").cast("long").alias("n_nodes"))
    vuln = (
        edges.filter(F.col("pred") == "HAS_VULN")
        .join(comp, edges["src"] == comp["node"])
        .groupBy("component")
        .agg(F.count("*").cast("long").alias("n_vuln_edges"))
    )
    return sizes.join(vuln, "component", "left").select(
        "component",
        "n_nodes",
        F.coalesce(F.col("n_vuln_edges"), F.lit(0)).cast("long").alias("n_vuln_edges"),
    )


def kg_component_risk_sql() -> str:
    comp = kg_components_sql().strip()
    return f"""WITH comp AS (
{comp}
),
kg_e2 AS ({kg_edges_oracle_sql()}),
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS n_nodes FROM comp GROUP BY component),
vuln AS (
  SELECT c.component, CAST(count(*) AS BIGINT) AS n_vuln_edges
  FROM kg_e2 e JOIN comp c ON c.node = e.src
  WHERE e.pred = 'HAS_VULN' GROUP BY c.component
)
SELECT s.component, s.n_nodes, CAST(coalesce(v.n_vuln_edges, 0) AS BIGINT) AS n_vuln_edges
FROM sizes s LEFT JOIN vuln v ON v.component = s.component"""


def kg_triangles(spark, sf_dir):
    # local clustering structure over the KG: per-node triangle counts via
    # degree-ordered edge orientation (never enumerates a hot node's
    # neighbor pairs — operators/graph.triangle_counts)
    return triangle_counts(PERSISTED.kg_extraction(spark, sf_dir).edges)


def kg_hyperball(spark, sf_dir):
    # neighborhood function of the knowledge graph: per-entity exact
    # <=1/<=2-hop ball sizes + truncated harmonic centrality + the p=4
    # HLL register summary of the 2-hop ball, via HyperBall max-merge
    # propagation over the symmetric KG (same operator as
    # dedup_hyperball; here it answers "how much of the graph is within
    # two hops of each file/CWE/rule entity")
    edges = PERSISTED.kg_extraction(spark, sf_dir).edges
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    return hyperball_neighborhoods(sym, nodes, p=4)


def kg_hyperball_sql() -> str:
    # balls materialized as SETs over the symmetric KG edges, then the
    # p=4 register arithmetic of _dedup_hyperball_sql on the member ids
    # (node ids are strings here, hashed directly — no CAST)
    return f"""
WITH kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM kg_e WHERE src <> dst),
sedges AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sedges),
ball1 AS (
  SELECT n.node, n.node AS member FROM nodes n
  UNION SELECT e.src, e.dst FROM sedges e),
ball2 AS (
  SELECT node, member FROM ball1
  UNION SELECT b.node, e.dst FROM ball1 b JOIN sedges e ON e.src = b.member),
bsz AS (
  SELECT b1.node, b1.n AS ball1_exact, b2.n AS ball2_exact
  FROM (SELECT node, count(*) AS n FROM ball1 GROUP BY node) b1
  JOIN (SELECT node, count(*) AS n FROM ball2 GROUP BY node) b2 ON b1.node = b2.node),
mh AS (
  SELECT node, {_duck_minhash_base('member')} AS h FROM ball2),
hregs AS (
  SELECT node, h % 16 AS bucket,
    max(CASE WHEN h // 16 = 0 THEN 29 ELSE 28 - length(bin(h // 16)) + 1 END) AS r
  FROM mh GROUP BY node, bucket),
summ AS (
  SELECT node, count(*)::BIGINT AS used_regs, (16 - count(*))::BIGINT AS zero_regs,
         sum(r)::BIGINT AS sum_rho,
         (sum(1::BIGINT << (29 - r)) + (16 - count(*)) * (1::BIGINT << 29))::BIGINT AS harmonic_scaled
  FROM hregs GROUP BY node)
SELECT b.node, ball1_exact::BIGINT AS ball1_exact, ball2_exact::BIGINT AS ball2_exact,
       (2 * (ball1_exact - 1) + (ball2_exact - ball1_exact))::BIGINT AS harmonic_x2,
       16::BIGINT AS m, used_regs, zero_regs, sum_rho, harmonic_scaled
FROM bsz b JOIN summ s ON s.node = b.node
"""


_LPA_ROUNDS = 4


def kg_label_prop(spark, sf_dir):
    # deterministic synchronous label propagation (most-frequent neighbor
    # label, ties to the minimum), FIXED 4 sweeps so the unrolled oracle
    # reproduces it exactly — operators/graph.label_propagation
    return label_propagation(PERSISTED.kg_extraction(spark, sf_dir).edges, rounds=_LPA_ROUNDS)


def kg_label_prop_sql(rounds: int = _LPA_ROUNDS) -> str:
    parts = [
        f"WITH kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),",
        "sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        " SELECT src, dst FROM kg_e WHERE src <> dst"
        " UNION ALL SELECT dst, src FROM kg_e WHERE src <> dst)),",
        # node universe from the UNFILTERED endpoints: a self-loop-only
        # node keeps its own label but must still appear (mirrors
        # label_propagation's isolated-node append)
        "allnodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ("
        " SELECT src FROM kg_e UNION ALL SELECT dst FROM kg_e)),",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym),",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"cnt{i} AS (SELECT s.src AS node, l.label, count(*) AS c"
            f" FROM sym s JOIN l{i - 1} l ON l.node = s.dst GROUP BY s.src, l.label),\n"
            f"l{i} AS MATERIALIZED (SELECT node, label FROM ("
            f" SELECT node, label, row_number() OVER (PARTITION BY node"
            f" ORDER BY c DESC, label) AS rn FROM cnt{i}) WHERE rn = 1),"
        )
    body = "\n".join(parts).rstrip(",")
    return (
        f"{body}\nSELECT node, label FROM l{rounds}\n"
        f"UNION ALL\nSELECT node, node AS label FROM allnodes\n"
        f"WHERE node NOT IN (SELECT node FROM l{rounds})"
    )


def kg_neighbor_jaccard(spark, sf_dir):
    # link-prediction / structural entity-resolution over the KG:
    # neighbor-set Jaccard between node pairs sharing >= 2 neighbors
    # (wedge join at the shared neighbor — never all-pairs; integer
    # 100*|∩| div |∪| so both engines agree bit-for-bit). "Which files
    # carry the same vuln profile / which weakness classes hit the same
    # code" — the graph-side complement of content dedup.
    return neighbor_jaccard(
        PERSISTED.kg_extraction(spark, sf_dir).edges, min_pct=50, min_common=2
    )


_KG_NEIGHBOR_JACCARD_SQL_TMPL = """
WITH kg_e AS MATERIALIZED ({edges}),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM kg_e WHERE src <> dst),
adj AS MATERIALIZED (
  SELECT a AS node, b AS neigh FROM und
  UNION ALL SELECT b AS node, a AS neigh FROM und),
deg AS MATERIALIZED (SELECT node, count(*) AS d FROM adj GROUP BY node),
wed AS (SELECT x.node AS node_a, y.node AS node_b, count(*) AS n_common
        FROM adj x JOIN adj y ON x.neigh = y.neigh AND x.node < y.node
        GROUP BY 1, 2
        HAVING count(*) >= 2)
SELECT node_a, node_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(da.d AS BIGINT) AS deg_a,
       CAST(db.d AS BIGINT) AS deg_b,
       CAST(100 * n_common // (da.d + db.d - n_common) AS BIGINT) AS jaccard_pct
FROM wed
JOIN deg da ON node_a = da.node
JOIN deg db ON node_b = db.node
WHERE 100 * n_common // (da.d + db.d - n_common) >= 50
"""


def kg_neighbor_jaccard_sql() -> str:
    return _KG_NEIGHBOR_JACCARD_SQL_TMPL.format(edges=kg_edges_oracle_sql())


def kg_source_sink_paths(spark, sf_dir):
    # SPARQL-style length-2 property path: var -TAINTED_BY-> source and
    # var -FLOWS_TO-> sink joined on the variable — "which taint sources
    # reach which sinks, through which variable" (operators/graph.py::
    # two_hop_paths, co_subject shape)
    edges = PERSISTED.kg_extraction(spark, sf_dir).edges
    return two_hop_paths(edges, "TAINTED_BY", "FLOWS_TO", shape="co_subject").select(
        F.col("node_a").alias("source"),
        F.col("mid").alias("variable"),
        F.col("node_b").alias("sink"),
    )


def kg_source_sink_sql() -> str:
    return f"""WITH kg_e AS ({kg_edges_oracle_sql()}),
a AS (SELECT dst AS source, src AS mid FROM kg_e WHERE pred = 'TAINTED_BY'),
b AS (SELECT src AS mid, dst AS sink FROM kg_e WHERE pred = 'FLOWS_TO')
SELECT DISTINCT a.source, a.mid AS variable, b.sink FROM a JOIN b ON b.mid = a.mid"""


def kg_vuln_cooccurrence(spark, sf_dir):
    # per-file vuln-type co-occurrence over the flagship findings —
    # association mining (operators/relational.py::vuln_cooccurrence);
    # ground truth from the per-template finding constants (a doc's file
    # carries exactly its template's finding types)
    return vuln_cooccurrence(PERSISTED.kg_extraction(spark, sf_dir).findings)


def kg_vuln_cooccurrence_sql() -> str:
    from itertools import combinations

    rows = []
    for tpl, findings in EXPECTED_FINDINGS.items():
        # display type carries the tier suffix: taint-tier findings (a
        # real tainted variable; 'structural' marks the Django structural
        # check, regex findings have var=None) render as "X (AST Taint)"
        types = sorted(
            {
                f"{f[0]} (AST Taint)" if f[3] not in (None, "structural") else f[0]
                for f in findings
            }
        )
        for ta, tb in combinations(types, 2):
            rows.append(f"({tpl}, '{ta}', '{tb}')")
    values = ", ".join(rows)
    return f"""
WITH tplpairs(tpl, type_a, type_b) AS (VALUES {values}),
docs AS (SELECT CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl FROM documents)
SELECT p.type_a, p.type_b, CAST(count(*) AS BIGINT) AS n_files
FROM docs d JOIN tplpairs p ON p.tpl = d.tpl
GROUP BY p.type_a, p.type_b
"""


_KCORE_K, _KCORE_ROUNDS = 2, 16


def kg_kcore(spark, sf_dir):
    # dense-part extraction: nodes of the 2-core (surviving iterated
    # removal of degree<2 nodes over the undirected simple KG) with their
    # in-core degree. Bounded identically to the oracle's unroll — early
    # stop only at a true fixpoint, where further peels are the identity.
    return kcore_nodes(
        PERSISTED.kg_extraction(spark, sf_dir).edges, k=_KCORE_K, max_rounds=_KCORE_ROUNDS
    )


def kg_kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    parts = [
        f"WITH kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b"
        " FROM kg_e WHERE src <> dst),",
    ]
    for i in range(1, rounds + 1):
        p = f"e{i - 1}"
        parts.append(
            f"alive{i} AS MATERIALIZED (SELECT node FROM ("
            f" SELECT a AS node FROM {p} UNION ALL SELECT b FROM {p})"
            f" GROUP BY node HAVING count(*) >= {k}),\n"
            f"e{i} AS MATERIALIZED (SELECT a, b FROM {p}"
            f" WHERE a IN (SELECT node FROM alive{i})"
            f" AND b IN (SELECT node FROM alive{i})),"
        )
    body = "\n".join(parts).rstrip(",")
    return (
        f"{body}\n"
        f"SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM ("
        f" SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds})"
        f" GROUP BY node HAVING count(*) >= {k}"
    )


def kg_triangles_sql() -> str:
    # orientation-free oracle: canonical sorted triangles (x<y<z) via a
    # 3-way self-join, then each triangle credits its three vertices
    return f"""
WITH kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
nodes AS MATERIALIZED (SELECT src AS node FROM kg_e UNION SELECT dst FROM kg_e),
e AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM kg_e WHERE src <> dst),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
verts AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri)
SELECT n.node, CAST(count(v.node) AS BIGINT) AS n_triangles
FROM nodes n LEFT JOIN verts v ON v.node = n.node
GROUP BY n.node
"""


def kg_reachability(spark, sf_dir):
    # BFS hop distances from the SQL-injection weakness class (CWE-89) over
    # the undirected KG — files at hop 1, co-occurring weaknesses at hop 2,
    # their files at hop 3 ... —
    # "how far is each entity from a known weakness class"; frontier BFS,
    # one job per hop (operators/graph.bfs_distances)
    edges = PERSISTED.kg_extraction(spark, sf_dir).edges
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") == "CWE-89")
    return bfs_distances(edges, seeds, max_hops=6)


def kg_reachability_sql(max_hops: int = 6) -> str:
    # UNION (not UNION ALL) recursion: (node, hop) pairs dedupe against the
    # accumulated set, so the walk is node-bounded — a path-enumerating
    # UNION ALL is exponential on this dense bipartite file<->CWE graph
    return f"""
WITH RECURSIVE kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM kg_e),
sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
walk(node, hop) AS (
  SELECT node, 0 FROM nodes WHERE node = 'CWE-89'
  UNION
  SELECT s.b, w.hop + 1 FROM walk w JOIN sym s ON s.a = w.node WHERE w.hop < {max_hops}
)
SELECT node, CAST(min(hop) AS BIGINT) AS hops FROM walk GROUP BY node
"""


def kg_components_sql() -> str:
    # AS MATERIALIZED: without it the recursive member re-evaluates the
    # whole kg_e derivation chain on every fixpoint iteration
    return f"""
WITH RECURSIVE kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM kg_e),
dir AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e),
nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
walk(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT d.b, w.lbl FROM walk w JOIN dir d ON d.a = w.node
)
SELECT node, min(lbl) AS component FROM walk GROUP BY node
"""


def kg_modularity(spark, sf_dir):
    # Partition-quality ledger over the KG
    # (operators/graph.py::modularity_by_community): per label-prop
    # community, the exact integer modularity numerator
    # q_num = 4m·e_c − d_c² (Q = Σ q_num / 4m² — the float is a
    # read-time division). "Did community detection find real
    # structure" as a cross-engine-exact table.
    edges = PERSISTED.kg_extraction(spark, sf_dir).edges
    labels = label_propagation(edges, rounds=_LPA_ROUNDS)
    return modularity_by_community(edges, labels)


def kg_modularity_sql() -> str:
    return f"""
WITH lp AS MATERIALIZED (SELECT * FROM ({kg_label_prop_sql()}) _lp),
kg_e2 AS MATERIALIZED ({kg_edges_oracle_sql()}),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM kg_e2 WHERE src <> dst),
mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM und),
adj AS (SELECT a AS node, b AS neigh FROM und
        UNION ALL SELECT b, a FROM und),
deg AS (SELECT node, CAST(count(*) AS HUGEINT) AS d FROM adj GROUP BY node),
nd AS (SELECT l.node, l.label, coalesce(d.d, 0) AS d
       FROM lp l LEFT JOIN deg d ON l.node = d.node),
dc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(sum(d) AS HUGEINT) AS dsum
       FROM nd GROUP BY label),
ec AS (SELECT la.label AS label, CAST(count(*) AS HUGEINT) AS ein
       FROM und u
       JOIN lp la ON u.a = la.node
       JOIN lp lb ON u.b = lb.node
       WHERE la.label = lb.label GROUP BY 1)
SELECT dc.label, dc.n_nodes,
       CAST(coalesce(ec.ein, 0) AS BIGINT) AS internal_edges,
       CAST(dc.dsum AS BIGINT) AS degree_sum,
       CAST(4 * mm.m * coalesce(ec.ein, 0) - dc.dsum * dc.dsum AS BIGINT) AS q_num
FROM dc LEFT JOIN ec ON dc.label = ec.label CROSS JOIN mm
"""


def kg_resource_alloc(spark, sf_dir):
    # Resource-allocation link prediction over the KG (operators/
    # graph.py::resource_allocation): non-adjacent node pairs scored by
    # sum(scale div deg(z)) over shared neighbors z — the weighted,
    # missing-link sibling of kg_neighbor_jaccard (a shared hub is weak
    # evidence; a shared leaf is strong).
    return resource_allocation(
        PERSISTED.kg_extraction(spark, sf_dir).edges, min_common=2
    )


_KG_RESOURCE_ALLOC_SQL_TMPL = """
WITH kg_e AS MATERIALIZED ({edges}),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM kg_e WHERE src <> dst),
adj AS MATERIALIZED (
  SELECT a AS node, b AS neigh FROM und
  UNION ALL SELECT b AS node, a AS neigh FROM und),
deg AS MATERIALIZED (SELECT node, count(*) AS d FROM adj GROUP BY node),
cw AS (SELECT node AS neigh, CAST(10000 // d AS BIGINT) AS w FROM deg),
wa AS (SELECT adj.node, adj.neigh, cw.w FROM adj JOIN cw USING (neigh)),
pairs AS (
  SELECT x.node AS node_a, y.node AS node_b,
         CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(x.w) AS BIGINT) AS ra_score_scaled
  FROM wa x JOIN wa y ON x.neigh = y.neigh AND x.node < y.node
  GROUP BY 1, 2
  HAVING count(*) >= 2)
SELECT node_a, node_b, n_common, ra_score_scaled
FROM pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM und u WHERE p.node_a = u.a AND p.node_b = u.b)
"""


def kg_resource_alloc_sql() -> str:
    return _KG_RESOURCE_ALLOC_SQL_TMPL.format(edges=kg_edges_oracle_sql())


def kg_hits(spark, sf_dir):
    # HITS hubs & authorities over the KG with engine-exact max-norm
    # (operators/graph.py::hits_scores, 2 unrolled rounds): pagerank
    # ranks by visitation, HITS separates "points at weak endpoints"
    # (hub) from "is where tainted paths land" (authority).
    return hits_scores(PERSISTED.kg_extraction(spark, sf_dir).edges, rounds=2)


_KG_HITS_SQL_TMPL = """
WITH kg_e AS MATERIALIZED ({edges}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM kg_e WHERE src <> dst),
nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
a1r AS (SELECT dst AS node, CAST(count(*) AS HUGEINT) * 10000 AS raw
        FROM e GROUP BY dst),
m1 AS (SELECT max(raw) AS m FROM a1r),
a1 AS (SELECT n.node,
              CASE WHEN m.m IS NULL OR m.m <= 0 THEN 0
                   ELSE (coalesce(a.raw, 0) * 10000) // m.m END AS s
       FROM nodes n LEFT JOIN a1r a USING (node), m1 m),
h1r AS (SELECT e.src AS node, sum(a1.s) AS raw
        FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
m2 AS (SELECT max(raw) AS m FROM h1r),
h1 AS (SELECT n.node,
              CASE WHEN m.m IS NULL OR m.m <= 0 THEN 0
                   ELSE (coalesce(h.raw, 0) * 10000) // m.m END AS s
       FROM nodes n LEFT JOIN h1r h USING (node), m2 m),
a2r AS (SELECT e.dst AS node, sum(h1.s) AS raw
        FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst),
m3 AS (SELECT max(raw) AS m FROM a2r),
a2 AS (SELECT n.node,
              CASE WHEN m.m IS NULL OR m.m <= 0 THEN 0
                   ELSE (coalesce(a.raw, 0) * 10000) // m.m END AS s
       FROM nodes n LEFT JOIN a2r a USING (node), m3 m),
h2r AS (SELECT e.src AS node, sum(a2.s) AS raw
        FROM e JOIN a2 ON e.dst = a2.node GROUP BY e.src),
m4 AS (SELECT max(raw) AS m FROM h2r),
h2 AS (SELECT n.node,
              CASE WHEN m.m IS NULL OR m.m <= 0 THEN 0
                   ELSE (coalesce(h.raw, 0) * 10000) // m.m END AS s
       FROM nodes n LEFT JOIN h2r h USING (node), m4 m)
SELECT n.node, CAST(coalesce(h2.s, 0) AS BIGINT) AS hub_scaled,
       CAST(coalesce(a2.s, 0) AS BIGINT) AS auth_scaled
FROM nodes n LEFT JOIN h2 USING (node) LEFT JOIN a2 USING (node)
"""


def kg_hits_sql() -> str:
    return _KG_HITS_SQL_TMPL.format(edges=kg_edges_oracle_sql())


def kg_clustering_coeff(spark, sf_dir):
    # per-node local clustering coefficient over the KG in exact bp
    # (operators/graph.py::clustering_coefficients): the pointwise
    # refinement of transitivity_global — which entities sit in tightly
    # interlinked neighborhoods vs pure star hubs; degree-oriented
    # triangle enumeration, NULL (not 0) below degree 2.
    return clustering_coefficients(PERSISTED.kg_extraction(spark, sf_dir).edges)


def kg_clustering_sql() -> str:
    return f"""
WITH kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
nodes AS MATERIALIZED (SELECT src AS node FROM kg_e UNION SELECT dst FROM kg_e),
e AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM kg_e WHERE src <> dst),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
verts AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri),
tc AS (
  SELECT n.node, CAST(count(v.node) AS BIGINT) AS n_triangles
  FROM nodes n LEFT JOIN verts v ON v.node = n.node
  GROUP BY n.node)
SELECT tc.node, coalesce(deg.degree, 0) AS degree, tc.n_triangles,
       CASE WHEN coalesce(deg.degree, 0) >= 2 THEN
         CAST((20000 * tc.n_triangles) // (deg.degree * (deg.degree - 1)) AS BIGINT)
       END AS lcc_bp
FROM tc LEFT JOIN deg ON tc.node = deg.node
"""


def kg_four_cycles(spark, sf_dir):
    # exact global 4-cycle census over the KG (operators/graph.py::
    # four_cycle_census): #C4 = Σ C(codeg,2)/2 over co-neighbor pairs —
    # the bipartite-core signal the triangle census is blind to (this
    # file<->CWE graph is rectangle-rich exactly where vuln profiles
    # repeat across files).
    return four_cycle_census(PERSISTED.kg_extraction(spark, sf_dir).edges)


def kg_four_cycles_sql() -> str:
    return f"""
WITH kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM kg_e WHERE src <> dst),
adj AS MATERIALIZED (
  SELECT a AS node, b AS neigh FROM und
  UNION ALL SELECT b AS node, a AS neigh FROM und),
cop AS (
  SELECT x.node AS u, y.node AS v, CAST(count(*) AS HUGEINT) AS c
  FROM adj x JOIN adj y ON x.neigh = y.neigh AND x.node < y.node
  GROUP BY 1, 2)
SELECT CAST(count(*) AS BIGINT) AS n_copair_rows,
       CAST(sum(c) AS BIGINT) AS n_wedges,
       CAST(sum(CASE WHEN c >= 2 THEN (c * (c - 1)) // 2 ELSE 0 END) // 2
            AS BIGINT) AS n_four_cycles
FROM cop
"""


def kg_katz(spark, sf_dir):
    # truncated Katz centrality over the KG as EXACT walk counts
    # (operators/graph.py::walk_counts, 3 rounds, alpha = 1/4): walks of
    # length 1-3 ending at each node plus the division-free Katz
    # numerator 16·w1 + 4·w2 + w3 — the attenuated-inflow sibling of
    # pagerank (visitation) and HITS (mutual reinforcement), and the
    # only one of the three with not even a flooring step.
    return walk_counts(PERSISTED.kg_extraction(spark, sf_dir).edges, rounds=3)


_KG_KATZ_SQL_TMPL = """
WITH kg_e AS MATERIALIZED ({edges}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM kg_e WHERE src <> dst),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
w1 AS (SELECT dst AS node, CAST(count(*) AS HUGEINT) AS w FROM e GROUP BY dst),
w2 AS (SELECT e.dst AS node, sum(w1.w) AS w
       FROM e JOIN w1 ON e.src = w1.node GROUP BY e.dst),
w3 AS (SELECT e.dst AS node, sum(w2.w) AS w
       FROM e JOIN w2 ON e.src = w2.node GROUP BY e.dst)
SELECT n.node,
       CAST(coalesce(w1.w, 0) AS BIGINT) AS walks_1,
       CAST(coalesce(w2.w, 0) AS BIGINT) AS walks_2,
       CAST(coalesce(w3.w, 0) AS BIGINT) AS walks_3,
       CAST(16 * coalesce(w1.w, 0) + 4 * coalesce(w2.w, 0) + coalesce(w3.w, 0)
            AS BIGINT) AS katz_scaled
FROM nodes n
LEFT JOIN w1 USING (node) LEFT JOIN w2 USING (node) LEFT JOIN w3 USING (node)
"""


def kg_katz_sql() -> str:
    return _KG_KATZ_SQL_TMPL.format(edges=kg_edges_oracle_sql())


def kg_metapaths(spark, sf_dir):
    # co-subject metapath census over the KG (operators/graph.py::
    # metapath_census): unordered predicate pairs sharing a source
    # entity, counted WITHOUT materializing a single pair row beyond
    # per-(node, pred) counts — (TAINTED_BY, FLOWS_TO) counts variables
    # that both carry a taint source and reach a sink. The chain shape
    # is structurally empty on this bipartite KG (src∩dst = ∅), which
    # the census itself surfaces.
    return metapath_census(PERSISTED.kg_extraction(spark, sf_dir).edges, shape="co_subject")


_KG_METAPATHS_SQL_TMPL = """
WITH kg_e AS MATERIALIZED ({edges}),
e AS (SELECT DISTINCT src, pred, dst FROM kg_e WHERE src <> dst),
pc AS (SELECT src AS node, pred, CAST(count(*) AS HUGEINT) AS c
       FROM e GROUP BY 1, 2),
pairs AS (
  SELECT a.pred AS pred_a, b.pred AS pred_b, a.node,
         CASE WHEN a.pred < b.pred THEN a.c * b.c
              ELSE (a.c * (a.c - 1)) // 2 END AS np
  FROM pc a JOIN pc b ON a.node = b.node AND a.pred <= b.pred)
SELECT pred_a, pred_b,
       CAST(sum(np) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT node) AS BIGINT) AS n_mid_nodes
FROM pairs
GROUP BY 1, 2
HAVING sum(np) > 0
"""


def kg_metapaths_sql() -> str:
    return _KG_METAPATHS_SQL_TMPL.format(edges=kg_edges_oracle_sql())


def kg_reciprocity(spark, sf_dir):
    # directed-edge reciprocity of the KG (operators/graph.py::
    # reciprocity): share of distinct directed edges whose reverse edge
    # exists, in exact basis points — a FLOWS_TO that ever flows back is
    # a cycle smell worth auditing. No self-join: unordered-pair groupBy.
    return reciprocity(PERSISTED.kg_extraction(spark, sf_dir).edges)


_KG_RECIPROCITY_SQL_TMPL = """
WITH kg_e AS MATERIALIZED ({edges}),
e AS (SELECT DISTINCT src, dst FROM kg_e WHERE src <> dst),
pairs AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                 count(*) AS n_dirs
          FROM e GROUP BY 1, 2)
SELECT CAST(sum(n_dirs) AS BIGINT) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN n_dirs = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mutual_pairs,
       CAST(10000 * 2 * sum(CASE WHEN n_dirs = 2 THEN 1 ELSE 0 END)
            // sum(n_dirs) AS BIGINT) AS reciprocity_bp
FROM pairs
"""


def kg_reciprocity_sql() -> str:
    return _KG_RECIPROCITY_SQL_TMPL.format(edges=kg_edges_oracle_sql())


def kg_eccentricity(spark, sf_dir):
    # pivot-based eccentricity/closeness profile (operators/graph.py::
    # eccentricity_profile): full BFS from each of the 4 highest-degree
    # nodes (deterministic tie-break); max(ecc) over the profile is the
    # textbook diameter lower bound. Frontier BFS per pivot, one job per
    # hop.
    return eccentricity_profile(
        PERSISTED.kg_extraction(spark, sf_dir).edges, n_pivots=4, max_hops=8
    )


_KG_ECCENTRICITY_SQL_TMPL = """
WITH RECURSIVE kg_e AS MATERIALIZED ({edges}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM kg_e WHERE src <> dst),
sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY 1),
piv AS MATERIALIZED (SELECT node, degree FROM deg
                     ORDER BY degree DESC, node ASC LIMIT 4),
walk(pivot_node, node, hop) AS (
  SELECT node, node, 0 FROM piv
  UNION
  SELECT w.pivot_node, s.b, w.hop + 1 FROM walk w JOIN sym s ON s.a = w.node
  WHERE w.hop < 8
),
md AS (SELECT pivot_node, node, min(hop) AS hops FROM walk GROUP BY 1, 2)
SELECT md.pivot_node, p.degree,
       CAST(count(*) AS BIGINT) AS n_reached,
       CAST(max(hops) AS BIGINT) AS ecc,
       CAST(sum(hops) AS BIGINT) AS sum_hops,
       CAST(CASE WHEN sum(hops) > 0
                 THEN 10000 * (count(*) - 1) // sum(hops) END AS BIGINT)
         AS closeness_bp
FROM md JOIN piv p ON p.node = md.pivot_node
GROUP BY 1, 2
"""


def kg_eccentricity_sql() -> str:
    return _KG_ECCENTRICITY_SQL_TMPL.format(edges=kg_edges_oracle_sql())


def kg_wl_colors(spark, sf_dir):
    # Weisfeiler-Lehman color refinement, 2 rounds (operators/graph.py::
    # wl_colors): structural-role census — nodes share a color iff 1-WL
    # cannot tell their 2-hop neighborhood shapes apart; labels are dense
    # ranks in BINARY STRING ORDER of the signature so the label values
    # themselves (not just the partition) are engine-reproducible.
    return wl_colors(PERSISTED.kg_extraction(spark, sf_dir).edges, rounds=2)


_KG_WL_SQL_TMPL = """
WITH kg_e AS MATERIALIZED ({edges}),
e AS (SELECT DISTINCT src, dst FROM kg_e WHERE src <> dst),
sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
c0 AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS color FROM sym GROUP BY 1),
s1 AS (SELECT s.a AS node, c.color AS nc FROM sym s JOIN c0 c ON c.node = s.b),
g1 AS (SELECT node, string_agg(CAST(nc AS VARCHAR), ',' ORDER BY nc) AS ns
       FROM s1 GROUP BY 1),
sig1 AS (SELECT c0.node, CAST(c0.color AS VARCHAR) || '|' || g1.ns AS sig
         FROM c0 JOIN g1 USING (node)),
r1 AS (SELECT sig, CAST(row_number() OVER (ORDER BY sig) AS BIGINT) AS color
       FROM (SELECT DISTINCT sig FROM sig1)),
c1 AS MATERIALIZED (SELECT sig1.node, r1.color FROM sig1 JOIN r1 USING (sig)),
s2 AS (SELECT s.a AS node, c.color AS nc FROM sym s JOIN c1 c ON c.node = s.b),
g2 AS (SELECT node, string_agg(CAST(nc AS VARCHAR), ',' ORDER BY nc) AS ns
       FROM s2 GROUP BY 1),
sig2 AS (SELECT c1.node, CAST(c1.color AS VARCHAR) || '|' || g2.ns AS sig
         FROM c1 JOIN g2 USING (node)),
r2 AS (SELECT sig, CAST(row_number() OVER (ORDER BY sig) AS BIGINT) AS color
       FROM (SELECT DISTINCT sig FROM sig2)),
c2 AS (SELECT sig2.node, r2.color FROM sig2 JOIN r2 USING (sig))
SELECT node, color,
       CAST(count(*) OVER (PARTITION BY color) AS BIGINT) AS class_size
FROM c2
"""


def kg_wl_colors_sql() -> str:
    return _KG_WL_SQL_TMPL.format(edges=kg_edges_oracle_sql())


def kg_greedy_matching(spark, sf_dir):
    # deterministic distributed greedy matching (operators/graph.py::
    # greedy_matching, 3 local-min rounds): an edge matches iff its
    # lexicographic key is minimal at BOTH endpoints — local minima never
    # share a node, so every round adds an independent edge set with no
    # coordination. The coarsening / one-to-one assignment primitive.
    return greedy_matching(PERSISTED.kg_extraction(spark, sf_dir).edges, rounds=3)


def kg_matching_sql() -> str:
    sql = f"""WITH kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
r0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b,
         least(src, dst) || '|' || greatest(src, dst) AS k
  FROM kg_e WHERE src <> dst)"""
    selects = []
    for rnd in (1, 2, 3):
        p = f"r{rnd - 1}"
        sql += f""",
mk{rnd} AS (SELECT node, min(k) AS mk FROM (
  SELECT a AS node, k FROM {p} UNION ALL SELECT b, k FROM {p}) GROUP BY 1),
m{rnd} AS MATERIALIZED (SELECT {p}.a, {p}.b, {p}.k FROM {p}
  JOIN mk{rnd} x ON x.node = {p}.a AND x.mk = {p}.k
  JOIN mk{rnd} y ON y.node = {p}.b AND y.mk = {p}.k),
mn{rnd} AS (SELECT a AS node FROM m{rnd} UNION SELECT b FROM m{rnd}),
r{rnd} AS MATERIALIZED (SELECT e.a, e.b, e.k FROM {p} e
  WHERE e.a NOT IN (SELECT node FROM mn{rnd})
    AND e.b NOT IN (SELECT node FROM mn{rnd}))"""
        selects.append(
            f"SELECT a, b, CAST({rnd} AS BIGINT) AS matched_round FROM m{rnd}"
        )
    return sql + "\n" + "\nUNION ALL\n".join(selects)


def kg_schema_graph(spark, sf_dir):
    # class-level KG summary (operators/triples.py::schema_graph): the
    # ontology view — distinct triple counts per (subj_kind, pred,
    # obj_kind) with entity counts on both sides; the drift alarm for a
    # new structural edge class.
    return schema_graph(PERSISTED.kg_extraction(spark, sf_dir).triples)


def kg_schema_graph_sql() -> str:
    return f"""
WITH kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
n AS MATERIALIZED ({kg_nodes_oracle_sql()}),
e AS (SELECT DISTINCT src, pred, dst FROM kg_e)
SELECT ns.kind AS subj_kind, e.pred, no.kind AS obj_kind,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT e.src) AS BIGINT) AS n_subjects,
       CAST(count(DISTINCT e.dst) AS BIGINT) AS n_objects
FROM e JOIN n ns ON ns.node_id = e.src JOIN n no ON no.node_id = e.dst
GROUP BY 1, 2, 3
"""


def kg_rule_coverage(spark, sf_dir):
    # catalog-coverage census (operators/triples.py::rule_coverage):
    # every identified regex rule in the KB against the MATCHES_RULE
    # triples it fired — silent rules (n_matches = 0) are the audit
    # output; broadcast LEFT join FROM the tiny catalog so zeros
    # survive.
    return rule_coverage(
        PERSISTED.kg_extraction(spark, sf_dir).triples, kb_rules_df(spark, load_kb())
    )


def kg_rule_coverage_sql() -> str:
    # the catalog side is the same public rule data kb_rules_df explodes
    # (kb/default_rules.py), enumerated here as literals in kb_rules_df's
    # row order (general '*' rules first, then per-language)
    kb = load_kb()
    langs = ("python", "java", "javascript", "php", "ruby")
    rows = []
    for vt in kb.vuln_types():
        for r in kb.general_regex(vt):
            if r.get("id"):
                rows.append((r["id"], vt, "*"))
        for lang in langs:
            for r in kb.lang_regex(vt, lang):
                if r.get("id"):
                    rows.append((r["id"], vt, lang))
    values = ",\n  ".join(
        f"('{rid}', '{vt}', '{lang}')" for rid, vt, lang in rows
    )
    return f"""
WITH t AS ({kg_triples_oracle_sql()}),
m AS (SELECT obj AS rule_id,
             CAST(count(*) AS BIGINT) AS n_matches,
             CAST(count(DISTINCT regexp_replace(subj, '#L[0-9]+$', ''))
                  AS BIGINT) AS n_files
      FROM t WHERE pred = 'MATCHES_RULE' GROUP BY 1),
cat(rule_id, vuln_type, lang) AS (VALUES
  {values})
SELECT cat.rule_id, cat.vuln_type, cat.lang,
       coalesce(m.n_matches, 0) AS n_matches,
       coalesce(m.n_files, 0) AS n_files
FROM cat LEFT JOIN m ON m.rule_id = cat.rule_id
"""


def kg_blast_radius(spark, sf_dir):
    # per-weakness-class blast radius (operators/triples.py::
    # blast_radius): files touched directly per CWE and files reachable
    # at two hops through co-occurring classes — the audit-scoping
    # census; per-file join fan-out bounded by the CWE vocabulary.
    return blast_radius(PERSISTED.kg_extraction(spark, sf_dir).triples)


def kg_blast_radius_sql() -> str:
    return f"""
WITH t AS ({kg_triples_oracle_sql()}),
fc AS (SELECT DISTINCT subj AS file, obj AS cwe FROM t
       WHERE pred = 'HAS_VULN'),
co AS (SELECT DISTINCT a.cwe AS cwe, b.cwe AS cwe2
       FROM fc a JOIN fc b ON a.file = b.file),
direct AS (SELECT cwe, CAST(count(*) AS BIGINT) AS n_files_direct
           FROM fc GROUP BY 1),
two_hop AS (SELECT cwe, CAST(count(*) AS BIGINT) AS n_files_2hop
            FROM (SELECT DISTINCT co.cwe, fc.file
                  FROM co JOIN fc ON fc.cwe = co.cwe2)
            GROUP BY 1),
neigh AS (SELECT cwe, CAST(count(*) AS BIGINT) AS n_cooccurring_cwes
          FROM co WHERE cwe <> cwe2 GROUP BY 1)
SELECT d.cwe, d.n_files_direct,
       coalesce(n.n_cooccurring_cwes, 0) AS n_cooccurring_cwes,
       coalesce(h.n_files_2hop, 0) AS n_files_2hop
FROM direct d
LEFT JOIN neigh n ON n.cwe = d.cwe
LEFT JOIN two_hop h ON h.cwe = d.cwe
"""


def kg_conductance(spark, sf_dir):
    # community-quality audit over the KG (operators/graph.py::
    # conductance_by_label): conductance φ = cut div min(vol, vol̄) in
    # exact bp for every label-propagation community — modularity's
    # per-community complement (kg_modularity scores the partition;
    # this names the leaky clusters). Labels from the same pinned
    # 4-sweep LPA as kg_label_prop, so the two queries compose.
    edges = PERSISTED.kg_extraction(spark, sf_dir).edges
    return conductance_by_label(
        edges, label_propagation(edges, rounds=_LPA_ROUNDS)
    )


def kg_conductance_sql() -> str:
    # the LPA oracle (itself a full WITH...SELECT) embeds as a
    # parenthesized subquery CTE; DuckDB allows nested WITH
    return f"""
WITH labels AS MATERIALIZED ({kg_label_prop_sql()}),
kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM kg_e WHERE src <> dst),
adj AS (SELECT a AS node FROM und UNION ALL SELECT b FROM und),
deg AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS d
                     FROM adj GROUP BY 1),
el AS (SELECT la.label AS l_a, lb.label AS l_b
       FROM und u
       JOIN labels la ON la.node = u.a
       JOIN labels lb ON lb.node = u.b),
cut AS (SELECT label, CAST(count(*) AS BIGINT) AS cut_edges FROM (
          SELECT l_a AS label FROM el WHERE l_a <> l_b
          UNION ALL SELECT l_b FROM el WHERE l_a <> l_b) GROUP BY 1),
vol AS (SELECT l.label, CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(coalesce(sum(deg.d), 0) AS BIGINT) AS vol
        FROM labels l LEFT JOIN deg ON deg.node = l.node GROUP BY 1),
tot AS (SELECT sum(vol) AS tv FROM vol)
SELECT v.label, v.n_nodes, v.vol,
       CAST(coalesce(c.cut_edges, 0) AS BIGINT) AS cut_edges,
       CAST((10000 * coalesce(c.cut_edges, 0))
            // least(v.vol, tot.tv - v.vol) AS BIGINT) AS phi_bp
FROM vol v CROSS JOIN tot LEFT JOIN cut c ON c.label = v.label
WHERE v.vol > 0 AND v.vol < tot.tv
"""


def kg_path_rollup(spark, sf_dir):
    # hierarchical directory rollup of the flagship findings
    # (operators/relational.py::path_rollup): every finding credits ALL
    # its ancestor directories — the treemap a security dashboard draws
    # (which subtree is riskiest); per prefix: depth, findings, distinct
    # files, CRITICAL count. Oracle from the per-template finding
    # constants (template paths' directory parts are placeholder-free).
    return path_rollup(PERSISTED.kg_extraction(spark, sf_dir).findings)


def kg_path_rollup_sql() -> str:
    rows = []
    for tpl, (path_t, _) in EXPECTED_TRIPLES.items():
        parts = path_t.split("/")[:-1]
        n_f = len(EXPECTED_FINDINGS[tpl])
        n_c = sum(1 for f in EXPECTED_FINDINGS[tpl] if f[5] == "CRITICAL")
        if n_f == 0:  # index-only companion (tpl 6): its files never
            continue  # appear in findings, so they credit no subtree
        for d in range(1, len(parts) + 1):
            prefix = "/".join(parts[:d])
            assert "§" not in prefix, "dir prefix must be placeholder-free"
            rows.append(f"({tpl}, '{prefix}', {d}, {n_f}, {n_c})")
    return f"""
WITH docs AS (SELECT CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl
              FROM documents),
per_tpl(tpl, dir, depth, n_f, n_c) AS (VALUES {', '.join(rows)})
SELECT dir, CAST(depth AS INT) AS depth,
       CAST(sum(n_f) AS BIGINT) AS n_findings,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_c) AS BIGINT) AS n_critical
FROM docs JOIN per_tpl USING (tpl)
GROUP BY dir, depth
"""


def kg_cwe_lift(spark, sf_dir):
    # association LIFT over per-file vuln-type co-occurrence
    # (operators/relational.py::cooccurrence_lift) —
    # kg_vuln_cooccurrence's normalized twin: 10⁴ = independence,
    # above = the pair clusters in the same files (systemic pattern).
    # Same distinct-(repo, path, type) base, so the reports reconcile.
    return cooccurrence_lift(PERSISTED.kg_extraction(spark, sf_dir).findings)


def kg_cwe_lift_sql() -> str:
    from itertools import combinations

    type_rows, pair_rows = [], []
    for tpl, findings in EXPECTED_FINDINGS.items():
        types = sorted(
            {
                f"{f[0]} (AST Taint)" if f[3] not in (None, "structural") else f[0]
                for f in findings
            }
        )
        if not types:  # index-only companion: not in the findings base
            continue
        for t in types:
            type_rows.append(f"({tpl}, '{t}')")
        for ta, tb in combinations(types, 2):
            pair_rows.append(f"({tpl}, '{ta}', '{tb}')")
    return f"""
WITH docs AS (SELECT CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl
              FROM documents),
tcnt AS (SELECT tpl, CAST(count(*) AS BIGINT) AS nd FROM docs GROUP BY 1),
tpl_types(tpl, t) AS (VALUES {', '.join(type_rows)}),
tpl_pairs(tpl, ta, tb) AS (VALUES {', '.join(pair_rows)}),
marg AS (SELECT t, CAST(sum(nd) AS BIGINT) AS n_t
         FROM tpl_types JOIN tcnt USING (tpl) GROUP BY 1),
pairs AS (SELECT ta, tb, CAST(sum(nd) AS BIGINT) AS n_both
          FROM tpl_pairs JOIN tcnt USING (tpl) GROUP BY 1, 2),
tot AS (SELECT CAST(sum(nd) AS BIGINT) AS n_total FROM tcnt
        WHERE tpl IN (SELECT DISTINCT tpl FROM tpl_types))
SELECT pairs.ta AS type_a, pairs.tb AS type_b, n_both,
       ma.n_t AS n_a, mb.n_t AS n_b, tot.n_total,
       CAST((10000 * tot.n_total * n_both) // (ma.n_t * mb.n_t) AS BIGINT)
         AS lift_bp
FROM pairs
JOIN marg ma ON ma.t = pairs.ta
JOIN marg mb ON mb.t = pairs.tb
CROSS JOIN tot
"""


def kg_hub_removal(spark, sf_dir):
    # attack-robustness census over the KG
    # (operators/graph.py::hub_removal_impact): delete the top-5
    # undirected-degree hubs (tie-break pinned) and compare component
    # structure before/after — node count, component count, giant
    # component size. The scale-free-fragility audit kg_blast_radius's
    # per-CWE scoping complements with a structural whole-graph view.
    return hub_removal_impact(PERSISTED.kg_extraction(spark, sf_dir).edges, k=5)


def kg_hub_removal_sql(k: int = 5) -> str:
    return f"""
WITH RECURSIVE kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM kg_e),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst),
adj AS (SELECT a AS node FROM und UNION ALL SELECT b FROM und),
deg AS MATERIALIZED (SELECT node, count(*) AS d FROM adj GROUP BY 1),
hubs AS MATERIALIZED (
  SELECT node FROM deg ORDER BY d DESC, node ASC LIMIT {int(k)}),
e2 AS MATERIALIZED (
  SELECT src, dst FROM e
  WHERE src NOT IN (SELECT node FROM hubs)
    AND dst NOT IN (SELECT node FROM hubs)),
dir1 AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e),
nodes1 AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
dir2 AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM e2 UNION ALL SELECT dst, src FROM e2),
nodes2 AS MATERIALIZED (
  SELECT src AS node FROM e2 UNION SELECT dst FROM e2),
walk1(node, lbl) AS (
  SELECT node, node FROM nodes1
  UNION
  SELECT d.b, w.lbl FROM walk1 w JOIN dir1 d ON d.a = w.node),
walk2(node, lbl) AS (
  SELECT node, node FROM nodes2
  UNION
  SELECT d.b, w.lbl FROM walk2 w JOIN dir2 d ON d.a = w.node),
c1 AS (SELECT comp, count(*) AS sz FROM (
         SELECT node, min(lbl) AS comp FROM walk1 GROUP BY 1) GROUP BY 1),
c2 AS (SELECT comp, count(*) AS sz FROM (
         SELECT node, min(lbl) AS comp FROM walk2 GROUP BY 1) GROUP BY 1)
SELECT 'before' AS phase, CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_nodes,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(max(sz) AS BIGINT) AS giant_size
FROM c1
UNION ALL
SELECT 'after', CAST(coalesce(sum(sz), 0) AS BIGINT),
       CAST(count(*) AS BIGINT), CAST(max(sz) AS BIGINT)
FROM c2
"""


def kg_local_bridges(spark, sf_dir):
    # Granovetter local bridges over the KG
    # (operators/graph.py::local_bridges): undirected edges whose
    # endpoints share no common neighbor — the weak ties connecting
    # otherwise separate neighborhoods, the edge-level complement of
    # kg_clustering_coeff (which counts a node's closed wedges; this
    # names the edges in NO closed wedge). Wedge equi-join + anti-join,
    # never all-pairs.
    return local_bridges(PERSISTED.kg_extraction(spark, sf_dir).edges)


def kg_local_bridges_sql() -> str:
    return f"""
WITH kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
e AS (SELECT DISTINCT src, dst FROM kg_e),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst),
adj AS MATERIALIZED (
  SELECT a AS node, b AS nb FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
wedge AS (SELECT DISTINCT x.node AS a, y.node AS b
          FROM adj x JOIN adj y ON x.nb = y.nb AND x.node < y.node)
SELECT u.a, u.b, da.d AS deg_a, db.d AS deg_b
FROM und u
LEFT JOIN wedge w ON w.a = u.a AND w.b = u.b
JOIN deg da ON da.node = u.a
JOIN deg db ON db.node = u.b
WHERE w.a IS NULL
"""


def kg_neighbor_jaccard_topk(spark, sf_dir):
    # top-k node pairs by neighbor-set Jaccard over the KG
    # (operators/graph.py::neighbor_jaccard_topk): exact truncated-bp
    # structural similarity / link prediction — high-Jaccard
    # NON-adjacent pairs are the missing-link candidates, adjacent
    # ones the role-redundant ties (pair-level complement of
    # kg_local_bridges). Same wedge equi-join as local bridges (never
    # all-pairs), TakeOrdered cut, deterministic tiebreak.
    return neighbor_jaccard_topk(PERSISTED.kg_extraction(spark, sf_dir).edges, k=100)


def kg_neighbor_jaccard_topk_sql(k: int = 100) -> str:
    return f"""
WITH kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
e AS (SELECT DISTINCT src, dst FROM kg_e),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst),
adj AS MATERIALIZED (
  SELECT a AS node, b AS nb FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
inter AS (SELECT x.node AS a, y.node AS b, CAST(count(*) AS BIGINT) AS inter_cnt
          FROM adj x JOIN adj y ON x.nb = y.nb AND x.node < y.node
          GROUP BY 1, 2)
SELECT i.a, i.b, i.inter_cnt, da.d AS deg_a, db.d AS deg_b,
       CAST((10000 * i.inter_cnt) // (da.d + db.d - i.inter_cnt) AS BIGINT)
         AS jac_bp,
       (u.a IS NOT NULL) AS adjacent
FROM inter i
JOIN deg da ON da.node = i.a
JOIN deg db ON db.node = i.b
LEFT JOIN und u ON u.a = i.a AND u.b = i.b
ORDER BY jac_bp DESC, i.a, i.b
LIMIT {k}
"""


def kg_repo_risk(spark, sf_dir):
    # per-repo risk scorecard over the flagship findings
    # (operators/relational.py::repo_risk_scores): severity-weighted
    # risk (CRITICAL 8 / HIGH 5 / MEDIUM 2 / LOW 1), finding and
    # affected-file counts, deterministic rank — the remediation
    # triage view beside the global A8 histogram and the directory
    # rollup. Ground truth from the per-template finding constants
    # joined to the heavy-tailed repo assignment (repo_k owns ~2k+1
    # docs), so the skewed-repo rollup is itself oracle-gated.
    return repo_risk_scores(PERSISTED.kg_extraction(spark, sf_dir).findings)


def kg_repo_risk_sql() -> str:
    W = {"CRITICAL": 8, "HIGH": 5, "MEDIUM": 2, "LOW": 1}
    rows = []
    for tpl, fs in EXPECTED_FINDINGS.items():
        nf = len(fs)
        w = sum(W.get(f[5], 1) for f in fs)
        rows.append(f"({tpl}, {nf}, {w}, {1 if nf else 0})")
    return f"""
WITH per_tpl(tpl, nf, w, hasf) AS (VALUES {', '.join(rows)}),
docs AS (SELECT 'repo_' || CAST(CAST(floor(sqrt(doc_id)) AS BIGINT) AS VARCHAR)
                  AS repo,
                CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl
         FROM documents),
per AS (SELECT repo, CAST(sum(nf) AS BIGINT) AS n_findings,
               CAST(sum(hasf) AS BIGINT) AS n_files,
               CAST(sum(w) AS BIGINT) AS risk_score
        FROM docs JOIN per_tpl USING (tpl)
        GROUP BY 1
        HAVING sum(nf) > 0)
SELECT repo, n_findings, n_files, risk_score,
       CAST(row_number() OVER (ORDER BY risk_score DESC, repo) AS BIGINT)
         AS risk_rank
FROM per
"""


def kg_trace_depth(spark, sf_dir):
    # taint-trace depth census over the flagship findings
    # (operators/triples.py::trace_depth_census): per display type,
    # findings by trace hop count — 0 = regex/structural tier, 1 =
    # direct source→sink, ≥2 = constant propagation / inter-file call
    # simulation. The direct oracle-gated evidence that the depth-3
    # simulation contributes findings (the propagation-regression
    # canary). Trace arrays reduce to lengths in-stage.
    return trace_depth_census(PERSISTED.kg_extraction(spark, sf_dir).findings)


def kg_trace_depth_sql() -> str:
    from collections import Counter

    cells: Counter = Counter()
    for tpl, fs in EXPECTED_FINDINGS.items():
        for f in fs:
            disp = (
                f"{f[0]} (AST Taint)"
                if f[3] not in (None, "structural")
                else f[0]
            )
            hops = f[6].count(" -> ") + 1 if f[6] else 0
            cells[(tpl, disp, hops)] += 1
    rows = [
        f"({tpl}, '{disp}', {hops}, {k})"
        for (tpl, disp, hops), k in sorted(cells.items())
    ]
    return f"""
WITH per_tpl(tpl, vuln_type, n_hops, k) AS (VALUES {', '.join(rows)}),
docs AS (SELECT CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl FROM documents)
SELECT vuln_type, CAST(n_hops AS BIGINT) AS n_hops,
       CAST(sum(k) AS BIGINT) AS n_findings
FROM docs JOIN per_tpl USING (tpl)
GROUP BY vuln_type, n_hops
"""


def kg_rich_club(spark, sf_dir):
    # rich-club coefficient over the KG
    # (operators/graph.py::rich_club): density among the top-k-degree
    # nodes at k = 5/10/20/50, exact bp — is the hub core wired into
    # one elite nucleus? The structural complement of kg_hub_removal
    # (which deletes the core; this measures its internal tightness).
    # Deterministic TakeOrdered clubs broadcast-semi-joined onto the
    # edge list.
    return rich_club(PERSISTED.kg_extraction(spark, sf_dir).edges)


def kg_rich_club_sql(ks: tuple = (5, 10, 20, 50)) -> str:
    vals = ", ".join(f"({k})" for k in ks)
    return f"""
WITH kg_e AS MATERIALIZED ({kg_edges_oracle_sql()}),
e AS (SELECT DISTINCT src, dst FROM kg_e),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst),
adj AS (SELECT a AS node FROM und UNION ALL SELECT b FROM und),
deg AS (SELECT node, count(*) AS d FROM adj GROUP BY 1),
ranked AS MATERIALIZED (
  SELECT node, row_number() OVER (ORDER BY d DESC, node) AS rn FROM deg),
ks(k) AS (VALUES {vals}),
club AS (SELECT ks.k, r.node FROM ks JOIN ranked r ON r.rn <= ks.k),
nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_club FROM club GROUP BY 1),
ek AS (SELECT c1.k, CAST(count(*) AS BIGINT) AS n_club_edges
       FROM und u
       JOIN club c1 ON c1.node = u.a
       JOIN club c2 ON c2.node = u.b AND c2.k = c1.k
       GROUP BY 1)
SELECT CAST(nk.k AS BIGINT) AS k, nk.n_club,
       coalesce(ek.n_club_edges, 0) AS n_club_edges,
       CASE WHEN nk.n_club > 1
            THEN CAST((10000 * 2 * coalesce(ek.n_club_edges, 0))
                      // (nk.n_club * (nk.n_club - 1)) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS density_bp
FROM nk LEFT JOIN ek USING (k)
"""


def kg_defect_density(spark, sf_dir):
    # per-language defect density over the flagship corpus + findings
    # (operators/triples.py::defect_density): findings per 100k source
    # lines, exact — the size-normalized risk view raw counts miss (a
    # language with half the findings but a tenth of the code is the
    # riskier surface). Line counts measured from the actual corpus
    # (size(split(content))), findings attached via (repo, path)
    # equi-join; zero-finding languages still report.
    files = ingest_source_files(synth_code_corpus(_t(spark, sf_dir, "documents")))
    return defect_density(files, PERSISTED.kg_extraction(spark, sf_dir).findings)


def kg_defect_density_sql() -> str:
    # ground truth: per-template language (via the SAME extension map
    # the ingest stage uses), constant line count (the §-substitutions
    # never inject newlines), and finding count from the constants
    import re as _re

    rows = []
    for i, (_lang, path_t, content_t) in enumerate(_TEMPLATES):
        ext = _re.search(r"(\.[^./\\]+)$", path_t).group(1)
        lang = AST_LANG_MAP.get(ext, "other")
        nl = content_t.count("\n") + 1
        nf = len(EXPECTED_FINDINGS[i])
        rows.append(f"({i}, '{lang}', {nl}, {nf})")
    return f"""
WITH per_tpl(tpl, lang, nl, nf) AS (VALUES {', '.join(rows)}),
docs AS (SELECT CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(nl) AS BIGINT) AS total_lines,
       CAST(sum(nf) AS BIGINT) AS n_findings,
       CAST((100000 * sum(nf)) // sum(nl) AS BIGINT) AS per_100k_lines
FROM docs JOIN per_tpl USING (tpl)
GROUP BY lang
"""


def kg_severity_by_lang(spark, sf_dir):
    # severity × language matrix over the flagship findings
    # (operators/triples.py::severity_by_lang): which languages carry
    # the CRITICAL mass, row-normalized in exact bp so languages of
    # different sizes compare — the drilldown between the global A8
    # histogram and the per-repo scorecard.
    files = ingest_source_files(synth_code_corpus(_t(spark, sf_dir, "documents")))
    return severity_by_lang(files, PERSISTED.kg_extraction(spark, sf_dir).findings)


def kg_severity_by_lang_sql() -> str:
    import re as _re
    from collections import Counter

    cells: Counter = Counter()
    for i, (_lang, path_t, _content_t) in enumerate(_TEMPLATES):
        ext = _re.search(r"(\.[^./\\]+)$", path_t).group(1)
        lang = AST_LANG_MAP.get(ext, "other")
        for f in EXPECTED_FINDINGS[i]:
            cells[(i, lang, f[5])] += 1
    rows = [
        f"({tpl}, '{lang}', '{sev}', {k})"
        for (tpl, lang, sev), k in sorted(cells.items())
    ]
    return f"""
WITH per_tpl(tpl, lang, severity, k) AS (VALUES {', '.join(rows)}),
docs AS (SELECT CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl FROM documents)
SELECT lang, severity, CAST(sum(k) AS BIGINT) AS n_findings,
       CAST((10000 * sum(k)) // (sum(sum(k)) OVER (PARTITION BY lang))
            AS BIGINT) AS lang_share_bp
FROM docs JOIN per_tpl USING (tpl)
GROUP BY lang, severity
"""


def kg_message_templates(spark, sf_dir):
    # finding-message template census
    # (operators/triples.py::message_templates): digit runs collapse
    # to '#', so per-instance identifiers fold away and each row
    # counts one message CLASS — the "500 findings are really 4
    # messages" triage view and the unstable-message-text canary.
    return message_templates(PERSISTED.kg_extraction(spark, sf_dir).findings)


def kg_message_templates_sql() -> str:
    import re as _re
    from collections import Counter

    cells: Counter = Counter()
    for tpl, fs in EXPECTED_FINDINGS.items():
        for f in fs:
            disp = (
                f"{f[0]} (AST Taint)"
                if f[3] not in (None, "structural")
                else f[0]
            )
            template = _re.sub(r"[0-9]+", "#", f[2].replace("{N}", "0"))
            cells[(tpl, disp, template)] += 1
    rows = [
        f"({tpl}, '{disp}', {_sq(t)}, {k})"
        for (tpl, disp, t), k in sorted(cells.items())
    ]
    return f"""
WITH per_tpl(tpl, vuln_type, template, k) AS (VALUES {', '.join(rows)}),
docs AS (SELECT CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl FROM documents)
SELECT vuln_type, template, CAST(sum(k) AS BIGINT) AS n_findings
FROM docs JOIN per_tpl USING (tpl)
GROUP BY vuln_type, template
"""


def kg_subject_kinds(spark, sf_dir):
    # triple-shape census (operators/triples.py::subject_kinds): every
    # subject classified by fragment form (file / #L<n> line anchor /
    # #var: taint anchor) × predicate, exact bp shares — the
    # graph-consumer's first sanity check ("do FLOWS_TO edges always
    # hang off variables?") and the malformed-URI canary. Subjects
    # reduce to kinds in-stage.
    return subject_kinds(PERSISTED.kg_extraction(spark, sf_dir).triples)


def kg_subject_kinds_sql() -> str:
    import re as _re
    from collections import Counter

    cells: Counter = Counter()
    for tpl, (_path, ts) in EXPECTED_TRIPLES.items():
        for frag, pred, _obj, _line, _tr in ts:
            if frag.startswith("#var:"):
                kind = "variable"
            elif _re.search(r"#L[0-9]+$", frag):
                kind = "line"
            else:
                kind = "file"
            cells[(tpl, kind, pred)] += 1
    rows = [
        f"({tpl}, '{kind}', '{pred}', {k})"
        for (tpl, kind, pred), k in sorted(cells.items())
    ]
    return f"""
WITH per_tpl(tpl, subj_kind, pred, k) AS (VALUES {', '.join(rows)}),
docs AS (SELECT CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl FROM documents),
a AS (SELECT subj_kind, pred, CAST(sum(k) AS BIGINT) AS n_triples
      FROM docs JOIN per_tpl USING (tpl)
      GROUP BY 1, 2)
SELECT subj_kind, pred, n_triples,
       CAST((10000 * n_triples) // (sum(n_triples) OVER ()) AS BIGINT)
         AS share_bp
FROM a
"""


def kg_findings_per_file(spark, sf_dir):
    # findings-per-file histogram
    # (operators/triples.py::findings_per_file): flagged files bucketed
    # by finding count, exact bp shares — the remediation-effort shape
    # ("most flagged files need one fix; a few need a campaign").
    # Oracle from the per-template finding-count constants.
    return findings_per_file(PERSISTED.kg_extraction(spark, sf_dir).findings)


def kg_findings_per_file_sql() -> str:
    rows = [
        f"({tpl}, {len(fs)})"
        for tpl, fs in EXPECTED_FINDINGS.items()
        if len(fs) > 0
    ]
    return f"""
WITH per_tpl(tpl, nf) AS (VALUES {', '.join(rows)}),
docs AS (SELECT CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl FROM documents),
h AS (SELECT CAST(nf AS BIGINT) AS n_findings_per_file,
             CAST(count(*) AS BIGINT) AS n_files
      FROM docs JOIN per_tpl USING (tpl)
      GROUP BY 1)
SELECT n_findings_per_file, n_files,
       CAST((10000 * n_files) // (sum(n_files) OVER ()) AS BIGINT)
         AS share_bp
FROM h
"""


def kg_repo_concentration(spark, sf_dir):
    # risk-concentration Gini over repositories
    # (operators/triples.py::repo_concentration): exact sorted-rank
    # Gini of per-repo finding counts in bp — the single-number
    # companion to the kg_repo_risk scorecard (heavy-tailed repo
    # assignment makes this genuinely nonzero by construction).
    return repo_concentration(PERSISTED.kg_extraction(spark, sf_dir).findings)


def kg_repo_concentration_sql() -> str:
    rows = [f"({tpl}, {len(fs)})" for tpl, fs in EXPECTED_FINDINGS.items()]
    return f"""
WITH per_tpl(tpl, nf) AS (VALUES {', '.join(rows)}),
docs AS (SELECT 'repo_' || CAST(CAST(floor(sqrt(doc_id)) AS BIGINT) AS VARCHAR)
                  AS repo,
                CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl
         FROM documents),
per AS (SELECT repo, CAST(sum(nf) AS BIGINT) AS x
        FROM docs JOIN per_tpl USING (tpl)
        GROUP BY 1
        HAVING sum(nf) > 0),
r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, repo) AS BIGINT) AS i
      FROM per),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_repos,
             CAST(sum(x) AS BIGINT) AS total_findings,
             CAST(sum((2 * i - 1) * x) AS BIGINT) AS num
      FROM r)
SELECT n_repos, total_findings,
       CAST((10000 * (num - n_repos * total_findings))
            // (n_repos * total_findings) AS BIGINT) AS gini_bp
FROM a
"""


def kg_sink_census(spark, sf_dir):
    # sink-API census (operators/triples.py::sink_census): which
    # dangerous APIs actually drive the findings — per sink, finding
    # count, distinct vuln types reached, bp share of sink-bearing
    # findings. The API-hardening priority list a static rule
    # severity cannot give; regex-tier rows (no sink) excluded.
    return sink_census(PERSISTED.kg_extraction(spark, sf_dir).findings)


def kg_sink_census_sql() -> str:
    from collections import Counter

    counts: Counter = Counter()
    types: dict = {}
    for tpl, fs in EXPECTED_FINDINGS.items():
        for f in fs:
            if f[4] is None:
                continue
            counts[(tpl, f[4])] += 1
            disp = f"{f[0]} (AST Taint)" if f[3] not in (None, "structural") else f[0]
            types.setdefault(f[4], set()).add(disp)
    rows = [f"({tpl}, '{s}', {k})" for (tpl, s), k in sorted(counts.items())]
    nt = [f"('{s}', {len(ts)})" for s, ts in sorted(types.items())]
    return f"""
WITH per_tpl(tpl, sink, k) AS (VALUES {', '.join(rows)}),
nt(sink, n_vuln_types) AS (VALUES {', '.join(nt)}),
docs AS (SELECT CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl FROM documents),
a AS (SELECT sink, CAST(sum(k) AS BIGINT) AS n_findings
      FROM docs JOIN per_tpl USING (tpl)
      GROUP BY 1)
SELECT a.sink, a.n_findings, CAST(nt.n_vuln_types AS BIGINT) AS n_vuln_types,
       CAST((10000 * a.n_findings) // (sum(a.n_findings) OVER ()) AS BIGINT)
         AS share_bp
FROM a JOIN nt ON nt.sink = a.sink
"""


def kg_cwe_mix(spark, sf_dir):
    # headline CWE distribution (operators/triples.py::cwe_mix):
    # affected-file count + bp share per weakness class over HAS_VULN
    # edges (duplicate taggings collapse) — the executive-summary pie
    # behind kg_blast_radius's audit-scoping detail.
    return cwe_mix(PERSISTED.kg_extraction(spark, sf_dir).triples)


def kg_cwe_mix_sql() -> str:
    from collections import Counter

    cells: Counter = Counter()
    for tpl, (_path, ts) in EXPECTED_TRIPLES.items():
        cwes = {obj for _f, pred, obj, _l, _t in ts if pred == "HAS_VULN"}
        for c in cwes:
            cells[(tpl, c)] += 1
    rows = [f"({tpl}, '{c}', {k})" for (tpl, c), k in sorted(cells.items())]
    return f"""
WITH per_tpl(tpl, cwe, k) AS (VALUES {', '.join(rows)}),
docs AS (SELECT CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl FROM documents),
a AS (SELECT cwe, CAST(sum(k) AS BIGINT) AS n_files
      FROM docs JOIN per_tpl USING (tpl)
      GROUP BY 1)
SELECT cwe, n_files,
       CAST((10000 * n_files) // (sum(n_files) OVER ()) AS BIGINT)
         AS share_bp
FROM a
"""
