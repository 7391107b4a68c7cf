"""Knowledge-graph projection: findings → triples, nodes, edges.

Pure relational (JVM-side, codegen): no UDFs. Predicates per SURVEY.md §1.3:

* (repo:path@commit,        HAS_VULN,     CWE-xxx)        — every finding with a CWE
* (repo:path@commit#line,   MATCHES_RULE, rule_id)        — regex-tier findings
* (file#var:variable,       TAINTED_BY,   source descr.)  — taint findings
* (file#var:variable,       FLOWS_TO,     sink@line)      — taint findings
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def file_uri():
    return F.concat_ws("", F.col("repo"), F.lit(":"), F.col("path"), F.lit("@"), F.col("commit"))


def findings_to_triples(findings: DataFrame, run_id: str = "run-0") -> DataFrame:
    """ONE pass: each finding emits its applicable predicates as an array of
    conditional structs, nulls filtered, exploded. The previous shape — a
    4-way union of filtered projections over the same findings DataFrame —
    re-ran the upstream plan (the whole detector stage, when findings are
    not cached) once per predicate; the explode keeps it to a single scan
    at any corpus scale."""
    base = findings.withColumn("file_uri", file_uri())
    line_uri = F.concat_ws("", F.col("file_uri"), F.lit("#L"), F.col("line"))
    var_uri = F.concat_ws("", F.col("file_uri"), F.lit("#var:"), F.col("variable"))

    def entry(cond, subj, pred: str, obj):
        return F.when(cond, F.struct(subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj")))

    entries = F.array(
        entry(F.col("cwe").isNotNull(), F.col("file_uri"), "HAS_VULN", F.col("cwe")),
        entry(F.col("rule_id").isNotNull(), line_uri, "MATCHES_RULE", F.col("rule_id")),
        entry(
            F.col("variable").isNotNull() & F.col("source").isNotNull(),
            var_uri, "TAINTED_BY", F.col("source"),
        ),
        entry(
            F.col("variable").isNotNull() & F.col("sink").isNotNull(),
            var_uri, "FLOWS_TO", F.concat_ws("", F.col("sink"), F.lit("@L"), F.col("line")),
        ),
    )
    return (
        base.select(
            F.explode(F.filter(entries, lambda x: x.isNotNull())).alias("_t"), "line", "trace"
        )
        .select(
            F.col("_t.subj").alias("subj"),
            F.col("_t.pred").alias("pred"),
            F.col("_t.obj").alias("obj"),
            "line",
            "trace",
        )
        .withColumn("run_id", F.lit(run_id))
    )


def triples_to_nodes_edges(triples: DataFrame):
    """Canonicalized node/edge tables. distinct() is a hash-aggregate shuffle
    on already-narrow columns; AQE coalesces the post-shuffle partitions.
    subj∪obj explodes in one scan (a union of two projections would re-run
    the upstream plan twice when triples are not cached)."""
    nodes = (
        triples.select(F.explode(F.array(F.col("subj"), F.col("obj"))).alias("node_id"))
        .distinct()
        .withColumn(
            "kind",
            F.when(F.col("node_id").rlike("#var:"), F.lit("entity"))
            .when(F.col("node_id").rlike("#L[0-9]+$"), F.lit("file_line"))
            .when(F.col("node_id").rlike("^CWE-"), F.lit("cwe"))
            .when(F.col("node_id").rlike("@L[0-9]+$"), F.lit("sink"))
            .when(F.col("node_id").rlike(":.*@"), F.lit("file"))
            .otherwise(F.lit("rule")),
        )
        .withColumn("label", F.col("node_id"))
    )
    edges = triples.select(
        F.col("subj").alias("src"), F.col("pred"), F.col("obj").alias("dst"), F.col("line")
    ).distinct()
    return nodes, edges


def schema_graph(triples: DataFrame) -> DataFrame:
    """Class-level summary of the KG — the "ontology view" a consumer
    reads before touching instances: per (subj_kind, pred, obj_kind)
    the distinct triple count and the distinct subject/object entity
    counts. Collapses millions of instance edges to the handful of
    structural edge classes (file -HAS_VULN-> cwe, entity -FLOWS_TO->
    sink, ...), which is both the documentation of what the extractor
    emits and the drift alarm when a new (kind, pred, kind) combination
    appears.

    Shape: triples dedupe to (subj, pred, obj), kinds come from the
    same classification ``triples_to_nodes_edges`` applies (single
    source of truth), two narrow equi-joins on node id, one
    map-side-combinable groupBy over the tiny class key."""
    nodes, _ = triples_to_nodes_edges(triples)
    kinds = nodes.select("node_id", "kind")
    e = triples.select("subj", "pred", "obj").distinct()
    return (
        e.join(
            kinds.select(F.col("node_id").alias("subj"), F.col("kind").alias("subj_kind")),
            "subj",
        )
        .join(
            kinds.select(F.col("node_id").alias("obj"), F.col("kind").alias("obj_kind")),
            "obj",
        )
        .groupBy("subj_kind", "pred", "obj_kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.count_distinct("subj").cast("long").alias("n_subjects"),
            F.count_distinct("obj").cast("long").alias("n_objects"),
        )
    )


def rule_coverage(triples: DataFrame, rules: DataFrame) -> DataFrame:
    """Catalog-coverage census: every identified REGEX rule in the
    knowledge base joined against the MATCHES_RULE triples it produced —
    the operational audit behind "which rules are dead weight on this
    corpus?". A silent rule (n_matches = 0) is either mis-ported, aimed
    at a stack the corpus doesn't contain, or masked by an earlier
    tier — all worth knowing before anyone trusts a clean scan.
    Reference: the rule catalog is the reference's public YAML
    (kb/default_rules.py provenance header); the reference itself has no
    coverage report — findings go straight to SQLite (core/db.py).

    Output per catalog rule: (rule_id, vuln_type, lang, n_matches,
    n_files) — n_files distinct files (the `repo:path@commit` prefix of
    the MATCHES_RULE subject, i.e. the `#L<line>` suffix stripped).

    Scale shape: triples filter+groupBy on the narrow rule-id key (one
    map-side-combinable shuffle; distinct-file count rides the same
    aggregate), then a broadcast LEFT join FROM the tiny catalog side so
    silent rules survive with zeros. The catalog is broadcast-sized by
    construction (tens of rows).
    """
    m = (
        triples.filter(F.col("pred") == "MATCHES_RULE")
        .select(
            F.col("obj").alias("rule_id"),
            F.regexp_replace(F.col("subj"), "#L[0-9]+$", "").alias("_file"),
        )
        .groupBy("rule_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.count_distinct("_file").cast("long").alias("n_files"),
        )
    )
    cat = rules.filter(
        (F.col("tier") == "regex") & F.col("rule_id").isNotNull()
    ).select("rule_id", "vuln_type", "lang")
    return (
        cat.join(m, "rule_id", "left")
        .select(
            "rule_id",
            "vuln_type",
            "lang",
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            F.coalesce("n_files", F.lit(0)).cast("long").alias("n_files"),
        )
    )


def blast_radius(triples: DataFrame) -> DataFrame:
    """Per-weakness-class blast radius over the HAS_VULN bipartite
    file↔CWE graph: how many files a weakness class touches directly,
    and how many it reaches at two hops (files tagged with any CWE that
    CO-OCCURS in a file with it — the classic "if we audit everything
    near CWE-89, how much of the codebase is that?" scoping question).
    Generalizes the single-source BFS (graph.bfs_distances over one
    class) to a per-class census in three bounded joins.

    Exact contract: the incidence set is DISTINCT (file, cwe) — a file's
    200 SQLi findings count once. 2-hop files INCLUDE the direct set
    (the co-occurrence relation contains the identity pair), so
    n_files_2hop ≥ n_files_direct always; n_cooccurring_cwes excludes
    the class itself.

    Scale shape: dedup first, then a per-file self-equi-join whose
    fan-out is C(k, 2) in the DISTINCT per-file class count k (bounded
    by the CWE vocabulary, not the finding count), then one join from
    the tiny (cwe, cwe) co-occurrence table back to the incidence set.
    File ids never pair with file ids.
    """
    fc = (
        triples.filter(F.col("pred") == "HAS_VULN")
        .select(F.col("subj").alias("file"), F.col("obj").alias("cwe"))
        .distinct()
    )
    a, b = fc.alias("a"), fc.alias("b")
    co = (
        a.join(b, F.col("a.file") == F.col("b.file"))
        .select(F.col("a.cwe").alias("cwe"), F.col("b.cwe").alias("cwe2"))
        .distinct()
    )
    direct = fc.groupBy("cwe").agg(
        F.count(F.lit(1)).cast("long").alias("n_files_direct")
    )
    two_hop = (
        co.join(fc.select(F.col("cwe").alias("cwe2"), "file"), "cwe2")
        .select("cwe", "file")
        .distinct()
        .groupBy("cwe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_files_2hop"))
    )
    neigh = (
        co.filter(F.col("cwe") != F.col("cwe2"))
        .groupBy("cwe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cooccurring_cwes"))
    )
    return (
        direct.join(neigh, "cwe", "left")
        .join(two_hop, "cwe", "left")
        .select(
            "cwe",
            "n_files_direct",
            F.coalesce("n_cooccurring_cwes", F.lit(0)).cast("long").alias(
                "n_cooccurring_cwes"
            ),
            F.coalesce("n_files_2hop", F.lit(0)).cast("long").alias("n_files_2hop"),
        )
    )


def trace_depth_census(findings: DataFrame) -> DataFrame:
    """TAINT-TRACE DEPTH census — the observability report on the
    propagation engine itself: per display vulnerability type, how
    many findings carry 0-hop traces (regex/structural tier — no
    dataflow), 1-hop (source reached the sink directly), 2+ hops
    (constant propagation / inter-file call simulation at work). The
    direct evidence that the depth-3 simulation actually contributes
    findings, and the first place a propagation regression shows up
    (deep buckets drain toward shallow ones).

    Semantics (pinned): n_hops = size of the trace array, NULL trace
    coalesced to 0 (Spark's size(NULL) = -1 would otherwise leak
    through). Output: (vuln_type, n_hops, n_findings).

    Scale shape: a 2-column projection (the trace array reduces to
    its length in-stage — the strings never shuffle) + one
    low-cardinality groupBy with map-side combine.
    """
    return (
        findings.select(
            "vuln_type",
            F.when(F.col("trace").isNull(), F.lit(0))
            .otherwise(F.size("trace"))
            .cast("long")
            .alias("n_hops"),
        )
        .groupBy("vuln_type", "n_hops")
        .agg(F.count(F.lit(1)).cast("long").alias("n_findings"))
    )


def defect_density(files: DataFrame, findings: DataFrame) -> DataFrame:
    """DEFECT DENSITY per language — the classic software-quality
    normalization the raw finding counts lack: findings per 100 000
    source lines, exact (density = 10⁵·n_findings div total_lines),
    beside file and line volume. A language with half the findings
    but a tenth of the code is the RISKIER surface — this is the
    report that says so.

    Semantics (pinned): line count = size(split(content, '\\n')) —
    trailing-newline files count the empty tail line, matching the
    constant-per-template oracle arithmetic; findings attach to a
    language via (repo, path) equi-join onto the corpus projection;
    languages with zero findings still report (density 0).

    Scale shape: one narrow per-lang aggregate over a 2-column
    projection (content dies in-stage), one equi-join of the
    (much smaller) findings table onto a 3-column corpus projection,
    one bounded merge. Output: (lang, n_files, total_lines,
    n_findings, per_100k_lines).
    """
    per_lang = (
        files.select(
            "lang",
            F.size(F.split(F.col("content"), "\n")).cast("long").alias("nl"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("nl").cast("long").alias("total_lines"),
        )
    )
    per_find = (
        findings.join(
            files.select("repo", "path", "lang"), ["repo", "path"]
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_findings"))
    )
    return (
        per_lang.join(per_find, "lang", "left")
        .select(
            "lang",
            "n_files",
            "total_lines",
            F.coalesce("n_findings", F.lit(0)).cast("long").alias("n_findings"),
        )
        .withColumn(
            "per_100k_lines",
            F.expr("CAST((100000 * n_findings) div total_lines AS BIGINT)"),
        )
    )


def severity_by_lang(files: DataFrame, findings: DataFrame) -> DataFrame:
    """SEVERITY × LANGUAGE matrix — the drilldown between the global A8
    histogram and the per-repo scorecard: which languages carry the
    CRITICAL mass, with each cell's exact-bp share of that language's
    findings (row-normalized, so languages of different sizes
    compare). Output: (lang, severity, n_findings, lang_share_bp).

    Scale shape: the findings table joins a 3-column corpus
    projection on (repo, path), then one bounded groupBy; the share
    windows per language over the ≤ |langs|·|severities| cell table.
    """
    cells = (
        findings.join(files.select("repo", "path", "lang"), ["repo", "path"])
        .groupBy("lang", "severity")
        .agg(F.count(F.lit(1)).cast("long").alias("n_findings"))
    )
    return cells.select(
        "lang",
        "severity",
        "n_findings",
        F.expr(
            "CAST((10000 * n_findings)"
            " div (sum(n_findings) over (partition by lang)) AS BIGINT)"
        ).alias("lang_share_bp"),
    )


def message_templates(findings: DataFrame) -> DataFrame:
    """FINDING-MESSAGE TEMPLATE census — triage by message SHAPE:
    digit runs collapse to '#' (regexp_replace(message, '[0-9]+',
    '#')), so per-instance identifiers (line numbers, generated
    variable suffixes) fold away and each (vuln_type, template) row
    counts one *class* of message. The "500 findings are really 4
    messages" view a security reviewer reads first, and the canary
    for a detector suddenly emitting unstable message text.

    Output: (vuln_type, template, n_findings).

    Scale shape: a 2-column projection (messages reduce to templates
    in-stage) + one low-cardinality groupBy with map-side combine —
    cardinality is bounded by the rule catalog, not the finding
    count.
    """
    return (
        findings.select(
            "vuln_type",
            F.regexp_replace(F.col("message"), "[0-9]+", "#").alias(
                "template"
            ),
        )
        .groupBy("vuln_type", "template")
        .agg(F.count(F.lit(1)).cast("long").alias("n_findings"))
    )


def subject_kinds(triples: DataFrame) -> DataFrame:
    """TRIPLE-SHAPE census — the KG's own data-quality profile: every
    subject classified by its fragment form (``file`` — bare file
    URI, ``line`` — ``#L<n>`` regex-tier anchor, ``variable`` —
    ``#var:<name>`` taint anchor) crossed with the predicate, with
    exact bp shares. The first thing a graph consumer checks before
    writing traversals ("do FLOWS_TO edges really always hang off
    variables?") and the canary for a projection emitting malformed
    URIs.

    Output: (subj_kind, pred, n_triples, share_bp).

    Scale shape: a 2-column projection (subjects reduce to kinds
    in-stage) + one bounded groupBy; shares window over the ≤ 3·|preds|
    cell table.
    """
    kind = (
        F.when(F.col("subj").contains("#var:"), F.lit("variable"))
        .when(F.col("subj").rlike("#L[0-9]+$"), F.lit("line"))
        .otherwise(F.lit("file"))
    )
    cells = (
        triples.select(kind.alias("subj_kind"), "pred")
        .groupBy("subj_kind", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triples"))
    )
    return cells.select(
        "subj_kind",
        "pred",
        "n_triples",
        F.expr(
            "CAST((10000 * n_triples) div (sum(n_triples) over ())"
            " AS BIGINT)"
        ).alias("share_bp"),
    )


def findings_per_file(findings: DataFrame) -> DataFrame:
    """FINDINGS-PER-FILE histogram — single-issue vs hotspot files:
    files bucketed by how many findings they carry, with exact bp
    shares of all FLAGGED files. The remediation-effort shape ("most
    flagged files need one fix; a few need a campaign") that decides
    whether triage routes by file or by finding.

    Output: (n_findings_per_file, n_files, share_bp).

    Scale shape: one narrow (repo, path) groupBy, one bounded
    histogram aggregate; shares window over the histogram only.
    """
    per = findings.groupBy("repo", "path").agg(
        F.count(F.lit(1)).cast("long").alias("n_findings_per_file")
    )
    hist = per.groupBy("n_findings_per_file").agg(
        F.count(F.lit(1)).cast("long").alias("n_files")
    )
    return hist.select(
        "n_findings_per_file",
        "n_files",
        F.expr(
            "CAST((10000 * n_files) div (sum(n_files) over ()) AS BIGINT)"
        ).alias("share_bp"),
    )


def repo_concentration(findings: DataFrame) -> DataFrame:
    """RISK-CONCENTRATION Gini over repositories — one number for "is
    the vulnerable surface concentrated or smeared": the exact Gini
    coefficient of per-repo finding counts, gini_bp =
    (10⁴·Σ(2i−n−1)·x_(i)) div (n·Σx) over counts sorted ascending
    with rank tiebreak on repo — pure integers, the rank window
    bounded by repo count. 0 = every repo equally risky; →10⁴ = one
    repo carries it all. The single-number companion to the
    kg_repo_risk scorecard (which lists; this summarizes).

    Output: 1 row (n_repos, total_findings, gini_bp).
    """
    from pyspark.sql.window import Window

    per = findings.groupBy("repo").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.orderBy(F.asc("x"), F.asc("repo"))
    ranked = per.select(
        "x", F.row_number().over(w).cast("long").alias("i")
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_repos"),
        F.sum("x").cast("long").alias("total_findings"),
        F.sum(F.expr("(2 * i - 1) * x")).cast("long").alias("_num"),
    ).select(
        "n_repos",
        "total_findings",
        # Σ(2i−1)x − n·Σx  ==  2Σi·x − (n+1)Σx, the exact sorted-rank
        # Gini numerator
        F.expr(
            "CAST((10000 * (_num - n_repos * total_findings))"
            " div (n_repos * total_findings) AS BIGINT)"
        ).alias("gini_bp"),
    )


def sink_census(findings: DataFrame) -> DataFrame:
    """SINK-API census — which dangerous APIs actually drive the
    findings: per sink function (taint findings carry it; regex-tier
    rows have none and are excluded), finding count, distinct
    vulnerability types reached through it, and the exact bp share of
    all sink-bearing findings. The API-hardening priority list
    ("wrap executeQuery first") that a rule catalog's static severity
    cannot give.

    Output: (sink, n_findings, n_vuln_types, share_bp).

    Scale shape: a 2-column projection + one bounded groupBy (sink
    vocabulary is catalog-bounded); shares window over the census
    only.
    """
    per = (
        findings.filter(F.col("sink").isNotNull())
        .groupBy("sink")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_findings"),
            F.countDistinct("vuln_type").cast("long").alias("n_vuln_types"),
        )
    )
    return per.select(
        "sink",
        "n_findings",
        "n_vuln_types",
        F.expr(
            "CAST((10000 * n_findings) div (sum(n_findings) over ())"
            " AS BIGINT)"
        ).alias("share_bp"),
    )


def cwe_mix(triples: DataFrame) -> DataFrame:
    """WEAKNESS-CLASS mix — the headline CWE distribution over the
    HAS_VULN edges: per CWE, affected-file count (each file counts
    once per class — the subject IS the file URI) and the exact bp
    share of all class taggings. The executive-summary pie behind
    kg_blast_radius's audit-scoping detail.

    Output: (cwe, n_files, share_bp).

    Scale shape: one filter + distinct + bounded groupBy (CWE
    vocabulary is catalog-bounded); shares window over the mix only.
    """
    per = (
        triples.filter(F.col("pred") == "HAS_VULN")
        .select(F.col("subj"), F.col("obj").alias("cwe"))
        .distinct()
        .groupBy("cwe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_files"))
    )
    return per.select(
        "cwe",
        "n_files",
        F.expr(
            "CAST((10000 * n_files) div (sum(n_files) over ()) AS BIGINT)"
        ).alias("share_bp"),
    )
