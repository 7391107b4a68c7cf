"""B1 as a pure-relational plan: no Python in the hot path.

``posexplode(split(content, '\\n'))`` → one projection that evaluates every
KB rule as a *literal* ``RLIKE`` branch (the rule set is known at plan time —
it is the driver-side KB object, no collect needed) and emits the matching
rules as an array of structs → ``explode``. Whole-stage codegen end to end;
every regex is compiled exactly ONCE by the JVM because the pattern is
foldable. (The previous shape — broadcast-joining a rule dimension and
evaluating ``RLIKE`` with a pattern COLUMN — recompiled
``java.util.regex.Pattern`` per row×rule: Spark only caches the compiled
pattern when it is foldable.)

Dialect note: the KB's shipped patterns are Java-regex compatible (verified
by the equivalence test against the Python-`re` UDF tier on the fixture
corpus). User KB overlays with Python-only constructs should use the UDF
tier (`operators/analyze.py`), which is the default pipeline path; this
plan is the scale-optimized alternative for regex-only scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kb.compile import LANGS, REGEX_LANG_MAP, _norm_severity
from ..kb.loader import KnowledgeBase


def _driver_side_rules(kb: KnowledgeBase):
    """(vuln_type, cwe, lang, rule_id, pattern, message, severity) per regex
    rule, in KB order — same rows kb_rules_df emits for tier='regex'."""
    rules = []
    for vt in kb.vuln_types():
        cwe = kb.cwe(vt)
        for r in kb.general_regex(vt):
            rules.append((vt, cwe, "*", r.get("id"), r.get("pattern"), r.get("message"),
                          _norm_severity(r.get("severity", "MEDIUM"))))
        for lang in LANGS:
            for r in kb.lang_regex(vt, lang):
                rules.append((vt, cwe, lang, r.get("id"), r.get("pattern"), r.get("message"),
                              _norm_severity(r.get("severity", "MEDIUM"))))
    return rules


def regex_findings_relational(spark: SparkSession, files_df: DataFrame, kb: KnowledgeBase) -> DataFrame:
    """files_df needs (repo, path, commit, ext, content) → findings rows
    identical to the UDF regex tier."""
    lang_map = F.create_map(*[F.lit(x) for kv in REGEX_LANG_MAP.items() for x in kv])
    lines = files_df.select(
        "repo",
        "path",
        "commit",
        F.element_at(lang_map, F.col("ext")).alias("regex_lang"),
        F.posexplode(F.split(F.col("content"), "\n")).alias("pos", "line_text"),
    ).withColumn("line", (F.col("pos") + 1).cast("int")).drop("pos")

    branches = []
    for vt, cwe, lang, rule_id, pattern, message, severity in _driver_side_rules(kb):
        hit = F.col("line_text").rlike(pattern)  # literal pattern → foldable,
        # the JVM compiles it once per plan, not once per row
        if lang != "*":
            hit = (F.col("regex_lang") == F.lit(lang)) & hit
        branches.append(
            F.when(
                hit,
                F.struct(
                    F.lit(vt).alias("vuln_type"),
                    F.lit(f"({rule_id}) {message}").alias("message"),
                    F.lit(severity).alias("severity"),
                    F.lit(rule_id).alias("rule_id"),
                    F.lit(cwe).cast("string").alias("cwe"),
                ),
            )
        )
    matched = F.filter(F.array(*branches), lambda m: m.isNotNull())

    return lines.select(
        "repo", "path", "commit", "line", F.explode(matched).alias("m")
    ).select(
        "repo",
        "path",
        "commit",
        F.col("m.vuln_type").alias("vuln_type"),
        F.col("m.message").alias("message"),
        F.col("m.severity").alias("severity"),
        F.col("line"),
        F.lit("General Regex Analyzer").alias("plugin"),
        F.array().cast("array<string>").alias("trace"),
        F.col("m.rule_id").alias("rule_id"),
        F.col("m.cwe").alias("cwe"),
    )
