"""The relational (JVM rlike) regex tier must equal the Python-`re` UDF tier
on the shipped KB, and its plan must be UDF-free."""

import pytest


@pytest.fixture(scope="module")
def both(spark, realcode_corpus):
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.analyze import run_detectors
    from dr_source_spark.operators.regex_relational import regex_findings_relational
    from dr_source_spark.sources.corpus import ingest_source_files

    kb = load_kb(project_dir="/nonexistent")
    files = ingest_source_files(realcode_corpus)
    udf_tier = run_detectors(files, compile_kb(kb), tiers=("regex",))
    rel_tier = regex_findings_relational(spark, files, kb)
    return udf_tier, rel_tier


def _key(r):
    return (r.path, r.line, r.vuln_type, r.message, r.severity, r.rule_id, r.cwe)


def test_relational_equals_udf_tier(both):
    udf_tier, rel_tier = both
    assert {_key(r) for r in udf_tier.collect()} == {_key(r) for r in rel_tier.collect()}


def test_relational_plan_is_jvm_only_with_foldable_patterns(both):
    _udf_tier, rel_tier = both
    plan = rel_tier._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "PythonUDF" not in plan
    # no join at all: the rule set is evaluated as literal RLIKE branches in
    # one projection, so the JVM compiles each pattern once per plan
    assert "Join" not in plan
    assert "Generate explode" in plan or "Generate posexplode" in plan
    # patterns appear as literals, not as a pattern column
    assert "RLIKE line_text" not in plan
    assert plan.count("RLIKE") >= 10
