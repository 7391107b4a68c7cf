"""KB loading, merge semantics, and compilation.

Merge algebra mirrors reference core/utils.py:34-69 (tested there in
tests/core/test_knowledge_base_merge.py): dicts recurse, lists extend,
scalars source-wins.
"""

from dr_source_spark.kb import compile_kb, load_kb
from dr_source_spark.kb.loader import KnowledgeBase, deep_merge_config


def test_scalar_source_wins():
    out = deep_merge_config({"a": 1, "b": 2}, {"a": 9})
    assert out == {"a": 9, "b": 2}


def test_dicts_recurse():
    out = deep_merge_config({"d": {"x": 1, "y": 2}}, {"d": {"y": 3, "z": 4}})
    assert out == {"d": {"x": 1, "y": 3, "z": 4}}


def test_lists_extend_preserving_target_order():
    out = deep_merge_config({"l": [1, 2]}, {"l": [3]})
    assert out == {"l": [1, 2, 3]}


def test_type_mismatch_source_wins():
    out = deep_merge_config({"k": [1]}, {"k": {"a": 1}})
    assert out == {"k": {"a": 1}}


def test_default_kb_effective_duplicates():
    """Duplicate top-level YAML keys resolve last-wins: effective WEAK_CRYPTO
    is the later (HIGH) block and SSTI has CWE-1336 (SURVEY.md §2C)."""
    kb = load_kb(project_dir="/nonexistent")
    assert kb.severity("WEAK_CRYPTO") == "HIGH"
    assert kb.cwe("SSTI") == "CWE-1336"
    assert kb.cwe("XXE") == "CWE-611"
    # effective XXE (later block) has sinks but no java sources
    assert kb.ast_sources("XXE", "java") == []
    assert len(kb.vuln_types()) == 25


def test_compile_eligibility():
    """python tier needs sinks only; java tier needs sources AND sinks
    (reference python/plugin.py:46-47 vs java/plugin.py:93-94)."""
    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    py_types = {s.vuln_type for s in ckb.taint["python"]}
    java_types = {s.vuln_type for s in ckb.taint["java"]}
    assert "LDAP_INJECTION" in py_types  # sinks-only: live for python
    assert "LDAP_INJECTION" not in java_types  # sinks-only: inert for java
    assert "SQL_INJECTION" in java_types


def test_compile_regex_rules():
    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    ids = {r.rule_id for r in ckb.general_regex}
    assert "SEC-GENERIC-001" in ids and "CFG-PY-DEBUG" in ids
    # rule-level severity defaults to MEDIUM regardless of category severity
    assert all(r.severity == "MEDIUM" for r in ckb.general_regex)
    java_ids = {r.rule_id for r in ckb.lang_regex["java"]}
    assert "JAVA-SQLI-002" in java_ids


def test_overlay_merge_adds_rules():
    kb = load_kb(project_dir="/nonexistent")
    overlay = {
        "SQL_INJECTION": {"language_specific": {"python": {"ast_sinks": ["my.execute"]}}},
        "NEW_CAT": {"cwe": "CWE-1", "severity": "low", "general_regex_patterns": [
            {"id": "X-1", "message": "m", "pattern": "abc"}]},
    }
    merged = KnowledgeBase(deep_merge_config(kb.rules, overlay))
    sinks = merged.ast_sinks("SQL_INJECTION", "python")
    assert "my.execute" in [s if isinstance(s, str) else s["name"] for s in sinks]
    assert merged.severity("NEW_CAT") == "LOW"


def test_rule_severity_normalized():
    """Rule severities are uppercased; a value outside the whitelist
    becomes INFO (reference regex/plugin.py:73-75)."""
    kb = load_kb(project_dir="/nonexistent")
    overlay = {"NEW_CAT": {"cwe": "CWE-1", "general_regex_patterns": [
        {"id": "X-1", "message": "m", "pattern": "abc", "severity": "high"},
        {"id": "X-2", "message": "m", "pattern": "abd", "severity": "weird"}]}}
    ckb = compile_kb(KnowledgeBase(deep_merge_config(kb.rules, overlay)))
    sev = {r.rule_id: r.severity for r in ckb.general_regex}
    assert (sev["X-1"], sev["X-2"]) == ("HIGH", "INFO")
