"""Java/JS/PHP/Ruby AST-tier P/R gate.

The reference's tree-sitter tiers cannot run in this sandbox (no PyPI), so
goldens come in two strengths:
1. the reference's OWN pytest assertions (tests/plugins/test_java_*,
   test_javascript_*, test_php_*, test_ruby_*, test_inter_file_analysis) —
   asserted verbatim below;
2. a full-corpus snapshot of this engine's output
   (tests/goldens/engine_ast_tiers.json) guarding against regressions.
"""

import json
import os

import pytest

from dr_source_spark.detectors.java_taint import analyze_java
from dr_source_spark.detectors.js_taint import analyze_js
from dr_source_spark.detectors.php_taint import analyze_php
from dr_source_spark.detectors.ruby_taint import analyze_ruby
from dr_source_spark.kb import compile_kb, load_kb

GOLDEN = os.path.join(os.path.dirname(__file__), "goldens", "engine_ast_tiers.json")


@pytest.fixture(scope="module")
def ckb():
    return compile_kb(load_kb(project_dir="/nonexistent"))


def _java(root, ckb, name, fn_index=None):
    content = open(f"{root}/java/{name}", encoding="utf-8", errors="ignore").read()
    return analyze_java(content, ckb.taint["java"], fn_index=fn_index)


# -- reference pytest assertions, verbatim ------------------------------------

def test_java_sqli_vulnerable_file(reference_corpus, ckb):
    findings = _java(reference_corpus, ckb, "Sqli.java")
    assert findings, "No findings returned for vulnerable file"
    v = findings[0]
    assert v["vuln_type"] == "SQL_INJECTION (AST Taint)"
    assert v["severity"] == "HIGH"
    assert v["line"] == 17


def test_java_safe_file_produces_nothing(reference_corpus, ckb):
    assert _java(reference_corpus, ckb, "Safe.java") == []


def test_java_spring_annotation_source(reference_corpus, ckb):
    sqli = [f for f in _java(reference_corpus, ckb, "SpringController.java") if "SQL_INJECTION" in f["vuln_type"]]
    assert sqli and sqli[0]["line"] == 17
    assert "SpringBootMapper" in " ".join(sqli[0]["trace"])


def test_java_servlet_and_hibernate(reference_corpus, ckb):
    findings = _java(reference_corpus, ckb, "LegacyAndHibernate.java")
    xss = [f for f in findings if "XSS" in f["vuln_type"]]
    assert xss and xss[0]["line"] == 20
    sqli = [f for f in findings if "SQL_INJECTION" in f["vuln_type"]]
    assert any(f["line"] == 30 for f in sqli), "Hibernate SQLi at line 30 not found"
    assert not [f for f in findings if f["line"] == 34], "Safe Hibernate query must be ignored"


def test_java_constant_propagation(reference_corpus, ckb):
    findings = _java(reference_corpus, ckb, "ConstantPropTest.java")
    assert {f["line"] for f in findings} == {11}


def test_java_field_sensitivity(reference_corpus, ckb):
    findings = _java(reference_corpus, ckb, "FieldSensitivityTest.java")
    assert {f["line"] for f in findings} == {22}
    assert findings[0]["variable"] == "user.name"


def test_js_rce_via_eval(reference_corpus, ckb):
    content = open(f"{reference_corpus}/javascript/vulnerable_express.js").read()
    findings = analyze_js(content, ckb.taint["javascript"])
    cmd = [f for f in findings if f["vuln_type"] == "COMMAND_INJECTION (AST Taint)"]
    assert cmd
    v = cmd[0]
    assert v["severity"] == "CRITICAL" and v["line"] == 8
    assert "req.query" in v["trace"][0]
    assert v["message"].split("'")[1] == "eval"


def test_php_vulnerable_triple(reference_corpus, ckb):
    content = open(f"{reference_corpus}/php/vulnerable.php").read()
    findings = analyze_php(content, ckb.taint["php"])
    assert [f["line"] for f in findings if "SQL_INJECTION" in f["vuln_type"]] == [7]
    assert [f["line"] for f in findings if "COMMAND_INJECTION" in f["vuln_type"]] == [11]
    assert [f["line"] for f in findings if "XSS" in f["vuln_type"]] == [15]
    assert not [f for f in findings if f["line"] in (20, 21)], "const-propagated query must be ignored"


def test_ruby_vulnerable_pair(reference_corpus, ckb):
    content = open(f"{reference_corpus}/ruby/vulnerable.rb").read()
    findings = analyze_ruby(content, ckb.taint["ruby"])
    assert [f["line"] for f in findings if "SQL_INJECTION" in f["vuln_type"]] == [5]
    assert [f["line"] for f in findings if "COMMAND_INJECTION" in f["vuln_type"]] == [9]
    assert not [f for f in findings if f["line"] == 13], "safe const call must be ignored"


def test_ruby_mass_assignment(reference_corpus, ckb):
    content = open(f"{reference_corpus}/ruby/mass_assignment.rb").read()
    findings = analyze_ruby(content, ckb.taint["ruby"])
    assert {f["line"] for f in findings if "MASS_ASSIGNMENT" in f["vuln_type"]} == {5, 11}


def _index(ckb, lang, files, extractor):
    idx = {}
    for fn in files:
        c = open(fn).read()
        for d in extractor(c):
            idx[d["name"]] = {
                "path": os.path.basename(fn), "lang": lang,
                "def_source": d["def_source"], "def_line": d["def_line"], "params": d["params"],
            }
    return idx


def test_java_inter_file_flow(reference_corpus, ckb):
    from dr_source_spark.parsers.javaparse import extract_method_defs

    base = f"{reference_corpus}/inter_file/java"
    idx = _index(ckb, "java", [f"{base}/DatabaseHelper.java", f"{base}/Controller.java"], extract_method_defs)
    findings = analyze_java(open(f"{base}/Controller.java").read(), ckb.taint["java"], fn_index=idx)
    hits = [f for f in findings if "runQuery" in f["message"] or "executeQuery" in f["message"]]
    assert hits, "Failed to detect cross-file Java vulnerability"
    assert any("in DatabaseHelper.java" in step for step in hits[0]["trace"])


def test_js_inter_file_flow(reference_corpus, ckb):
    from dr_source_spark.parsers.jsparse import extract_function_defs

    base = f"{reference_corpus}/inter_file/javascript"
    idx = _index(ckb, "javascript", [f"{base}/db.js", f"{base}/app.js"], extract_function_defs)
    findings = analyze_js(open(f"{base}/app.js").read(), ckb.taint["javascript"], fn_index=idx)
    hits = [f for f in findings if "runCommand" in f["message"] or "exec" in f["message"]]
    assert hits, "Failed to detect cross-file JavaScript vulnerability"
    assert any("in db.js" in step for step in hits[0]["trace"])


# -- full-corpus snapshot -------------------------------------------------------

def test_full_corpus_snapshot(reference_corpus, ckb):
    got = []
    for sub, fn_analyze, key in (
        ("java", lambda c: analyze_java(c, ckb.taint["java"]), "java"),
        ("javascript", lambda c: analyze_js(c, ckb.taint["javascript"]), "javascript"),
        ("php", lambda c: analyze_php(c, ckb.taint["php"]), "php"),
        ("ruby", lambda c: analyze_ruby(c, ckb.taint["ruby"]), "ruby"),
    ):
        d = os.path.join(reference_corpus, sub)
        for name in sorted(os.listdir(d)):
            content = open(os.path.join(d, name), encoding="utf-8", errors="ignore").read()
            for f in fn_analyze(content):
                got.append(
                    {"path": f"{sub}/{name}", "line": f["line"], "vuln_type": f["vuln_type"],
                     "message": f["message"], "severity": f["severity"], "trace": f["trace"]}
                )
    expected = json.load(open(GOLDEN))

    def key(f):
        return (f["path"], f["line"], f["vuln_type"], f["message"], f["severity"], tuple(f["trace"]))

    assert {key(f) for f in got} == {key(f) for f in expected}
