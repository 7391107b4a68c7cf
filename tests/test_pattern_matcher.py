"""Pattern-tier unit tests (metavariable capture/unification, ellipsis,
boolean logic, textual fallback) — semantics of reference
plugins/pattern/matcher.py + ts_matcher.py:73-102."""

import ast

from dr_source_spark.detectors.pattern_match import (
    _eval_logic_py,
    _py_pattern,
    analyze_pattern,
    textual_match,
)
from dr_source_spark.kb import compile_kb, load_kb


def _expr(src):
    return ast.parse(src, mode="eval").body


def test_metavariable_unification():
    pat = _py_pattern("$X == $X")
    assert pat.match(_expr("a == a"))
    assert not pat.match(_expr("a == b"))
    assert pat.match(_expr("foo() == foo()"))


def test_literal_pattern():
    pat = _py_pattern("1 == 1")
    assert pat.match(_expr("1 == 1"))
    assert not pat.match(_expr("a == a"))


def test_boolean_logic_and_not():
    logic = {"patterns": [{"pattern": "$X == $X"}, {"pattern-not": "1 == 1"}]}
    assert _eval_logic_py(_expr("x == x"), logic)
    assert not _eval_logic_py(_expr("1 == 1"), logic)
    assert not _eval_logic_py(_expr("x == y"), logic)


def test_ellipsis_in_call():
    pat = _py_pattern("foo(...)")
    assert pat.match(_expr("foo(1, 2, 3)"))
    assert pat.match(_expr("foo()"))
    assert not pat.match(_expr("bar(1)"))


def test_textual_fallback_unification():
    assert textual_match("$X == $X", "$a == $a")  # php style
    assert not textual_match("$X == $X", "$a == $b")
    assert textual_match("$X == $X", "x == x")  # ruby/js style
    assert not textual_match("$X == $X", "x == y")


def test_pattern_tier_on_php_and_ruby_fixture_lines(reference_corpus):
    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    php = open(f"{reference_corpus}/php/vulnerable.php", encoding="utf-8").read()
    out = analyze_pattern(php, ".php", ckb)
    # the self-comparison expression `$a == $a` sits on line 23 (the reference
    # pytest only asserts >=1 finding; its comment line numbers are stale)
    assert {(f["vuln_type"], f["line"]) for f in out} == {("SELF_COMPARISON (Pattern)", 23)}
    assert out[0]["severity"] == "LOW"
    assert out[0]["message"] == "Vulnerability found via pattern matching."

    rb = open(f"{reference_corpus}/ruby/vulnerable.rb", encoding="utf-8").read()
    out = analyze_pattern(rb, ".rb", ckb)
    assert {(f["vuln_type"], f["line"]) for f in out} == {("SELF_COMPARISON (Pattern)", 16)}
