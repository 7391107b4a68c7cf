"""Category screening must be a pure optimization: for every corpus file
and every language tier, findings with the screened spec list equal
findings with the full spec list."""

import os

import pytest

from dr_source_spark.detectors.java_taint import analyze_java
from dr_source_spark.detectors.js_taint import analyze_js
from dr_source_spark.detectors.php_taint import analyze_php
from dr_source_spark.detectors.python_taint import analyze_python
from dr_source_spark.detectors.ruby_taint import analyze_ruby
from dr_source_spark.kb import compile_kb, load_kb
from dr_source_spark.operators.analyze import _JAVA_FRAMEWORK_TOKENS, _screen_specs


def _production_screen(lang, specs, content):
    """The exact screening decision operators/analyze.py makes (incl. the
    Java framework-mapper carve-out — mapper sinks fire in EVERY category,
    so no java category may be dropped when a framework token appears)."""
    if lang == "java" and any(t in content for t in _JAVA_FRAMEWORK_TOKENS):
        return specs
    return _screen_specs(specs, content)

CKB = compile_kb(load_kb(project_dir="/nonexistent"))

_TIERS = {
    ".py": ("python", lambda c, s: analyze_python(c, s)),
    ".java": ("java", lambda c, s: analyze_java(c, s)),
    ".js": ("javascript", lambda c, s: analyze_js(c, s)),
    ".php": ("php", lambda c, s: analyze_php(c, s)),
    ".rb": ("ruby", lambda c, s: analyze_ruby(c, s)),
}


def _key(f):
    return (f["line"], f["vuln_type"], f["message"], f["severity"], tuple(f["trace"]))


def test_screened_equals_full(reference_corpus):
    n = 0
    for dirpath, _dirs, files in os.walk(reference_corpus):
        for fn in sorted(files):
            ext = os.path.splitext(fn)[1]
            if ext not in _TIERS:
                continue
            lang, analyze = _TIERS[ext]
            content = open(os.path.join(dirpath, fn), encoding="utf-8", errors="ignore").read()
            full = {_key(f) for f in analyze(content, CKB.taint[lang])}
            screened = {_key(f) for f in analyze(content, _production_screen(lang, CKB.taint[lang], content))}
            assert full == screened, fn
            n += 1
    assert n


def test_conditional_group_rules_stay_outside_screen():
    """A conditional group reference like (?(1)y|z) is group-NUMBER-relative:
    embedded in the combined alternation after another rule's capture group
    it silently evaluates the wrong group's truthiness (e.g. 'xy' matches
    (x)?(?(1)y|z) alone, but not when (?(1)) suddenly refers to a different
    rule's never-set group) — such rules must fall into the always-checked
    list, never the screen."""
    from types import SimpleNamespace

    from dr_source_spark.detectors.regex_scan import _screen_for

    r1 = SimpleNamespace(pattern=r"(foo)bar")
    r2 = SimpleNamespace(pattern=r"(x)?(?(1)y|z)")
    screen, always = _screen_for([r1, r2])
    assert [r.pattern for r in always] == [r2.pattern]
    assert screen is not None and screen.search("foobar")


@pytest.mark.parametrize("corpus", ["realcode_dir", "reference_corpus"])
def test_regex_line_screen_is_exact(corpus, request):
    """The combined-alternation line screen must not change regex-tier
    output: compare against a screen-free brute force over a corpus
    (tests/realcode, or the reference fixture files), synth templates, and
    adversarial lines built from the rules themselves."""
    import os
    import re

    from dr_source_spark.detectors.regex_scan import _compiled, analyze_regex
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.sources.synth import render_template

    ckb = compile_kb(load_kb(project_dir="/nonexistent"))

    def brute(content, ext):
        from dr_source_spark.kb.compile import REGEX_LANG_MAP

        rules = ckb.regex_rules_for_lang(REGEX_LANG_MAP.get(ext))
        out = []
        for ln, line in enumerate(content.split("\n"), 1):
            for r in rules:
                pat = _compiled(r.pattern)
                if pat is not None and pat.search(line):
                    out.append((ln, r.rule_id))
        return out

    corpora = []
    for dirpath, _d, files in os.walk(request.getfixturevalue(corpus)):
        for fn in files:
            with open(os.path.join(dirpath, fn), encoding="utf-8", errors="ignore") as f:
                corpora.append((f.read(), os.path.splitext(fn)[1]))
    from dr_source_spark.sources.synth import _TEMPLATES

    for tpl in range(len(_TEMPLATES)):
        path, content = render_template(tpl, 9, "token")
        corpora.append((content, "." + path.rsplit(".", 1)[1]))
    # adversarial: lines that literally contain rule-pattern fragments
    frag_lines = "\n".join(
        re.sub(r"[\\^$()\[\]{}|?*+.]", "", r.pattern)[:40] or "x"
        for r in ckb.general_regex
    )
    corpora.append((frag_lines + "\npassword = 'supersecretvalue'\nDEBUG = True\n", ".ini"))

    checked = 0
    for content, ext in corpora:
        got = [(f["line"], f["rule_id"]) for f in analyze_regex(content, ext, ckb)]
        assert got == brute(content, ext), f"screen changed output for ext {ext}"
        checked += 1
    assert checked > 20
