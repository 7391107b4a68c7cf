"""Category screening must be a pure optimization: for every corpus file
and every language tier, findings with the screened spec list equal
findings with the full spec list."""

import os

import pytest

from dr_source_spark.kb import compile_kb, load_kb
from dr_source_spark.kb.compile import AST_LANG_MAP
from dr_source_spark.operators.analyze import analyze_ast, screen_ast_specs

CKB = compile_kb(load_kb(project_dir="/nonexistent"))


def _key(f):
    return (f["line"], f["vuln_type"], f["message"], f["severity"], tuple(f["trace"]))


def _corpus_files(root):
    for dirpath, _dirs, files in os.walk(root):
        for fn in sorted(files):
            with open(os.path.join(dirpath, fn), encoding="utf-8", errors="ignore") as f:
                yield fn, f.read()


def _synth_files():
    from dr_source_spark.sources.synth import _TEMPLATES, render_template

    return [render_template(tpl, 9, "token") for tpl in range(len(_TEMPLATES))]


def _assert_screened_equals_full(files):
    """The production screening rule (no project index) against the full
    category list, through the production AST-tier dispatch."""
    n = 0
    for name, content in files:
        lang = AST_LANG_MAP.get(os.path.splitext(name)[1])
        if lang is None:
            continue
        specs = CKB.taint[lang]
        full = {_key(f) for f in analyze_ast(lang, content, specs)}
        screened = {_key(f) for f in analyze_ast(lang, content, screen_ast_specs(lang, specs, content, None))}
        assert full == screened, name
        n += 1
    assert n


def test_screened_equals_full(reference_corpus):
    _assert_screened_equals_full(_corpus_files(reference_corpus))


def test_screened_equals_full_in_repo(realcode_dir):
    """The same check over tests/realcode and the synth templates, which
    need nothing outside this repository."""
    _assert_screened_equals_full(list(_corpus_files(realcode_dir)) + _synth_files())


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


def test_java_templates_without_framework_sinks_screen():
    """The App and DbHelper synth templates reach SQL through
    ``executeQuery`` and name no framework mapper (a Spring sink needs the
    ``jdbcTemplate`` receiver), so the Java tier screens their categories
    instead of walking every one."""
    from dr_source_spark.sources.synth import _TEMPLATES, render_template

    specs = CKB.taint["java"]
    screened = {}
    for tpl, (_lang, path, _body) in enumerate(_TEMPLATES):
        name, content = render_template(tpl, 9, "token")
        if path.startswith(("src/App", "src/DbHelper")):
            screened[name] = len(screen_ast_specs("java", specs, content, None))
    assert len(screened) == 2 and all(0 < n < len(specs) for n in screened.values()), screened


def test_python_index_check_follows_the_index_object():
    """Whether an index holds Python defs is decided once per index
    object, and a different index is read afresh."""
    specs = CKB.taint["python"]
    content = "import os\n"
    java_only = {"f": {"lang": "java"}}
    with_py = {"f": {"lang": "java"}, "g": {"lang": "python"}}
    for _ in range(2):
        assert screen_ast_specs("python", specs, content, java_only) != specs
        assert screen_ast_specs("python", specs, content, with_py) == specs
