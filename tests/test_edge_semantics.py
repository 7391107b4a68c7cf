"""Per-language edge semantics the reference encodes implicitly (SURVEY.md
§2B B13-B16) — each asserted directly against the engines, plus
canonicalization and user-KB overlays through the full pipeline."""

import pytest
from pyspark.sql import functions as F

from dr_source_spark.kb import compile_kb, load_kb


@pytest.fixture(scope="module")
def ckb():
    return compile_kb(load_kb(project_dir="/nonexistent"))


def test_js_property_assignment_sink(ckb):
    from dr_source_spark.detectors.js_taint import analyze_js

    # NB: `el.innerHTML = t` resolves to a dotted path and takes the normal
    # assignment branch in the reference too (taint_visitor.py:124-128); the
    # property-sink branch fires only when the path is unresolvable — a call
    # receiver:
    src = """const t = req.query.html;
document.getElementById("x").innerHTML = t;
"""
    hits = analyze_js(src, ckb.taint["javascript"])
    xss = [f for f in hits if f["base_type"] == "XSS"]
    assert xss and xss[0]["sink"] == "innerHTML" and xss[0]["line"] == 2


def test_java_whole_object_taint_covers_fields(ckb):
    from dr_source_spark.detectors.java_taint import analyze_java

    src = """import javax.servlet.http.HttpServletRequest;
import java.sql.Statement;
public class T {
    public void m(HttpServletRequest request, Statement st) throws Exception {
        String user = request.getParameter("u");
        st.executeQuery("q" + user.name);
    }
}"""
    hits = analyze_java(src, ckb.taint["java"])
    # base-object taint reaches the dotted path (taint_visitor.py:50-56)
    assert any(f["variable"] == "user.name" for f in hits)


def test_java_int_literal_folds_as_string(ckb):
    from dr_source_spark.detectors.java_taint import analyze_java

    # reference folds string_literal AND decimal_integer_literal as text —
    # "SELECT " + 5 is a constant, suppressing taint propagation paths
    src = """import java.sql.Statement;
public class T {
    public void m(Statement st) throws Exception {
        String q = "SELECT " + 5;
        st.executeQuery(q);
    }
}"""
    assert analyze_java(src, ckb.taint["java"]) == []


def test_php_cookie_prefix_source(ckb):
    from dr_source_spark.detectors.php_taint import analyze_php

    src = """<?php
$tok = $_COOKIE['sid'];
mysqli_query($conn, "SELECT " . $tok);
?>"""
    hits = analyze_php(src, ckb.taint["php"])
    assert any(f["base_type"] == "SQL_INJECTION" and f["line"] == 3 for f in hits)


def test_php_interpolated_string_is_constant(ckb):
    from dr_source_spark.detectors.php_taint import analyze_php

    # encapsed strings resolve as constants in PHP (taint_visitor.py:76):
    # assigning "...$id..." SUPPRESSES taint — reference-exact quirk
    src = """<?php
$id = $_GET['id'];
$q = "SELECT * FROM t WHERE id = $id";
mysqli_query($conn, $q);
?>"""
    assert analyze_php(src, ckb.taint["php"]) == []


def test_ruby_sanitizer_clears_taint(ckb):
    from dr_source_spark.detectors.ruby_taint import analyze_ruby

    src = """v = params[:q]
v = html_escape
render v
"""
    hits = analyze_ruby(src, ckb.taint["ruby"])
    assert not [f for f in hits if f["line"] == 3]


def test_canonicalize_collapses_variants(spark):
    from dr_source_spark.operators.canonicalize import canonicalize_findings
    from dr_source_spark.schema import FINDINGS

    rows = [
        ("r", "f.py", "c", "SQL_INJECTION (AST Taint)", "m-via-a", "HIGH", 10, "p", ["t1"], None, None, "a", "exec", "s", "SQL_INJECTION"),
        ("r", "f.py", "c", "SQL_INJECTION (AST Taint)", "m-via-b", "HIGH", 10, "p", ["t2"], None, None, "b", "exec", "s", "SQL_INJECTION"),
        ("r", "f.py", "c", "SQL_INJECTION (AST Taint)", "m-other", "HIGH", 30, "p", [], None, None, "x", "exec", "s", "SQL_INJECTION"),
    ]
    df = spark.createDataFrame(rows, FINDINGS)
    plain = canonicalize_findings(df, line_span=5)
    out = {(r.line_span): (r.message, r.n_variants) for r in plain.collect()}
    assert out[2] == ("m-via-a", 2)  # deterministic first variant kept
    assert out[6] == ("m-other", 1)
    salted = canonicalize_findings(df, line_span=5, salt_buckets=8)

    def norm(rows):
        return {tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows}

    assert norm(plain.collect()) == norm(salted.collect())


def test_canonicalize_multi_path_sink_end_to_end(spark):
    """North-star scenario: the SAME sink reached via multiple taint paths
    yields several findings on one (repo, path, base_type, line-span) key;
    canonicalization collapses them to one canonical row with the variant
    count — driven through the real Java detector, not synthetic rows."""
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.analyze import run_detectors
    from dr_source_spark.operators.canonicalize import canonicalize_findings
    from dr_source_spark.sources.corpus import ingest_source_files

    src = """import javax.servlet.http.HttpServletRequest;
import java.sql.Statement;
public class App {
    public void handle(HttpServletRequest request, Statement statement) throws Exception {
        String a = request.getParameter("x");
        String b = request.getParameter("y");
        statement.executeQuery(a);
        statement.executeQuery(b);
    }
}
"""
    files = ingest_source_files(
        spark.createDataFrame(
            [("r", "App.java", "c", None, src)],
            "repo string, path string, commit string, lang string, content string",
        )
    )
    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    findings = run_detectors(files, ckb).filter("base_type = 'SQL_INJECTION'")
    assert findings.count() == 2  # two distinct taint paths into the sink
    out = canonicalize_findings(findings, line_span=10, salt_buckets=4).collect()
    assert len(out) == 1 and out[0].n_variants == 2
    assert out[0].variable == "a"  # deterministic min over (line, message, ...)


def test_user_kb_overlay_through_pipeline(spark, tmp_path):
    from dr_source_spark.pipeline import extract

    overlay = tmp_path / "rules.yaml"
    overlay.write_text(
        """
CUSTOM_MARKER:
  description: "test overlay rule"
  cwe: "CWE-999"
  severity: "LOW"
  general_regex_patterns:
    - id: "X-MARK-1"
      message: "marker found"
      pattern: "MAGIC_MARKER_[0-9]+"
"""
    )
    files = spark.createDataFrame(
        [("r", "a.cfg", "c", None, "hello MAGIC_MARKER_7 world")],
        "repo string, path string, commit string, lang string, content string",
    )
    res = extract(spark, files, kb_path=str(overlay))
    rows = res.findings.collect()
    assert len(rows) == 1
    f = rows[0]
    assert f.vuln_type == "CUSTOM_MARKER" and f.message == "(X-MARK-1) marker found"
    assert f.cwe == "CWE-999" and f.severity == "MEDIUM"  # rule-level default, observed behavior
    triples = {(t.pred, t.obj) for t in res.triples.collect()}
    assert ("HAS_VULN", "CWE-999") in triples and ("MATCHES_RULE", "X-MARK-1") in triples


def test_fused_walk_engines_do_not_interfere():
    """Engines run in lockstep through one traversal; permuting the spec
    order must not change any engine's findings (no shared state leaks)."""
    from dr_source_spark.detectors.java_taint import analyze_java
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.sources.synth import render_template

    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    specs = ckb.taint["java"]
    _, content = render_template(0, 3, "query")

    def key(f):
        return (f["line"], f["vuln_type"], f["message"], tuple(f["trace"]))

    forward = sorted(key(f) for f in analyze_java(content, specs))
    reverse = sorted(key(f) for f in analyze_java(content, list(reversed(specs))))
    assert forward == reverse and forward


def test_compiled_kb_broadcast_stays_small():
    """The KB ships as a broadcast on every extraction — it must stay tiny
    (the reference's YAML is ~50 KB; a bloated pickle would tax every
    executor fetch at 1000-executor scale)."""
    import pickle

    from dr_source_spark.kb import compile_kb, load_kb

    blob = pickle.dumps(compile_kb(load_kb(project_dir="/nonexistent")))
    assert len(blob) < 512 * 1024, f"compiled KB pickle is {len(blob)} bytes"


def test_java_lambda_bodies_are_opaque(ckb):
    """Lambda bodies are opaque, as in the reference (docs/FUTURE.md): a
    tainted local captured by a lambda reaches no sink, and an untainted
    lambda parameter fires nothing."""
    from dr_source_spark.detectors.java_taint import analyze_java

    src = """import javax.servlet.http.HttpServletRequest;
import java.sql.Statement;
public class App {
    public void handle(HttpServletRequest request, Statement statement) throws Exception {
        String user = request.getParameter("q");
        Runnable r = () -> {
            statement.executeQuery("SELECT * FROM t WHERE id = '" + user + "'");
        };
        r.run();
    }
}
"""
    assert analyze_java(src, ckb.taint["java"]) == []

    clean = """import java.sql.Statement;
public class App {
    public void handle(java.util.List<String> xs, Statement statement) {
        xs.forEach(x -> { try { statement.executeQuery(x); } catch (Exception e) { } });
    }
}
"""
    assert analyze_java(clean, ckb.taint["java"]) == []


def test_ruby_heredoc_and_block_comment_bodies_are_not_code(ckb):
    """Heredoc bodies and =begin/=end blocks lex as strings/comments, never
    as code: sink-shaped text inside them must not fire, a stray 'end'
    inside them must not desync, and code AFTER them must still analyze."""
    from dr_source_spark.detectors.ruby_taint import analyze_ruby

    src = """msg = <<~EOT
  system("echo #{params[:x]}")
  end
EOT
=begin
system(params[:y])
end
=end
v = params[:cmd]
system("lookup #{v}")
"""
    hits = analyze_ruby(src, ckb.taint["ruby"])
    assert [h["line"] for h in hits if h["sink"] == "system"] == [10]

    # heredoc tag mentioned in a comment or string must not swallow the file
    commented = "# docs use <<~EOT style\nv = params[:cmd]\nsystem(\"go #{v}\")\n"
    assert any(h["sink"] == "system" for h in analyze_ruby(commented, ckb.taint["ruby"]))

    # spaced << shift on a constant stays code; taint below is unaffected
    shifted = "queue << WORK\nv = params[:cmd]\nsystem(\"go #{v}\")\n"
    assert any(h["sink"] == "system" for h in analyze_ruby(shifted, ckb.taint["ruby"]))


def test_js_regex_literals_do_not_desync(ckb):
    """A quote or brace inside a JS regex literal must not start a phantom
    string/scope (found by minified jQuery in the real-code corpus), and
    division must still parse as division."""
    from dr_source_spark.detectors.js_taint import analyze_js

    src = """const clean = s => s.replace(/["'{]/g, "_");
const ratio = total / parts;  // division after an operand stays division
app.get('/r', (req, res) => {
    const p = req.query.cmd;
    eval(p);
});
"""
    hits = analyze_js(src, ckb.taint["javascript"])
    assert any(h["sink"] == "eval" and h["line"] == 5 for h in hits), hits

    # regex in every operand position: return / assignment / argument
    src2 = """function f(x) { return /a[/"]b/.test(x); }
const re = /['"]+/gi;
check(/}{/, x);
const p2 = req.query.q;
eval(p2);
"""
    hits2 = analyze_js(src2, ckb.taint["javascript"])
    assert any(h["sink"] == "eval" for h in hits2), hits2


def test_python_recursion_overflow_degrades_gracefully(ckb):
    """A tree too deep for the fused walk must not crash or drop the file
    wholesale: the per-engine fallback keeps completed categories (often
    all of them — single walks carry less stack than the fused dispatch).
    Reference boundary: plugins/python/plugin.py:41-67 keeps categories
    fully walked before the failure."""
    import ast
    import sys

    from dr_source_spark.detectors.python_taint import analyze_python

    depth = 400
    # CPython caps source indentation at 100 levels — build the deep tree
    # programmatically (the shape a generated/minified file produces)
    inner = ast.parse("cmd = request.args.get('c')\nos.system(cmd)").body
    body = inner
    for i in range(depth):
        body = [ast.If(test=ast.Name(id=f"x{i}", ctx=ast.Load()), body=body, orelse=[])]
    tree = ast.Module(body=[ast.parse("import os").body[0]] + body, type_ignores=[])
    ast.fix_missing_locations(tree)
    src = "<generated>"
    full = analyze_python(src, ckb.taint["python"], tree=tree)
    assert any(f.get("sink") for f in full)  # the planted flow is found at full depth
    limit = sys.getrecursionlimit()
    try:
        # low enough that the fused walk overflows on a depth-200 tree
        sys.setrecursionlimit(depth * 6)
        degraded = analyze_python(src, ckb.taint["python"], tree=tree)
    finally:
        sys.setrecursionlimit(limit)
    # never raises; returns a deterministic subset of the full findings
    key = lambda f: (f["line"], f["vuln_type"], f["message"])
    assert {key(f) for f in degraded} <= {key(f) for f in full}
    try:
        sys.setrecursionlimit(depth * 6)
        again = analyze_python(src, ckb.taint["python"], tree=tree)
    finally:
        sys.setrecursionlimit(limit)
    assert sorted(map(key, degraded)) == sorted(map(key, again))
