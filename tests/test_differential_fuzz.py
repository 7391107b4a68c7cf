"""Differential fuzzing: generated Python programs run through BOTH the
live reference (its runnable Python AST + regex tiers) and this engine —
finding tuples must be identical. Amplifies the fixture-based parity gate
with hypothesis-composed programs covering sources, sinks, sanitizers,
PII names, constants, propagation chains, f-strings and nested functions.
"""

import json
import os
import subprocess
import sys
import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st

from dr_source_spark.kb import compile_kb, load_kb
from dr_source_spark.operators.analyze import _analyze_one

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.reference_anchor import ensure_stubs  # noqa: E402

_CKB = compile_kb(load_kb(project_dir="/nonexistent"))

SOURCES = ["request.args.get('x')", "request.form.get('y')", "request.json", "input()"]
SINKS = ["os.system", "cursor.execute", "eval", "requests.get", "logging.info", "pickle.loads", "render_template_string"]
SANITIZERS = ["int", "escape", "bool"]
VAR_NAMES = ["data", "cmd", "q", "user_token", "password_field", "value", "tmp"]
CONSTS = ['"SELECT 1"', '"echo hi"', "42", '"a" + "b"']

line = st.one_of(
    # tainted assignment
    st.tuples(st.sampled_from(VAR_NAMES), st.sampled_from(SOURCES)).map(lambda t: f"{t[0]} = {t[1]}"),
    # constant assignment
    st.tuples(st.sampled_from(VAR_NAMES), st.sampled_from(CONSTS)).map(lambda t: f"{t[0]} = {t[1]}"),
    # sanitizer
    st.tuples(st.sampled_from(VAR_NAMES), st.sampled_from(SANITIZERS), st.sampled_from(VAR_NAMES)).map(
        lambda t: f"{t[0]} = {t[1]}({t[2]})"
    ),
    # propagation (plain, f-string, concat)
    st.tuples(st.sampled_from(VAR_NAMES), st.sampled_from(VAR_NAMES)).map(lambda t: f"{t[0]} = {t[1]}"),
    st.tuples(st.sampled_from(VAR_NAMES), st.sampled_from(VAR_NAMES)).map(
        lambda t: f'{t[0]} = f"pre {{{t[1]}}} post"'
    ),
    st.tuples(st.sampled_from(VAR_NAMES), st.sampled_from(VAR_NAMES)).map(lambda t: f'{t[0]} = "p" + {t[1]}'),
    # sink calls (positional and keyword)
    st.tuples(st.sampled_from(SINKS), st.sampled_from(VAR_NAMES)).map(lambda t: f"{t[0]}({t[1]})"),
    st.tuples(st.sampled_from(SINKS), st.sampled_from(VAR_NAMES)).map(lambda t: f"{t[0]}(arg={t[1]})"),
    st.tuples(st.sampled_from(SINKS), st.sampled_from(CONSTS)).map(lambda t: f"{t[0]}({t[1]})"),
    # pattern-tier bait: self comparisons (flagged) and 1 == 1 (excluded)
    st.sampled_from(VAR_NAMES).map(lambda v: f"flag = {v} == {v}"),
    st.just("flag = 1 == 1"),
    st.tuples(st.sampled_from(VAR_NAMES), st.sampled_from(VAR_NAMES)).map(lambda t: f"flag = {t[0]} == {t[1]}"),
)

program = st.lists(line, min_size=2, max_size=12).map("\n".join)
wrapped = st.tuples(program, st.booleans()).map(
    lambda t: ("def handler(password_arg):\n    " + t[0].replace("\n", "\n    ")) if t[1] else t[0]
)


def _reference_batch(reference, programs):
    """Run the reference Python AST + regex tiers on many programs at once
    (one subprocess for the whole batch)."""
    ensure_stubs()
    d = tempfile.mkdtemp(prefix="diff_fuzz_")
    for i, src in enumerate(programs):
        with open(os.path.join(d, f"p{i}.py"), "w") as f:
            f.write(src)
    code = f"""
import sys, os, json
sys.path.insert(0, "/tmp/refstubs"); sys.path.insert(0, {reference!r})
from dr_source.plugins.regex.plugin import RegexAnalyzer
from dr_source.plugins.python.plugin import PythonAstAnalyzer
from dr_source.plugins.pattern.plugin import PatternAnalyzer
regex = RegexAnalyzer(); pyast = PythonAstAnalyzer(); pat = PatternAnalyzer()
out = {{}}
for fn in sorted(os.listdir({d!r})):
    fp = os.path.join({d!r}, fn)
    fs = list(regex.analyze(fp)) + list(pyast.analyze(fp)) + list(pat.analyze(fp))
    seen, ded = set(), []
    for f in fs:
        k = (f.line_number, f.vulnerability_type, f.message)
        if k in seen: continue
        seen.add(k)
        ded.append([f.line_number, f.vulnerability_type, f.message, f.severity, f.trace])
    out[fn] = ded
print(json.dumps(out))
"""
    res = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, cwd="/tmp")
    return json.loads(res.stdout.strip().splitlines()[-1])


def _ours(src):
    fs = _analyze_one("r", "p.py", "c", ".py", src, _CKB, None, ("regex", "ast", "pattern"))
    return {(f["line"], f["vuln_type"], f["message"], f["severity"], tuple(f["trace"])) for f in fs}


# collect examples during the hypothesis phase, compare in one batch after
_COLLECTED: list = []


@settings(max_examples=120, deadline=None)
@given(wrapped)
def test_collect_programs(src):
    try:
        compile(src, "<fuzz>", "exec")
    except SyntaxError:
        return
    _COLLECTED.append(src)


def test_differential_against_reference(reference):
    programs = _COLLECTED or ["cmd = request.args.get('x')\nos.system(cmd)"]
    ref = _reference_batch(reference, programs)
    mismatches = []
    for i, src in enumerate(programs):
        want = {
            (line_n, vt, msg, sev, tuple(trace)) for line_n, vt, msg, sev, trace in ref.get(f"p{i}.py", [])
        }
        got = _ours(src)
        if got != want:
            mismatches.append((src, sorted(want - got)[:2], sorted(got - want)[:2]))
    assert not mismatches, f"{len(mismatches)} divergent programs; first: {mismatches[0]}"


def test_regex_pattern_tiers_cross_language_differential(reference):
    """Cross-language differential gate for the runnable non-AST tiers:
    KB-derived exemplar fuzz over 9 extensions vs the live reference's
    regex+pattern analyzers (tools/regex_diff_fuzz.py; 5,100 files green
    across seeds 20260822-24 at authoring time). Small fast batch here."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "regex_diff_fuzz.py"), "150", "424242"],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert out.returncode == 0, out.stdout[-1500:] + out.stderr[-500:]
    assert "divergent=0" in out.stdout
