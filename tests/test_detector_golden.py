"""Exact detector golden that needs nothing outside this repository.

Pins the ordered list of full finding dicts that the detectors emit for:

* every file under tests/realcode through ``_analyze_one`` with all tiers,
  once with no project index and once with an inter-file index built from
  the same files (Python defs included), so cross-file call simulation and
  the callee-parse memo run;
* the synth templates (``sources/synth.render_template``), two rounds of
  doc ids so the cross-file caller template resolves its helper, under the
  same two index modes;
* every tests/realcode file of a taint-tier language again, with the
  planted source-to-sink flow of tests/test_realcode.py appended;
* small caller/helper files whose tainted arguments reach a sink through
  Python and JavaScript cross-file hops, Java and JavaScript local callees,
  and Python, JavaScript and Java callee chains that run into the
  simulation depth limit;
* the grammar-fuzz programs of tests/test_parser_grammar_fuzz.py at its
  SEED and N_PROGRAMS, through each language's ``analyze_<lang>`` with the
  full, unscreened category list.

Any change to an engine that moves one finding, reorders findings or edits
one trace hop fails here. Regenerate the golden (only for an intended
change of findings) with::

    python tests/test_detector_golden.py
"""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))

from dr_source_spark.kb import compile_kb, load_kb  # noqa: E402
from dr_source_spark.kb.compile import AST_LANG_MAP  # noqa: E402

GOLDEN = os.path.join(HERE, "goldens", "detector_exact.json")
REALCODE = os.path.join(HERE, "realcode")
TIERS = ("ast", "pattern", "regex")
CKB = compile_kb(load_kb(project_dir="/nonexistent"))

# callers whose tainted arguments reach a sink through callees: Python and
# JavaScript in another file, JavaScript and Java locally, and chains of
# indexed callees in all three that reach a sink at the depth limit (3 hops)
# and stop before the sink one hop further
_CALLEES = [
    (
        "py/helpers.py",
        "import os\n\n\ndef run_cmd(c):\n    os.system(c)\n\n\n"
        "def relay(x, y):\n    z = x\n    run_cmd(z)\n\n\n"
        "def h1(a):\n    h2(a)\n\n\ndef h2(b):\n    h3(b)\n\n\n"
        "def h3(c):\n    os.system(c)\n    h4(c)\n\n\ndef h4(d):\n    os.system(d)\n",
    ),
    (
        "py/app.py",
        "from flask import request\n\n\ndef view():\n"
        "    arg = request.args.get('q')\n    relay(arg, 'k')\n    h1(arg)\n",
    ),
    (
        "js/util.js",
        "function runIt(y) {\n  eval(y);\n}\nfunction j1(a) {\n  j2(a);\n}\nfunction j2(b) {\n  j3(b);\n}\n"
        "function j3(c) {\n  eval(c);\n  j4(c);\n}\nfunction j4(d) {\n  eval(d);\n}\n",
    ),
    (
        "js/main.js",
        "function helper(v) {\n  const w = v;\n  eval(w);\n}\n"
        "app.get('/x', (req, res) => {\n  const p = req.query.cmd;\n  runIt(p);\n  helper(p);\n  j1(p);\n});\n",
    ),
    (
        "java/Local.java",
        "import javax.servlet.http.HttpServletRequest;\nimport java.sql.Statement;\n"
        "public class Local {\n"
        "    public void go(HttpServletRequest request, Statement st) throws Exception {\n"
        "        String a = request.getParameter(\"a\");\n        apply(st, a);\n        c1(st, a);\n    }\n"
        "    void apply(Statement st, String q) throws Exception {\n        st.executeQuery(q);\n    }\n}\n",
    ),
    (
        "java/Chain.java",
        "import java.sql.Statement;\npublic class Chain {\n"
        "    void c1(Statement st, String q) throws Exception { c2(st, q); }\n"
        "    void c2(Statement st, String q) throws Exception { c3(st, q); }\n"
        "    void c3(Statement st, String q) throws Exception { st.executeQuery(q); c4(st, q); }\n"
        "    void c4(Statement st, String q) throws Exception { st.executeUpdate(q); }\n}\n",
    ),
]


def _realcode_files():
    out = []
    for dirpath, dirs, files in os.walk(REALCODE):
        dirs.sort()
        for fn in sorted(files):
            full = os.path.join(dirpath, fn)
            with open(full, encoding="utf-8", errors="ignore") as f:
                out.append((os.path.relpath(full, REALCODE), f.read()))
    return out


def _planted_files():
    sys.path.insert(0, os.path.dirname(HERE))
    from tests.test_realcode import _PLANT

    return [
        (path, content + _PLANT[_ext(path)][0])
        for path, content in _realcode_files()
        if _ext(path) in _PLANT
    ]


def _synth_files():
    from dr_source_spark.sources.synth import _TEMPLATES, render_template

    n = len(_TEMPLATES)
    return [render_template(doc % n, doc, "token") for doc in range(2 * n)]


def _ext(path: str) -> str:
    return os.path.splitext(path)[1]


def _index(files):
    """{name: def} over ``files`` with build_symbol_index's last-wins rule
    (lexicographically last (path, order within the file)), Python
    included."""
    from dr_source_spark.operators.index_build import _java_defs, _js_defs, _python_defs

    extract = {"python": _python_defs, "java": _java_defs, "javascript": _js_defs}
    index = {}
    for path, content in sorted(files):
        lang = AST_LANG_MAP.get(_ext(path))
        if lang not in extract:
            continue
        for d in extract[lang](content):
            index[d["name"]] = {
                "path": path, "repo": "golden", "lang": lang,
                "def_source": d["def_source"], "def_line": d.get("def_line", 1) or 1,
                "params": list(d["params"]),
            }
    return index


def _fuzz_programs():
    sys.path.insert(0, os.path.dirname(HERE))
    from tests.test_parser_grammar_fuzz import N_PROGRAMS, SEED, gen_program

    out = []
    for lang in ("java", "javascript", "php", "ruby"):
        rng = random.Random(SEED)
        out += [(lang, gen_program(lang, rng)) for _ in range(N_PROGRAMS)]
    return out


def _analyze_lang(lang: str, src: str):
    from dr_source_spark.detectors.java_taint import analyze_java
    from dr_source_spark.detectors.js_taint import analyze_js
    from dr_source_spark.detectors.php_taint import analyze_php
    from dr_source_spark.detectors.ruby_taint import analyze_ruby

    fn = {"java": analyze_java, "javascript": analyze_js, "php": analyze_php, "ruby": analyze_ruby}[lang]
    return fn(src, CKB.taint[lang])


def compute():
    from dr_source_spark.operators.analyze import _analyze_one

    out = {}
    corpora = (
        ("realcode", _realcode_files()),
        ("planted", _planted_files()),
        ("synth", _synth_files() + _CALLEES),
    )
    for corpus, files in corpora:
        index = _index(files)
        for mode, fn_index in (("no_index", None), ("index", index)):
            out[f"{corpus}/{mode}"] = [
                [path, _analyze_one(corpus, path, "pin", _ext(path), content, CKB, fn_index, TIERS, 0.0, True)]
                for path, content in files
            ]
    out["fuzz"] = [[lang, _analyze_lang(lang, src)] for lang, src in _fuzz_programs()]
    # through JSON, so tuples and lists compare alike
    return json.loads(json.dumps(out))


def test_detectors_match_exact_golden():
    with open(GOLDEN) as f:
        want = json.load(f)
    got = compute()
    assert sorted(got) == sorted(want)
    for section in want:
        assert len(got[section]) == len(want[section]), section
        for (name, findings), (want_name, want_findings) in zip(got[section], want[section]):
            assert name == want_name, section
            assert findings == want_findings, f"{section}: {name}"


if __name__ == "__main__":
    data = compute()
    with open(GOLDEN, "w") as f:
        json.dump(data, f, indent=0, sort_keys=True)
        f.write("\n")
    print(GOLDEN, {k: sum(len(x) for _n, x in v) for k, v in data.items()})
