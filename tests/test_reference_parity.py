"""P/R gate vs observed reference behavior (pure-Python, no Spark).

Goldens in tests/goldens/reference_observed_py_regex.json were produced by
running the reference's own regex + Python AST + pattern tiers over its
fixture corpus (tools: SURVEY.md §5; observed behavior wins over the
reference's own failing test assertions — e.g. regex findings are MEDIUM and
Python taint findings are HIGH).
"""

import json
import os

import pytest

from dr_source_spark.kb import compile_kb, load_kb
from dr_source_spark.operators.analyze import _analyze_one

GOLDEN = os.path.join(os.path.dirname(__file__), "goldens", "reference_observed_py_regex.json")
IGNORED = [".log", ".tmp", ".md", ".txt", ".json", ".xml", ".yaml", ".yml"]


def _key(f):
    return (f["path"], f["line"], f["vuln_type"], f["message"], f["severity"], tuple(f.get("trace") or []))


@pytest.fixture(scope="module")
def mine(reference_corpus):
    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    out = []
    for dirpath, _dirs, files in os.walk(reference_corpus):
        for fn in sorted(files):
            fp = os.path.join(dirpath, fn)
            rel = os.path.relpath(fp, reference_corpus)
            ext = os.path.splitext(fn)[1]
            if ext in IGNORED:
                continue
            content = open(fp, encoding="utf-8", errors="ignore").read()
            tiers = ("regex", "ast", "pattern") if ext == ".py" else ("regex",)
            for f in _analyze_one("r", rel, "c", ext, content, ckb, None, tiers):
                out.append({"path": rel, "line": f["line"], "vuln_type": f["vuln_type"],
                            "message": f["message"], "severity": f["severity"],
                            "trace": list(f["trace"] or [])})
    return out


def test_python_and_regex_tier_exact_parity(mine):
    ref = json.load(open(GOLDEN))
    mset, rset = {_key(f) for f in mine}, {_key(f) for f in ref}
    missing = rset - mset
    extra = mset - rset
    assert not missing, f"missing vs reference: {sorted(missing)[:5]}"
    assert not extra, f"extra vs reference: {sorted(extra)[:5]}"
    # precision == recall == 1.0 ≥ 0.95 gate
    assert len(mset) == len(rset) == 29
