"""Exact tuple-level equivalence vs the live reference on a corpus the
fixtures never saw: the synthetic code corpus (python + ini files — the
reference's runnable tiers). Stronger than count equality: every
(path, line, vuln_type, message, severity, trace) must match."""

import os
import subprocess
import sys
import tempfile

import pytest

STUBS = "/tmp/refstubs"


@pytest.fixture(scope="module")
def corpus_dir(spark):
    from dr_source_spark.sources.synth import synth_code_corpus
    from tools.reference_anchor import ensure_stubs

    ensure_stubs()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = synth_code_corpus(docs, copies=2).filter("path like '%.py' or path like '%.ini'").collect()
    out = tempfile.mkdtemp(prefix="equiv_corpus_")
    for r in rows:
        p = os.path.join(out, r.repo, r.path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(r.content)
    return out


def _reference_findings(reference, corpus_dir):
    code = f"""
import sys, os, json
sys.path.insert(0, {STUBS!r}); sys.path.insert(0, {reference!r})
from dr_source.plugins.regex.plugin import RegexAnalyzer
from dr_source.plugins.python.plugin import PythonAstAnalyzer
regex = RegexAnalyzer(); pyast = PythonAstAnalyzer()
out = []
for dp, _d, fs in os.walk({corpus_dir!r}):
    for fn in sorted(fs):
        fp = os.path.join(dp, fn)
        rel = os.path.relpath(fp, {corpus_dir!r})
        findings = list(regex.analyze(fp))
        if fp.endswith(".py"):
            findings += pyast.analyze(fp)
        for f in findings:
            out.append([rel, f.line_number, f.vulnerability_type, f.message, f.severity, f.trace])
print(json.dumps(out))
"""
    res = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, cwd="/tmp")
    import json

    return {tuple(x[:5]) + (tuple(x[5]),) for x in json.loads(res.stdout.strip().splitlines()[-1])}


def test_engine_matches_reference_on_unseen_corpus(spark, reference, corpus_dir):
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.analyze import run_detectors
    from dr_source_spark.sources.corpus import corpus_from_dir, ingest_source_files

    ref = _reference_findings(reference, corpus_dir)
    assert ref, "reference produced no findings — corpus setup broken"

    files = ingest_source_files(corpus_from_dir(spark, corpus_dir))
    ours = {
        (r.path, r.line, r.vuln_type, r.message, r.severity, tuple(r.trace or []))
        for r in run_detectors(files, compile_kb(load_kb(project_dir="/nonexistent"))).collect()
    }
    # our repo-prefixed paths: reference walked repo dirs too → same rel paths
    assert ours == ref, f"missing={sorted(ref - ours)[:3]} extra={sorted(ours - ref)[:3]}"
