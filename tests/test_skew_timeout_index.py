"""Row salting (R9), per-file timeout (A5/R5), symbol-index
last-wins (A4), python inter-file extension (B7)."""

import pytest
from pyspark.sql import functions as F


def test_per_file_timeout_drops_findings(spark, fixture_corpus):
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.analyze import run_detectors
    from dr_source_spark.sources.corpus import ingest_source_files

    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    files = ingest_source_files(fixture_corpus)
    # an impossible budget: the deadline has expired before the FIRST tier
    # starts, so every tier is skipped and the file contributes nothing —
    # matching the reference when the alarm fires inside the first plugin
    n_normal = run_detectors(files, ckb).count()
    n_timeout = run_detectors(files, ckb, per_file_timeout_s=1e-9).count()
    assert n_timeout == 0 < n_normal


def test_timeout_keeps_findings_from_completed_tiers(monkeypatch):
    """Reference semantics (scanner.py:165-188): findings appended by plugins
    that completed before the alarm are KEPT; only remaining plugins are
    skipped. Simulated with a fake clock: each expired() check advances time
    by 1s, so a 1.5s budget lets exactly the first tier (AST) run."""
    import time as time_mod

    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.analyze import _analyze_one

    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    content = (
        "import os\nfrom flask import request\n"
        "def h():\n    c = request.args.get('x')\n    os.system(c)\n"
        "password = 'supersecretvalue'\n"
    )
    full = _analyze_one("r", "a.py", "c", ".py", content, ckb, None, ("ast", "pattern", "regex"))
    ast_only = [f for f in full if f["plugin"] != "General Regex Analyzer"]
    regex_part = [f for f in full if f["plugin"] == "General Regex Analyzer"]
    assert ast_only and regex_part  # both tiers genuinely fire on this file

    ticks = iter(range(100))
    monkeypatch.setattr(time_mod, "monotonic", lambda: float(next(ticks)))
    # deadline = t0(=0) + 1.5; checks before ast (t=1, ok), pattern (t=2,
    # expired) → AST findings kept, pattern+regex skipped
    partial = _analyze_one(
        "r", "a.py", "c", ".py", content, ckb, None, ("ast", "pattern", "regex"), timeout_s=1.5
    )
    keyf = lambda f: (f["line"], f["vuln_type"], f["message"])  # noqa: E731
    assert {keyf(f) for f in partial} == {keyf(f) for f in ast_only}


def test_tier_errors_are_observable_not_silent(spark):
    """A file whose AST tier crashes (unparseable under a taint walk) still
    yields regex findings, and extract() surfaces the failure as a
    tier_errors row instead of silent finding loss."""
    from dr_source_spark.pipeline import extract

    files = spark.createDataFrame(
        [
            # invalid python (SyntaxError in the AST tier) with a regex hit
            ("r", "bad.py", "c", None, "def broken(:\npassword = 'supersecretvalue'\n"),
            ("r", "ok.py", "c", None, "import os\nx = 1\n"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    res = extract(spark, files, run_id="errs")
    errs = res.tier_errors.collect()
    assert any(r.path == "bad.py" and r.message.startswith("ast:") for r in errs)
    # the regex tier still ran on the broken file (per-tier isolation)
    assert res.findings.filter(
        (F.col("path") == "bad.py") & (F.col("plugin") == "General Regex Analyzer")
    ).count() > 0
    # findings stream carries no sentinel rows
    assert res.findings.filter(F.col("vuln_type") == "__TIER_ERROR__").count() == 0


def test_salted_helpers_actually_spread_hot_keys(spark):
    """The salt must vary per ROW of a hot key (a key-derived salt is
    constant per key and spreads nothing) AND be a pure function of row
    content, so a recomputed task under partial stage retry reproduces the
    same salt assignment (monotonically_increasing_id would not)."""
    from dr_source_spark.operators.canonicalize import row_salt

    hot = spark.range(0, 1000).select(F.lit("hot_key").alias("k"), F.col("id"))
    n_salts = hot.select(row_salt(16, hot.columns).alias("s")).distinct().count()
    assert n_salts > 1
    # retry determinism: the same rows through a different partitioning
    # produce the identical (id -> salt) assignment
    a = {r.id: r.s for r in hot.select("id", row_salt(16, hot.columns).alias("s")).collect()}
    hot2 = hot.repartition(7)
    b = {r.id: r.s for r in hot2.select("id", row_salt(16, hot2.columns).alias("s")).collect()}
    assert a == b


def test_broadcast_index_overflow_raises_not_truncates(spark):
    from dr_source_spark.operators.index_build import build_symbol_index, try_broadcast_index
    from dr_source_spark.sources.corpus import ingest_source_files

    df = spark.createDataFrame(
        [("r", f"f{i}.js", "c", None, f"function fn{i}(a) {{ return a; }}") for i in range(8)],
        "repo string, path string, commit string, lang string, content string",
    )
    idx = build_symbol_index(ingest_source_files(df))
    assert try_broadcast_index(spark, idx, max_entries=4) is None


def test_symbol_index_last_wins(spark):
    from dr_source_spark.operators.index_build import build_symbol_index
    from dr_source_spark.sources.corpus import ingest_source_files

    df = spark.createDataFrame(
        [
            ("r", "a/util.js", "c", None, "function helper(x) { return 1; }"),
            ("r", "z/util.js", "c", None, "function helper(y) { return 2; }"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    idx = build_symbol_index(ingest_source_files(df)).collect()
    helpers = [r for r in idx if r["name"] == "helper"]
    assert len(helpers) == 1
    # deterministic last-wins: lexicographically last path survives
    assert helpers[0]["path"] == "z/util.js" and helpers[0]["params"] == ["y"]


def test_python_interfile_extension(spark, reference_corpus):
    """The stock reference never wires a project index into the Python tier
    (SURVEY.md §2B B7); our engine supports it as an opt-in extension."""
    from dr_source_spark.detectors.python_taint import analyze_python
    from dr_source_spark.kb import compile_kb, load_kb

    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    utils = open(f"{reference_corpus}/inter_file/python/inter_file_utils.py").read()
    app = open(f"{reference_corpus}/inter_file/python/inter_file_app.py").read()

    import ast as pyast

    idx = {}
    tree = pyast.parse(utils)
    for node in pyast.walk(tree):
        if isinstance(node, pyast.FunctionDef):
            idx[node.name] = {
                "lang": "python",
                "path": "inter_file_utils.py",
                "def_source": pyast.get_source_segment(utils, node),
                "def_line": node.lineno,
                "params": [a.arg for a in node.args.args],
            }

    # parity mode: no index → no cross-file finding
    assert analyze_python(app, ckb.taint["python"]) == []
    # extension mode: taint flows into the callee
    hits = analyze_python(app, ckb.taint["python"], fn_index=idx)
    cmd = [f for f in hits if f["base_type"] == "COMMAND_INJECTION"]
    assert cmd and any("in inter_file_utils.py" in s for s in cmd[0]["trace"])
    assert cmd[0]["sink"] == "os.system"
