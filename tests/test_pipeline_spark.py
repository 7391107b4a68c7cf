"""Spark end-to-end: ingest invariant, fused detector pass parity, KG
projection, relational operators."""

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

GOLDEN = os.path.join(os.path.dirname(__file__), "goldens", "reference_observed_py_regex.json")


@pytest.fixture(scope="module")
def result(spark, fixture_corpus):
    from dr_source_spark.pipeline import extract

    return extract(spark, fixture_corpus, run_id="test-run")


@pytest.fixture(scope="module")
def realcode_findings(spark, realcode_corpus):
    from dr_source_spark.pipeline import extract

    return extract(spark, realcode_corpus, run_id="test-run").findings


def test_sha256_ingest_invariant(spark, fixture_corpus):
    from dr_source_spark.sources.corpus import ingest_source_files

    rows = ingest_source_files(fixture_corpus).select("path", "content", "content_sha256").collect()
    assert rows
    for r in rows:
        assert r.content_sha256 == hashlib.sha256(r.content.encode("utf-8")).hexdigest()


def test_lang_derivation(spark, fixture_corpus):
    from dr_source_spark.sources.corpus import ingest_source_files

    langs = dict(
        ingest_source_files(fixture_corpus).select("ext", "lang").distinct().collect()
    )
    assert langs[".java"] == "java" and langs[".py"] == "python"
    assert langs[".ini"] == "other"


def test_findings_parity_via_spark(result):
    got = {
        (r.path, r.line, r.vuln_type, r.message, r.severity, tuple(r.trace or []))
        for r in result.findings.collect()
        # java/js/php/ruby AST tiers land in later milestones; the golden file
        # covers regex + python-AST + pattern tiers
    }
    ref = {
        (x["path"], x["line"], x["vuln_type"], x["message"], x["severity"], tuple(x.get("trace") or []))
        for x in json.load(open(GOLDEN))
    }
    assert ref - got == set(), f"missing: {sorted(ref - got)[:5]}"


def test_triples_projection(result):
    triples = result.triples.collect()
    preds = {t.pred for t in triples}
    assert {"HAS_VULN", "MATCHES_RULE", "TAINTED_BY", "FLOWS_TO"} <= preds
    # every regex finding has a MATCHES_RULE triple with #L<line> subject
    mr = [t for t in triples if t.pred == "MATCHES_RULE"]
    assert all("#L" in t.subj for t in mr)
    # HAS_VULN objects are CWE ids
    assert all(t.obj.startswith("CWE-") for t in triples if t.pred == "HAS_VULN")


def test_nodes_edges(result):
    nodes = result.nodes.collect()
    kinds = {n.kind for n in nodes}
    assert "file" in kinds and "cwe" in kinds
    assert result.edges.count() > 0
    assert result.nodes.select("node_id").distinct().count() == len(nodes)


def test_scan_diff_sets(spark, realcode_findings):
    from dr_source_spark.operators.relational import scan_diff

    key = ["path", "line", "vuln_type", "message"]
    curr = realcode_findings
    prev = realcode_findings.filter(F.col("severity") == "MEDIUM")  # regex tier only
    d = scan_diff(curr, prev, key)
    assert d["resolved"].count() == 0
    assert d["persistent"].count() == prev.select(key).distinct().count()
    assert d["new"].count() == curr.select(key).distinct().count() - prev.select(key).distinct().count()


def test_source_format_round_trips(spark, tmp_path):
    """JSONL/CSV/ORC corpus drops map onto SOURCE_FILES and produce the
    same findings as the parquet path."""
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.analyze import run_detectors
    from dr_source_spark.sources.corpus import ingest_source_files, read_source_files

    rows = [
        ("r", "a.py", "c", None,
         "import os\nfrom flask import request\nc = request.args.get('x')\nos.system(c)\n"),
        ("r", "b.ini", "c", None, "password = 'supersecretvalue'\n"),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    df = spark.createDataFrame(rows, schema)
    ckb = compile_kb(load_kb(project_dir="/nonexistent"))

    def findings_of(frame):
        return sorted(
            (r.path, r.line, r.vuln_type)
            for r in run_detectors(ingest_source_files(frame), ckb).collect()
        )

    want = findings_of(df)
    assert want  # both files fire

    for fmt, kwargs, writer in [
        ("json", {}, lambda p: df.write.mode("overwrite").json(p)),
        # source code embeds newlines -> CSV needs the documented
        # multiLine opt-in (non-splittable); bulk drops go to JSONL/ORC
        ("csv", {"csv_multiline": True}, lambda p: df.write.mode("overwrite")
            .option("header", True).option("escape", '"').csv(p)),
        ("orc", {}, lambda p: df.write.mode("overwrite").orc(p)),
    ]:
        out = str(tmp_path / fmt)
        writer(out)
        got = findings_of(read_source_files(spark, out, fmt=fmt, **kwargs))
        assert got == want, f"{fmt} round-trip diverged"


def test_csv_default_read_is_splittable(spark, tmp_path):
    """Default CSV ingest must plan MULTIPLE splits per file (multiLine CSV
    pins one task per file at scale — it is opt-in, not the default)."""
    from dr_source_spark.sources.corpus import read_source_files

    rows = [("r", f"f{i}.ini", "c", "other", f"password = 'secret{i}'") for i in range(2000)]
    schema = "repo string, path string, commit string, lang string, content string"
    out = str(tmp_path / "flat_csv")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").option(
        "header", True
    ).option("escape", '"').csv(out)

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        df = read_source_files(spark, out, fmt="csv")
        assert df.rdd.getNumPartitions() > 1  # one file, many splits
        assert df.count() == 2000
        assert df.filter(df.content == "password = 'secret7'").count() == 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_relative_dotted_path_is_a_path_not_a_table(spark, tmp_path, monkeypatch):
    """A relative location with a dot and no '/' that exists on disk
    ("corpus.parquet") is read as that path, not as an Iceberg table."""
    from dr_source_spark.sources.corpus import read_source_files

    schema = "repo string, path string, commit string, lang string, content string"
    spark.createDataFrame([("r", "a.py", "c", None, "x = 1\n")], schema).write.parquet(
        str(tmp_path / "corpus.parquet")
    )
    monkeypatch.chdir(tmp_path)
    assert [r.path for r in read_source_files(spark, "corpus.parquet").collect()] == ["a.py"]


def test_null_key_column_is_rejected_by_name(spark):
    """A NULL repo/path/commit fails the detector job with an error naming
    the column and the file, instead of a JVM NullPointerException from the
    not-null findings schema; no row is dropped silently."""
    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.analyze import run_detectors
    from dr_source_spark.sources.corpus import ingest_source_files

    content = "import os\npassword = 'supersecretvalue'\nos.system(input())\n"
    schema = "repo string, path string, commit string, lang string, content string"
    files = ingest_source_files(spark.createDataFrame([("r", "a.py", None, "python", content)], schema))
    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    with pytest.raises(Exception, match=r"repo='r' path='a.py': commit is NULL"):
        run_detectors(files, ckb).collect()


def test_python_inter_file_opt_in_through_pipeline(spark, reference_corpus):
    """extract(index_python=True) resolves cross-file Python taint over the
    reference's own inter_file fixtures (its pytest expects the cross-file
    trace, tests/test_inter_file_analysis.py:12-22); default off =
    reference parity (the stock scanner never wires a project index into
    the Python tier)."""
    from dr_source_spark.pipeline import extract
    from dr_source_spark.sources.corpus import corpus_from_dir

    corpus = corpus_from_dir(spark, f"{reference_corpus}/inter_file/python", repo="r", commit="c")

    res = extract(spark, corpus, run_id="py-if", index_python=True)
    hits = [
        r for r in res.findings.collect()
        if r.base_type == "COMMAND_INJECTION" and r.path == "inter_file_app.py"
    ]
    res.cleanup()
    assert hits and any("in inter_file_utils.py" in s for s in hits[0].trace), hits

    res0 = extract(spark, corpus, run_id="py-if0")
    parity = [
        r for r in res0.findings.collect()
        if r.base_type == "COMMAND_INJECTION" and r.path == "inter_file_app.py"
    ]
    res0.cleanup()
    assert parity == []  # default: python cross-file stays off
