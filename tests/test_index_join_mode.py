"""Join-mode inter-file resolution must produce the same findings as the
broadcast index — including cross-file traces and depth chains."""

import pytest


def _key(r):
    return (r.path, r.line, r.vuln_type, r.message, r.severity, tuple(r.trace or []))


@pytest.mark.parametrize("corpus", ["realcode_corpus", "fixture_corpus"])
def test_join_mode_equals_broadcast_mode(spark, corpus, request):
    from dr_source_spark.pipeline import extract

    files = request.getfixturevalue(corpus)
    if corpus == "realcode_corpus":
        # the Java files: the JS/PHP ones add minutes and GBs to join mode
        files = files.filter(files.lang == "java")
    bc = {_key(r) for r in extract(spark, files, run_id="bc").findings.collect()}
    jn = {_key(r) for r in extract(spark, files, run_id="jn", interfile_mode="join").findings.collect()}
    assert bc == jn
    assert bc, "no findings: the equality above is vacuous"
    if corpus == "realcode_corpus":
        return
    # cross-file hops present in join mode (the reference's inter_file fixtures)
    assert any("in DatabaseHelper.java" in t for k in jn for t in k[5])
    assert any("in db.js" in t for k in jn for t in k[5])


def test_attach_called_defs_transitive(spark):
    from dr_source_spark.operators.index_build import build_symbol_index
    from dr_source_spark.operators.index_join import attach_called_defs
    from dr_source_spark.sources.corpus import ingest_source_files

    a = "public class A { public void doGet() { hopOne(null); } }"
    b = "public class B { public void hopOne(String s) { hopTwo(s); } }"
    c = "public class C { public void hopTwo(String s) { use(s); } }"
    df = ingest_source_files(
        spark.createDataFrame(
            [("r", "A.java", "c", None, a), ("r", "B.java", "c", None, b), ("r", "C.java", "c", None, c)],
            "repo string, path string, commit string, lang string, content string",
        )
    )
    out = attach_called_defs(df, build_symbol_index(df))
    row = {r.path: r.called_defs for r in out.collect()}
    # A reaches hopOne (direct) AND hopTwo (transitive, depth 2)
    assert set(row["A.java"].keys()) >= {"hopOne", "hopTwo"}
    assert row["A.java"]["hopOne"]["path"] == "B.java"
    assert row["A.java"]["hopTwo"]["path"] == "C.java"
