"""Join-mode inter-file resolution must produce the same findings as the
broadcast index — including cross-file traces and depth chains."""

import pytest


def _key(r):
    return (r.path, r.line, r.vuln_type, r.message, r.severity, tuple(r.trace or []))


@pytest.mark.parametrize("corpus", ["realcode_corpus", "fixture_corpus"])
def test_join_mode_equals_broadcast_mode(spark, corpus, request):
    from dr_source_spark.kb import compiled_kb_cached
    from dr_source_spark.operators.analyze import run_detectors
    from dr_source_spark.operators.index_build import build_symbol_index
    from dr_source_spark.operators.index_join import attach_called_defs
    from dr_source_spark.pipeline import extract
    from dr_source_spark.sources.corpus import ingest_source_files

    files = request.getfixturevalue(corpus)
    res = extract(spark, files, run_id="bc")
    assert res.index_mode == "broadcast"
    bc = sorted(_key(r) for r in res.findings.collect())
    res.cleanup()
    # join mode forced directly: at these sizes the ladder never reaches it
    ingested = ingest_source_files(files)
    joined = attach_called_defs(ingested, build_symbol_index(ingested))
    jn = sorted(_key(r) for r in run_detectors(joined, compiled_kb_cached()).collect())
    assert bc == jn
    assert bc, "no findings: the equality above is vacuous"
    if corpus == "realcode_corpus":
        return
    # cross-file hops present in join mode (the reference's inter_file fixtures)
    assert any("in DatabaseHelper.java" in t for k in jn for t in k[5])
    assert any("in db.js" in t for k in jn for t in k[5])


def test_extract_ladder_rungs_agree(spark, realcode_corpus, monkeypatch):
    """Each rung of resolve_symbol_index, forced through extract() by
    shrinking the budgets, reports itself and finds what the default does."""
    from dr_source_spark.operators import index_build
    from dr_source_spark.pipeline import extract
    from dr_source_spark.sources.corpus import ingest_source_files

    files = realcode_corpus.filter(realcode_corpus.lang == "java")
    n_defs = index_build.build_symbol_index(ingest_source_files(files)).count()

    def run(run_id):
        res = extract(spark, files, run_id=run_id)
        out = res.index_mode, sorted(_key(r) for r in res.findings.collect())
        res.cleanup()
        return out

    mode, default = run("default")
    assert mode == "broadcast" and default
    monkeypatch.setattr(index_build, "BROADCAST_DEFS", n_defs - 1)
    assert run("restricted") == ("restricted", default)
    monkeypatch.setattr(index_build, "BROADCAST_DEFS", 0)
    monkeypatch.setattr(index_build, "RESTRICTED_DEFS", 0)
    assert run("join") == ("join", default)
    res = extract(spark, files, enable_interfile=False)
    assert res.index_mode is None
    res.cleanup()


def test_attach_called_defs_transitive(spark):
    from dr_source_spark.operators.index_build import build_symbol_index
    from dr_source_spark.operators.index_join import attach_called_defs
    from dr_source_spark.sources.corpus import ingest_source_files

    a = "public class A { public void doGet() { hopOne(null); } }"
    b = "public class B { public void hopOne(String s) { hopTwo(s); } }"
    # hopTwo calls back into hopOne: a cycle the expansion must not re-walk
    c = "public class C { public void hopTwo(String s) { hopThree(s); hopOne(s); } }"
    d = "public class D { public void hopThree(String s) { hopFour(s); } }"
    e = "public class E { public void hopFour(String s) { use(s); } }"
    df = ingest_source_files(
        spark.createDataFrame(
            [("r", f"{n}.java", "c", None, src) for n, src in zip("ABCDE", (a, b, c, d, e))],
            "repo string, path string, commit string, lang string, content string",
        )
    )
    out = attach_called_defs(df, build_symbol_index(df))
    row = {r.path: r.called_defs for r in out.collect()}
    # A reaches hopOne (direct), hopTwo and hopThree (transitive, depths 2
    # and 3), but not hopFour (depth 4, past max_depth)
    assert set(row["A.java"].keys()) >= {"hopOne", "hopTwo", "hopThree"}
    assert "hopFour" not in row["A.java"]
    assert row["A.java"]["hopOne"]["path"] == "B.java"
    assert row["A.java"]["hopTwo"]["path"] == "C.java"
