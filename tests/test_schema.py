"""The table declarations in dr_source_spark/schema.py are the ones the
extraction pipeline writes: same column names, order and types; and the
file node ids its triples carry."""

import pytest

from dr_source_spark import schema
from dr_source_spark.pipeline import extract
from dr_source_spark.sources.synth import synth_code_corpus


def _columns(struct):
    return [(f.name, f.dataType) for f in struct.fields]


@pytest.fixture(scope="module")
def extracted(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter("doc_id < 20")
    res = extract(spark, synth_code_corpus(docs), run_id="schema")
    yield res
    res.cleanup()


@pytest.mark.parametrize("table, declared", [
    ("findings", schema.FINDINGS),
    ("triples", schema.TRIPLES),
    ("nodes", schema.NODES),
    ("edges", schema.EDGES),
])
def test_extract_outputs_match_declarations(extracted, table, declared):
    assert _columns(getattr(extracted, table).schema) == _columns(declared)


def test_has_vuln_subjects_are_file_uris(extracted):
    """A file's KG node id is the reference's file URI, repo:path@commit."""
    findings = extracted.findings.filter("cwe IS NOT NULL").collect()
    want = {(f"{f.repo}:{f.path}@{f.commit}", f.cwe) for f in findings}
    got = {(t.subj, t.obj) for t in extracted.triples.filter("pred = 'HAS_VULN'").collect()}
    assert want and got == want
