"""The resumable-run protocol (operators/lineage.run_splits) as both of its
stores see it: KG extraction (extract_with_lineage) and corpus curation
(curate_stage1_with_lineage). The on-disk formats are pinned as literals so
that a run interrupted by an older build resumes under a newer one."""

import os

import pytest
from py4j.protocol import Py4JJavaError

from dr_source_spark.kb import compile_kb, load_kb
from dr_source_spark.operators.lineage import extract_with_lineage
from dr_source_spark.sources.corpus import ingest_source_files
from dr_source_spark.sources.synth import synth_code_corpus
from dr_source_spark.training.curate_job import curate_stage1_with_lineage

DOCS = "/root/testdata/sf0.001/documents.parquet"

LINEAGE_SCHEMA = {
    "extraction": "struct<run_id:string,split_key:int,split_id:string,files:bigint,"
    "findings:bigint,status:string,ts:double>",
    "curation": "struct<run_id:string,split_key:int,split_id:string,docs:bigint,"
    "status:string,ts:double>",
}
OUTPUTS = {"extraction": ["findings"], "curation": ["doc_stats", "signatures"]}


@pytest.fixture(scope="module")
def stores(spark):
    """store name -> run(out, run_id, **kw) over a small input."""
    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    docs = spark.read.parquet(DOCS).filter("doc_id < 20").cache()
    files = ingest_source_files(synth_code_corpus(docs)).cache()
    return {
        "extraction": lambda out, run_id, **kw: extract_with_lineage(
            spark, files, ckb, out, run_id, num_splits=4, num_batches=2, **kw
        ),
        "curation": lambda out, run_id, **kw: curate_stage1_with_lineage(
            spark, docs, out, run_id, num_splits=4, num_batches=2, **kw
        ),
    }


@pytest.mark.parametrize("store", ["extraction", "curation"])
@pytest.mark.parametrize("lineage", ["missing", "empty"])
def test_no_lineage_data_is_a_fresh_run(stores, store, lineage, tmp_path):
    out = tmp_path / "out"
    if lineage == "empty":
        (out / "lineage").mkdir(parents=True)
    run = stores[store](str(out), "fresh")
    assert (run.batches_run, run.splits_done) == (2, 4)


@pytest.mark.parametrize("store", ["extraction", "curation"])
def test_unreadable_lineage_raises(stores, store, tmp_path):
    """A lineage directory whose only file is not parquet is not 'no splits
    done': re-processing every split would hide the fault."""
    out = tmp_path / "out"
    (out / "lineage").mkdir(parents=True)
    (out / "lineage" / "part-00000.txt").write_text("not parquet")
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        stores[store](str(out), "broken")
    assert sorted(os.listdir(out)) == ["lineage"]


def test_batch_without_findings_commits(spark, tmp_path):
    """The first batch of a fresh run may write no findings at all; its
    splits are still committed with zero counts."""
    ckb = compile_kb(load_kb(project_dir="/nonexistent"))
    files = ingest_source_files(spark.createDataFrame(
        [("r", "a.py", "c", "python", "x = 1\n")],
        "repo string, path string, commit string, lang string, content string",
    ))
    run = extract_with_lineage(spark, files, ckb, str(tmp_path), "quiet", num_splits=2, num_batches=1)
    assert (run.splits_done, run.files, run.findings) == (2, 1, 0)


@pytest.mark.parametrize("store", ["extraction", "curation"])
def test_on_disk_format(spark, stores, store, tmp_path):
    out = str(tmp_path)
    stores[store](out, "fmt", max_batches=1)
    stores[store](out, "fmt")
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.schema.simpleString() == LINEAGE_SCHEMA[store]
    assert sorted(r.split_key for r in lineage.collect()) == [0, 1, 2, 3]
    for table in OUTPUTS[store]:
        assert _dirs(f"{out}/{table}") == ["run_id=fmt"]
        splits = _dirs(f"{out}/{table}/run_id=fmt")
        assert splits and all(d.startswith("split_key=") for d in splits)


def _dirs(path):
    return sorted(d for d in os.listdir(path) if not d.startswith(("_", ".")))
