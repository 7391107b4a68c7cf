"""jobs/curate.py, the spark-submit entry point, run as a subprocess: its
keep list equals training.curate.final_keep_list on the same documents,
and a re-run with the same --run-id resumes from the lineage table
without re-processing a document or changing the keep list."""

import os
import subprocess
import sys

JOB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs", "curate.py")


def _rows(df):
    return sorted(tuple(r) for r in df.select("doc_id", "reason", "keep").collect())


def test_curate_job_matches_operator_and_resumes(spark, tmp_path):
    from dr_source_spark.training.curate import final_keep_list

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.parquet(src)

    def run_job():
        # a small second JVM, run from outside the repo so the executors
        # must import the package the way spark-submit ships it
        env = dict(os.environ, PYSPARK_SUBMIT_ARGS="--master local[2] --driver-memory 1g pyspark-shell")
        p = subprocess.run(
            [sys.executable, JOB, "--input", src, "--output", out, "--run-id", "c1",
             "--splits", "4", "--batches", "2"],
            cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, p.stderr[-3000:]
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("run=")][-1]
        return dict(kv.split("=", 1) for kv in line.split())

    def keep_list():
        return _rows(spark.read.parquet(f"{out}/keep_list").filter("run_id = 'c1'"))

    first = run_job()
    n = docs.count()
    assert (first["splits_done"], first["docs"], first["keep_list"]) == ("4", str(n), str(n))
    before = keep_list()
    assert before == _rows(final_keep_list(docs))

    second = run_job()
    assert (second["splits_done"], second["docs"]) == ("4", "0")
    assert second["keep_list"] == first["keep_list"] and second["kept"] == first["kept"]
    assert keep_list() == before
