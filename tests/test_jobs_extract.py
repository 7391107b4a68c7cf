"""jobs/extract.py, the spark-submit entry point, run as a subprocess: its
triples equal pipeline.extract's on the same input, and a re-run with the
same --run-id resumes from the lineage table without duplicating findings."""

import os
import subprocess
import sys

JOB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs", "extract.py")


def _rows(df):
    return sorted(tuple(r) for r in df.select(sorted(c for c in df.columns if c != "run_id")).collect())


def test_extract_job_matches_pipeline_and_resumes(spark, realcode_corpus, tmp_path):
    from dr_source_spark.pipeline import extract

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    realcode_corpus.filter(realcode_corpus.lang == "java").write.parquet(src)

    def run_job():
        # a small second JVM, run from outside the repo so the executors
        # must import the package the way spark-submit ships it
        env = dict(os.environ, PYSPARK_SUBMIT_ARGS="--master local[2] --driver-memory 1g pyspark-shell")
        p = subprocess.run(
            [sys.executable, JOB, "--input", src, "--output", out, "--run-id", "r1",
             "--splits", "4", "--batches", "2"],
            cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, p.stderr[-3000:]
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("run=")][-1]
        return dict(kv.split("=", 1) for kv in line.split())

    first = run_job()
    assert first["index_mode"] == "broadcast"
    assert int(first["splits_done"]) == 4 and int(first["findings"]) > 0
    job_triples = _rows(spark.read.parquet(f"{out}/triples/run_id=r1"))
    res = extract(spark, spark.read.parquet(src), run_id="r1")
    assert job_triples == _rows(res.triples)
    res.cleanup()

    findings = spark.read.parquet(f"{out}/findings").filter("run_id = 'r1'")
    before = _rows(findings)
    second = run_job()
    assert second["splits_done"] == first["splits_done"]
    assert (second["files"], second["findings"]) == ("0", "0")
    after = _rows(spark.read.parquet(f"{out}/findings").filter("run_id = 'r1'"))
    assert after == before and len(after) == int(first["findings"])
