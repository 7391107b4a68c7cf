"""deploy.drop_zip_finders: a warm Python worker stops re-reading zip archives
on every task, and no import result changes.

The unit test runs in-process on a temporary zip. The worker test runs a
small `local[1]` session in a subprocess from outside the repository, so the
package arrives on the worker as the shipped zip, the way spark-submit
ships it. It probes the worker after a `mapInPandas` site (`where_used`'s
AST confirm, run first in the fresh worker) and after the detector's
`mapInArrow`."""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_finders():
    return [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]


def test_drop_zip_finders_keeps_imports_and_stops_rereads(tmp_path, monkeypatch):
    from dr_source_spark.deploy import drop_zip_finders

    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zf_probe_pkg/__init__.py", "")
        zf.writestr("zf_probe_pkg/one.py", "VALUE = 1\n")
        zf.writestr("zf_probe_pkg/two.py", "VALUE = 2\n")
    saved_path, saved_modules = list(sys.path), set(sys.modules)
    sys.path.insert(0, archive)
    try:
        one = importlib.import_module("zf_probe_pkg.one")
        assert one.VALUE == 1 and _zip_finders()

        drop_zip_finders()
        assert _zip_finders() == []

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        assert reads == []

        two = importlib.import_module("zf_probe_pkg.two")
        assert two.VALUE == 2 and two.__file__.startswith(archive)
        # the new finder was built from zipimport's directory cache
        assert reads == []
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


WORKER_SCRIPT = textwrap.dedent(
    """
    import json, os, sys, zipimport
    sys.path.insert(0, sys.argv[1])
    import pyarrow as pa
    from dr_source_spark.kb.compile import compiled_kb_cached
    from dr_source_spark.operators.analyze import run_detectors
    from dr_source_spark.operators.relational import where_used
    from dr_source_spark.session import get_spark
    from dr_source_spark.sources.corpus import corpus_from_dir, ingest_source_files

    spark = get_spark(master="local[1]")
    files = ingest_source_files(corpus_from_dir(spark, sys.argv[2], repo="realcode", commit="pin"))

    def probe(batches):
        # first thing in the UDF: what the task's setup left in the cache
        archives = sorted({os.path.basename(f.archive) for f in sys.path_importer_cache.values()
                           if isinstance(f, zipimport.zipimporter)})
        warm = {m: m in sys.modules for m in ("dr_source_spark.parsers.javaparse",
                                                "dr_source_spark.operators.analyze")}
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"archives": json.dumps(archives), "warm": json.dumps(warm)}])

    def probed():
        row = spark.range(1).coalesce(1).mapInArrow(probe, "archives string, warm string").collect()[0]
        return {"archives": json.loads(row.archives), "warm": json.loads(row.warm)}

    # a mapInPandas site first, in the fresh worker: where_used's AST confirm
    used = where_used(files, "SparkSession", ast_confirm=True).count()
    after_pandas = probed()
    ckb = compiled_kb_cached()
    runs = [sorted(map(tuple, run_detectors(files, ckb).select("path", "vuln_type", "line").collect()))
            for _ in range(2)]
    print("RESULT " + json.dumps({"same": runs[0] == runs[1], "findings": len(runs[0]),
                                  "used": used, "after_pandas": after_pandas,
                                  "after_detector": probed()}))
    spark.stop()
    """
)


def test_warm_worker_holds_no_spark_archive_finders(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(WORKER_SCRIPT)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    p = subprocess.run(
        [sys.executable, str(script), REPO, os.path.join(REPO, "tests", "realcode")],
        cwd="/tmp", env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads([ln for ln in p.stdout.splitlines() if ln.startswith("RESULT ")][-1][len("RESULT "):])
    assert res["same"] and res["findings"] > 0 and res["used"] > 0
    for site, module in (("after_pandas", "dr_source_spark.parsers.javaparse"),
                         ("after_detector", "dr_source_spark.operators.analyze")):
        probe = res[site]
        # the probe ran in the worker that ran the site
        assert probe["warm"][module], site
        spark_archives = [a for a in probe["archives"] if a == "pyspark.zip" or a.startswith("spark-core")]
        assert not spark_archives, (site, probe["archives"])
