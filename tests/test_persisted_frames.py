"""Registry queries leave nothing persisted that ``PERSISTED.release()``
does not free.

``kg_graph_edges`` reads the shared kg extraction; ``kg_triples_diff``
and ``tier_error_rate`` return lazy outputs of their own ``extract()``
calls, so those calls' input and detector caches must outlive the query.
The test records every frame persisted while the three queries run and
materialize, except inside ``resolve_symbol_index`` (the symbol index
outlives ``extract()`` by design), then releases the owner and reads each
frame's storage level. It runs in a fresh `local[2]` session in a
subprocess: the storage level is looked up by plan in a cache shared by
every session of one JVM, so another test's cache of the same input
would answer for ours."""

import json
import os
import subprocess
import sys
import textwrap

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from pyspark import StorageLevel

    import __spark_entry__ as E
    from dr_source_spark import pipeline
    from dr_source_spark.queries import PERSISTED
    from dr_source_spark.session import get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=4)
    DataFrame = type(spark.range(1))  # the classic implementation class
    persisted, in_index = [], [False]
    real_persist, real_resolve = DataFrame.persist, pipeline.resolve_symbol_index

    def persist(self, *args, **kwargs):
        out = real_persist(self, *args, **kwargs)
        if not in_index[0]:
            persisted.append(out)
        return out

    def resolve(*args, **kwargs):
        in_index[0] = True
        try:
            return real_resolve(*args, **kwargs)
        finally:
            in_index[0] = False

    DataFrame.persist = persist
    DataFrame.cache = lambda self: persist(self)
    pipeline.resolve_symbol_index = resolve

    qs = E.queries()
    rows = {name: len(qs[name](spark, sys.argv[2]).collect())
            for name in ("kg_triples_diff", "tier_error_rate", "kg_graph_edges")}
    held = sum(df.storageLevel != StorageLevel.NONE for df in persisted)
    PERSISTED.release()
    left = [str(df.storageLevel) for df in persisted if df.storageLevel != StorageLevel.NONE]
    print("RESULT " + json.dumps({"rows": rows, "persisted": len(persisted), "held": held,
                                  "left": left}))
    spark.stop()
    """
)


def test_release_frees_every_frame_the_queries_persisted(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(SCRIPT)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    p = subprocess.run(
        [sys.executable, str(script), REPO, SF_DIR],
        cwd="/tmp", env=env, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads([ln for ln in p.stdout.splitlines() if ln.startswith("RESULT ")][-1][len("RESULT "):])
    assert all(n > 0 for n in res["rows"].values()), res["rows"]
    # three extract() calls (input + detector caches each) and the kg
    # extraction's findings and triples were persisted, and still held
    # after the queries returned
    assert res["persisted"] >= 8 and res["held"] >= 6, res
    assert res["left"] == [], res
