"""The workloads. Each one generates its seeded input tables (pure
Python, untimed), then offers one job (timed, or run untimed as the warm
pass of set-up) and an untimed check of that job's outputs.

A job calls only the package's public functions, the way a user's driver
program would: source table on disk -> pipeline.extract -> triples, nodes
and edges written (small_files); a commit file landing ->
streaming.incremental.incremental_extract (commit_stream); KG edges on
disk -> operators.graph (kg_graph).
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass, field

import duckdb

from . import inputs

# Sizes: one run (cold set-up, then at least two timed jobs) stays under a
# minute on a 4-core box; beyond these sizes Spark's per-job fixed costs
# still dominate, so larger inputs would add run time, not signal.
SMALL_FILES = 2000
STREAM_BASE_FILES = 1000
KG_FILES = 300
SOURCE_PARTS = 4
MAX_COMMITS = 96


def _digest(con, sql: str) -> str:
    """Order-independent multiset digest of a query's rows."""
    n, h = con.execute(f"SELECT count(*), sum(hash(t)::HUGEINT) FROM ({sql}) t").fetchone()
    return f"{n}:{h}"


def _multiset_diff(con, got: str, want: str) -> tuple[int, int]:
    """(rows only in ``got``, rows only in ``want``), counting duplicates."""
    return con.execute(
        f"WITH g AS ({got}), w AS ({want}) SELECT "
        "(SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM w)), "
        "(SELECT count(*) FROM (SELECT * FROM w EXCEPT ALL SELECT * FROM g))"
    ).fetchone()


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _write_parts(rows: list[tuple], out_dir: str) -> None:
    """A table of SOURCE_PARTS parquet files, as a 4-task Spark write leaves it."""
    os.makedirs(out_dir)
    step = math.ceil(len(rows) / SOURCE_PARTS)
    for i in range(SOURCE_PARTS):
        inputs.write_files(rows[i * step:(i + 1) * step], os.path.join(out_dir, f"part-{i:05d}.parquet"))


@dataclass
class Result:
    """What a check reports for one job."""

    attempted: int
    failed: int = 0
    problems: list = field(default_factory=list)
    digest: str = ""
    counts: dict = field(default_factory=dict)


class SmallFiles:
    """source table -> pipeline.extract -> triples/nodes/edges parquet."""

    name = "small_files"
    OUTPUTS = ("triples", "nodes", "edges")

    def __init__(self, work: str):
        self.work = work
        self.src = os.path.join(work, "src")
        self.out = os.path.join(work, "out")
        self.files_per_job = SMALL_FILES

    def generate(self, rng: random.Random) -> dict:
        docs = inputs.documents(rng, SMALL_FILES)
        inputs.write_documents(docs, os.path.join(self.work, "documents.parquet"))
        rows = inputs.synth_corpus(docs)
        _write_parts(rows, self.src)
        return inputs.properties(rows)

    def prepare(self, spark) -> None:
        pass

    def job(self, spark, tracer):
        from dr_source_spark.pipeline import extract
        from dr_source_spark.sources.corpus import read_source_files

        with tracer.span("extract", "index"):
            res = extract(spark, read_source_files(spark, self.src), run_id="bench")
        for name in self.OUTPUTS:
            with tracer.span(f"write.{name}", "sink"):
                getattr(res, name).write.mode("overwrite").parquet(os.path.join(self.out, name))
        return res

    def check(self, spark, res, tier_errors: bool = False) -> Result:
        """Triples equal the template oracle over the documents, as an exact
        multiset; digest of all three outputs. ``tier_errors`` also counts
        the files with a tier error or timeout, which costs one more
        detector pass over the cached input."""
        from dr_source_spark.sources.synth import kg_triples_oracle_sql

        try:
            bad = res.tier_errors.select("repo", "path").distinct().count() if tier_errors else 0
        finally:
            res.cleanup()
        con = duckdb.connect()
        try:
            counts = {n: con.execute(f"SELECT count(*) FROM {_parquet(os.path.join(self.out, n))}").fetchone()[0]
                      for n in self.OUTPUTS}
            digest = "|".join(_digest(con, f"SELECT * FROM {_parquet(os.path.join(self.out, n))}")
                              for n in self.OUTPUTS)
            con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.work, 'documents.parquet')}')")
            got = (f"SELECT subj, pred, obj, line, coalesce(array_to_string(trace, ' -> '), '') AS trace, "
                   f"run_id FROM {_parquet(os.path.join(self.out, 'triples'))}")
            extra, missing = _multiset_diff(con, got, kg_triples_oracle_sql(run_id="bench", commit="bench"))
        finally:
            con.close()
        problems = []
        if extra or missing:
            problems.append(f"triples differ from the oracle: {extra} unexpected, {missing} missing")
        if bad:
            problems.append(f"{bad} files with tier errors")
        return Result(SMALL_FILES, bad, problems, digest, counts)


class CommitStream:
    """A base snapshot drained untimed, then one commit file of ~1 % changed
    files lands at a time and incremental_extract drains it (availableNow,
    same checkpoint) before the next one lands."""

    name = "commit_stream"

    def __init__(self, work: str):
        self.work = work
        self.stream = os.path.join(work, "stream")
        self.staged = os.path.join(work, "staged")
        self.out = os.path.join(work, "out")
        self.ckpt = os.path.join(work, "checkpoint")
        self.commits: list[tuple[str, int, int]] = []  # (commit id, files, expected findings)
        self.next = 0
        self.progress: list[dict] = []

    def generate(self, rng: random.Random) -> dict:
        docs = inputs.documents(rng, STREAM_BASE_FILES)
        base = inputs.synth_corpus(docs)
        os.makedirs(self.stream)
        os.makedirs(self.staged)
        inputs.write_files([r[:2] + ("base",) + r[3:] for r in base], os.path.join(self.stream, "base.parquet"))
        words = {d: t.split(" ")[2] for d, t in docs}
        per_commit = max(1, STREAM_BASE_FILES // 100)
        changed = []
        for i in range(MAX_COMMITS):
            cid = f"c{i:04d}"
            rows, expected = inputs.commit_files(rng, docs, words, per_commit, cid)
            inputs.write_files(rows, os.path.join(self.staged, f"{cid}.parquet"))
            self.commits.append((cid, len(rows), expected))
            changed += rows
        props = inputs.properties(base)
        props["commit_files"] = per_commit
        props["commit_mb"] = round(inputs.properties(changed)["mb"] / MAX_COMMITS, 4)
        return props

    @property
    def files_per_job(self) -> int:
        return self.commits[0][1]

    def _drain(self, spark):
        from dr_source_spark.kb import compiled_kb_cached
        from dr_source_spark.streaming.incremental import incremental_extract

        q = incremental_extract(spark, self.stream, self.out, self.ckpt, compiled_kb_cached())
        self.progress = [p.durationMs for p in q.recentProgress]

    def prepare(self, spark) -> None:
        self._drain(spark)  # the base snapshot

    def job(self, spark, tracer):
        if self.next >= len(self.commits):
            raise RuntimeError(f"all {len(self.commits)} staged commits used")
        cid, _n, _expected = self.commits[self.next]
        self.next += 1
        with tracer.span("land", "sources"):
            os.rename(os.path.join(self.staged, f"{cid}.parquet"), os.path.join(self.stream, f"{cid}.parquet"))
        with tracer.span("drain", "streaming"):
            self._drain(spark)
        return cid

    def check(self, spark, cid, tier_errors: bool = False) -> Result:
        _cid, _n, expected = self.commits[int(cid[1:])]
        con = duckdb.connect()
        try:
            sql = f"SELECT * FROM {_parquet(os.path.join(self.out, 'findings'))} WHERE \"commit\" = '{cid}'"
            got = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            digest = _digest(con, sql)
        finally:
            con.close()
        problems = [] if got == expected else [f"commit {cid}: {got} findings, expected {expected}"]
        return Result(1, 0, problems, digest, {"findings": got})


class KgGraph:
    """The KG read side: the edges of a small_files-shaped corpus, fed to
    six graph operators whose results are written."""

    name = "kg_graph"
    OPS = ("pagerank", "components", "triangles", "four_cycles", "hyperball", "label_prop")

    def __init__(self, work: str):
        self.work = work
        self.edges = os.path.join(work, "kg", "edges")
        self.out = os.path.join(work, "out")
        self.files_per_job = KG_FILES

    def generate(self, rng: random.Random) -> dict:
        """The KG edges that pipeline.extract writes for a small_files-shaped
        corpus, derived exactly by the package's DuckDB oracle (the
        repository's tests hold the oracle equal to the pipeline output)."""
        from dr_source_spark.sources.synth import kg_edges_oracle_sql

        docs = inputs.documents(rng, KG_FILES)
        documents = os.path.join(self.work, "documents.parquet")
        inputs.write_documents(docs, documents)
        os.makedirs(self.edges)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents}')")
            con.execute(f"COPY ({kg_edges_oracle_sql(run_id='bench', commit='bench')}) "
                        f"TO '{self.edges}/part-00000.parquet' (FORMAT PARQUET)")
            n_edges = con.execute(f"SELECT count(*) FROM {_parquet(self.edges)}").fetchone()[0]
        finally:
            con.close()
        return dict(inputs.properties(inputs.synth_corpus(docs)), kg_edges=n_edges)

    def prepare(self, spark) -> None:
        pass

    def _ops(self, edges):
        from pyspark.sql import functions as F

        from dr_source_spark.operators import graph

        def hyperball():
            sym = (edges.select("src", "dst")
                   .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
                   .filter(F.col("src") != F.col("dst")).distinct())
            return graph.hyperball_neighborhoods(sym, sym.select(F.col("src").alias("node")).distinct(), p=4)

        return {
            "pagerank": lambda: graph.pagerank_fixed_point(edges),
            "components": lambda: graph.alternating_star_components(edges),
            "triangles": lambda: graph.triangle_counts(edges),
            "four_cycles": lambda: graph.four_cycle_census(edges),
            "hyperball": hyperball,
            "label_prop": lambda: graph.label_propagation(edges, rounds=4),
        }

    def job(self, spark, tracer):
        ops = self._ops(spark.read.parquet(self.edges))
        raised = []
        for name in self.OPS:
            with tracer.span(f"graph.{name}", "graph"):
                try:
                    ops[name]().write.mode("overwrite").parquet(os.path.join(self.out, name))
                except Exception as e:  # a failed operator is counted, the job goes on
                    raised.append(f"{name}: {type(e).__name__}: {e}"[:300])
        return raised

    def check(self, spark, raised, tier_errors: bool = False) -> Result:
        con = duckdb.connect()
        try:
            failed = {r.split(":")[0] for r in raised}
            digest = "|".join(_digest(con, f"SELECT * FROM {_parquet(os.path.join(self.out, n))}")
                              for n in self.OPS if n not in failed)
        finally:
            con.close()
        return Result(len(self.OPS), len(raised), list(raised), digest)


WORKLOADS = {w.name: w for w in (SmallFiles, CommitStream, KgGraph)}
