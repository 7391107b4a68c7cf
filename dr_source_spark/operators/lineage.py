"""Checkpointed, resumable split runs with per-split lineage + metrics.

The reference has no resume story (a crashed scan just re-runs,
SURVEY.md §4 R12). At 10^12 files the job MUST be interruptible, so KG
extraction (``extract_with_lineage``) and corpus curation
(``training.curate_job.curate_stage1_with_lineage``) both run through one
protocol, ``run_splits``:

* every input row maps to a stable split: ``pmod(xxhash64(key cols), S)``
  — content-independent, so a re-run sees identical splits;
* pending splits are processed in B batches; each batch writes its outputs
  into tables partitioned by (run_id, split_key) and THEN appends one
  `done` lineage row per split of the batch, empty splits included
  (write-then-commit ordering: a crash between the two re-processes the
  batch, and the dynamic overwrite of those split partitions keeps output
  exact);
* resume = skip the splits with a `done` lineage row — identical call, no
  special mode;
* per-split counts ride on the lineage rows; a run's totals are the sums
  of the counts of the batches it ran.

Batch size trades checkpoint granularity against scheduling overhead: with
B=16 on a 1000-executor cluster each batch is still tens of thousands of
tasks — the barrier cost is noise, and an interruption loses at most 1/16
of the work.
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional, Sequence, Tuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class LineageRun:
    run_id: str
    findings_path: str
    lineage_path: str
    batches_run: int
    splits_done: int
    files: int
    findings: int


def completed_splits(spark: SparkSession, lineage_path: str, run_id: str) -> List[int]:
    """Splits of ``run_id`` with a `done` lineage row. A missing path or a
    directory without data files means a fresh run. Any other read failure
    (permissions, a corrupt or foreign file, transient storage) raises:
    swallowing it would silently re-process every split and misreport
    splits_done."""
    try:
        lin = spark.read.schema("run_id string, split_key int, status string").parquet(lineage_path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return []
        raise
    rows = lin.filter((F.col("run_id") == run_id) & (F.col("status") == "done")).select("split_key").distinct().collect()
    return sorted(r.split_key for r in rows)


def run_splits(
    spark: SparkSession,
    rows: DataFrame,
    key_cols: Sequence[str],
    output_dir: str,
    run_id: str,
    num_splits: int,
    num_batches: int,
    max_batches: Optional[int],
    process: Callable[[DataFrame, Callable[[DataFrame, str], DataFrame]], Dict[str, DataFrame]],
) -> Tuple[int, int, Counter]:
    """Run (or resume) ``process`` over the pending splits of ``rows``.

    ``process(batch, write)`` gets one batch's rows (with ``split_key``)
    and writes its outputs with ``write(df, name)``, which overwrites the
    batch's (run_id, split_key) partitions of ``{output_dir}/{name}`` and
    returns what it wrote. It returns the frames to count per split, keyed
    by lineage column (``{"files": batch, "findings": written}``).

    ``max_batches`` exists for tests/controlled draining: stop after N
    batches as if interrupted; call again with the same run_id to resume.
    Returns (batches run, splits done, per-column totals of this call)."""
    lineage_path = f"{output_dir}/lineage"
    split_key = F.pmod(F.xxhash64(*key_cols), F.lit(num_splits)).cast("int")
    rows = rows.withColumn("split_key", split_key)
    done = set(completed_splits(spark, lineage_path, run_id))
    pending = [s for s in range(num_splits) if s not in done]
    per_batch = max(1, (len(pending) + num_batches - 1) // num_batches)
    batches = [pending[i : i + per_batch] for i in range(0, len(pending), per_batch)][:max_batches]

    totals: Counter = Counter()
    for batch in batches:
        in_batch = F.col("split_key").isin(batch)

        def write(df: DataFrame, name: str) -> DataFrame:
            # the split key is recomputed on each (narrow) output from the
            # same key columns instead of joining the wide input back in;
            # dynamic partition overwrite keeps re-processing idempotent and
            # leaves other runs' partitions untouched
            out = df.withColumn("split_key", split_key).withColumn("run_id", F.lit(run_id))
            path = f"{output_dir}/{name}"
            (
                out.repartition("split_key")
                .write.partitionBy("run_id", "split_key")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(path)
            )
            # the written schema, not an inferred one: a batch that wrote no
            # rows leaves no file to infer from
            return spark.read.schema(out.schema).parquet(path).filter((F.col("run_id") == run_id) & in_batch)

        counts = {
            name: dict(df.groupBy("split_key").count().collect())
            for name, df in process(rows.filter(in_batch), write).items()
        }
        schema = ", ".join(
            ["run_id string", "split_key int", "split_id string"]
            + [f"{name} bigint" for name in counts]
            + ["status string", "ts double"]
        )
        lineage_rows = [
            (run_id, s, f"split={s}", *(c.get(s, 0) for c in counts.values()), "done", time.time())
            for s in batch
        ]
        spark.createDataFrame(lineage_rows, schema).write.mode("append").parquet(lineage_path)
        totals.update({name: sum(c.values()) for name, c in counts.items()})

    return len(batches), len(completed_splits(spark, lineage_path, run_id)), totals


def extract_with_lineage(
    spark: SparkSession,
    files: DataFrame,
    ckb,
    output_dir: str,
    run_id: str,
    num_splits: int = 64,
    num_batches: int = 8,
    max_batches: Optional[int] = None,
    fn_index_broadcast=None,
) -> LineageRun:
    """Run (or resume) the detector stage over ``files`` with checkpointing
    (``run_splits``, split on (repo, path)): findings go to
    ``{output_dir}/findings``, each lineage row counts a split's files and
    findings."""
    from .analyze import run_detectors

    def detect(batch: DataFrame, write) -> Dict[str, DataFrame]:
        findings = write(run_detectors(batch, ckb, fn_index_broadcast=fn_index_broadcast), "findings")
        return {"files": batch, "findings": findings}

    batches_run, splits_done, totals = run_splits(
        spark, files, ["repo", "path"], output_dir, run_id, num_splits, num_batches, max_batches, detect
    )
    return LineageRun(
        run_id=run_id,
        findings_path=f"{output_dir}/findings",
        lineage_path=f"{output_dir}/lineage",
        batches_run=batches_run,
        splits_done=splits_done,
        files=totals["files"],
        findings=totals["findings"],
    )


def read_findings(spark: SparkSession, output_dir: str, run_id: str) -> DataFrame:
    return spark.read.parquet(f"{output_dir}/findings").filter(F.col("run_id") == run_id)
