"""Analyze-once content deduplication for the detector stage.

Detector output depends ONLY on (ext, content) — repo/path/commit are
attached to finding rows after analysis, and inter-file simulation reads
the global symbol-index broadcast, not the analyzed file's identity. So a
corpus with duplicated files (vendored dependencies, forks, copied
boilerplate — the dominant redundancy at 10^12-file scale) can be analyzed
per DISTINCT content and the findings joined back to every instance:

  files ──(dedup on ext|sha256)──> representatives ──detectors──> findings
  files ──(narrow: repo/path/commit/key)──────────────join on key──┘

Cost: one wide shuffle (the dedup moves content once) + one narrow join,
in exchange for running the CPU-heavy detector stage once per distinct
content. Break-even is a duplication factor barely above 1; real corpora
sit far above it.

Not compatible with join-mode input (a per-row ``called_defs`` column,
index_build.resolve_symbol_index): the defs would belong to one file, not
to its content. Use a broadcast index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import FINDINGS
from .analyze import run_detectors


def run_detectors_content_deduped(files_df: DataFrame, ckb, **run_detector_kwargs) -> DataFrame:
    """Same output as run_detectors(files_df, ckb, ...) — verified by
    tests/test_content_dedup.py — but each distinct (ext, content) is
    analyzed exactly once."""
    if "called_defs" in files_df.columns:
        raise ValueError("content dedup requires the broadcast index mode")
    sha = (
        F.col("content_sha256")
        if "content_sha256" in files_df.columns
        else F.sha2(F.col("content"), 256)
    )
    files = files_df.withColumn("_ckey", F.concat_ws("|", F.col("ext"), sha))
    # representatives ride the (ext, sha) key through the UDF in the repo
    # column; placeholders die when real identities join back
    reps = (
        files.select("_ckey", "ext", "content")
        .dropDuplicates(["_ckey"])
        .select(
            F.col("_ckey").alias("repo"),
            F.lit("").alias("path"),
            F.lit("").alias("commit"),
            "ext",
            "content",
        )
    )
    rep_findings = (
        run_detectors(reps, ckb, **run_detector_kwargs)
        .drop("path", "commit")
        .withColumnRenamed("repo", "_ckey")
    )
    members = files.select("repo", "path", "commit", "_ckey")
    return members.join(rep_findings, "_ckey").select(*FINDINGS.fieldNames())
