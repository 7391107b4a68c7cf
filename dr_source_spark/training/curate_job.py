"""Resumable two-stage corpus curation with per-split lineage — the
production shape of the curation pipeline at 100 TB.

Stage 1 (resumable, split-local): each split of the corpus checkpoints
its NARROW per-document artifacts — doc stats (token count, quality
reason, exact-dup fingerprint) and MinHash band signatures — partitioned
by (run_id, split_key) with a lineage row per completed split, through
the same runner (`operators.lineage.run_splits`) as the KG extraction
stage. An interrupted run resumes by skipping splits whose lineage row
says 'done'; dynamic partition overwrite keeps re-processing idempotent.

Stage 2 (global, cheap): once every split is checkpointed, the LSH
banding → Jaccard verify → connected components → keep-list pass runs
over the NARROW signature table — the 100 TB text column is read once,
in stage 1, never again (the verify step joins token sets back only for
candidate pairs). The staged result is required — and pytest-gated — to
equal `training.curate.final_keep_list` run in one shot.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lineage import completed_splits, run_splits
from .curate import REASON_KEPT, quality_reason_expr
from .dedup import _band_signatures, _pairs_from_band_sigs, duplicate_clusters, ngram_jaccard


@dataclass
class CurateRun:
    run_id: str
    stats_path: str
    sigs_path: str
    lineage_path: str
    batches_run: int
    splits_done: int
    docs: int


def curate_stage1_with_lineage(
    spark: SparkSession,
    documents: DataFrame,
    output_dir: str,
    run_id: str,
    num_splits: int = 64,
    num_batches: int = 8,
    max_batches: int | None = None,
    num_hashes: int = 112,
    bands: int = 14,
    min_tokens: int = 5,
    min_stopword_ratio: float = 0.05,
) -> CurateRun:
    """Run (or resume) the per-document artifact stage with checkpointing.

    ``max_batches`` exists for tests/controlled draining: stop after N
    batches as if interrupted; call again with the same run_id to resume.
    Each split writes two narrow tables partitioned by (run_id,
    split_key): ``doc_stats`` (doc_id, lang, n_tokens, fp, quality_reason)
    and ``signatures`` (doc_id, band, band_sig)."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    norm = F.regexp_replace(F.lower(txt), r"\s+", " ")
    toks = F.filter(F.split(F.trim(F.lower(txt)), r"\s+"), lambda w: w != "")

    def artifacts(batch: DataFrame, write) -> dict:
        stats = batch.select(
            "doc_id",
            "lang",
            F.size(toks).cast("long").alias("n_tokens"),
            F.sha2(norm, 256).alias("fp"),
            quality_reason_expr(F.col("text"), min_tokens, min_stopword_ratio).alias(
                "quality_reason"
            ),
        )
        write(stats, "doc_stats")
        write(_band_signatures(batch, num_hashes, bands), "signatures")
        return {"docs": batch}

    batches_run, splits_done, totals = run_splits(
        spark, documents, ["doc_id"], output_dir, run_id, num_splits, num_batches, max_batches, artifacts
    )
    return CurateRun(
        run_id=run_id,
        stats_path=f"{output_dir}/doc_stats",
        sigs_path=f"{output_dir}/signatures",
        lineage_path=f"{output_dir}/lineage",
        batches_run=batches_run,
        splits_done=splits_done,
        docs=totals["docs"],
    )


def curate_finalize(
    spark: SparkSession,
    documents: DataFrame,
    output_dir: str,
    run_id: str,
    jaccard_threshold: float = 0.9,
    max_cluster: int = 1000,
) -> DataFrame:
    """Stage 2: keep-list from the checkpointed artifacts. Reads the
    NARROW signature table for pair generation (grouped banding with the
    viral-cluster cap — same machinery as the one-shot operator), joins
    token sets back ONLY for candidates, clusters, and layers the
    checkpointed quality reasons. Writes ``keep_list`` partitioned by
    run_id and returns it.

    Output is row-identical to ``training.curate.final_keep_list``
    (pytest parity gate): near_duplicate > too_short > low_stopword_ratio
    > kept.

    Refuses to run on an incomplete stage 1: the checkpointed doc_stats
    must cover the input documents row-for-row (one metadata-cheap count
    on each side), otherwise documents from unprocessed splits would be
    dropped by the inner join below and escape curation UNAUDITED — the
    exact failure the keep-list's every-doc-gets-a-verdict invariant
    exists to prevent."""
    stats = (
        spark.read.parquet(f"{output_dir}/doc_stats")
        .filter(F.col("run_id") == run_id)
        .select("doc_id", "quality_reason")
    )
    n_docs, n_stats = documents.count(), stats.count()
    if n_docs != n_stats:
        done = completed_splits(spark, f"{output_dir}/lineage", run_id)
        raise ValueError(
            f"curate_finalize: stage 1 incomplete for run {run_id!r} — "
            f"{n_stats} checkpointed doc_stats rows vs {n_docs} input "
            f"documents (lineage reports {len(done)} splits done). Resume "
            f"curate_stage1_with_lineage to completion first."
        )
    sigs = (
        spark.read.parquet(f"{output_dir}/signatures")
        .filter(F.col("run_id") == run_id)
        .select("doc_id", "band", "band_sig")
    )
    cands = _pairs_from_band_sigs(sigs, max_cluster)
    verified = ngram_jaccard(documents, cands).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    clusters = duplicate_clusters(documents, pairs=verified)
    reason = F.when(
        F.col("cluster_id") != F.col("doc_id"), F.lit("near_duplicate")
    ).otherwise(F.col("quality_reason"))
    keep = (
        clusters.join(stats, "doc_id")
        .select(
            "doc_id",
            reason.alias("reason"),
            (reason == REASON_KEPT).alias("keep"),
        )
    )
    (
        keep.withColumn("run_id", F.lit(run_id))
        .write.partitionBy("run_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(f"{output_dir}/keep_list")
    )
    return spark.read.parquet(f"{output_dir}/keep_list").filter(
        F.col("run_id") == run_id
    ).select("doc_id", "reason", "keep")
