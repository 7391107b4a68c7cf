"""End-to-end extraction pipeline (the reference's `dr_source <path>` scan
lifecycle, SURVEY.md §3, re-expressed as two Spark jobs):

  read corpus → ingest (sha256/lang/ignore) →
  [job 1] symbol index (cross-file defs) → broadcast →
  [job 2] fused detector pass (regex+ast+pattern tiers, one mapInArrow) →
  findings → triples/nodes/edges → write parquet/Iceberg + lineage metrics.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kb import compiled_kb_cached
from .operators.analyze import run_detectors
from .operators.index_build import build_symbol_index, broadcast_index
from .operators.triples import findings_to_triples, triples_to_nodes_edges
from .sources.corpus import ingest_source_files


@dataclass
class ExtractionResult:
    findings: DataFrame
    triples: DataFrame
    nodes: DataFrame
    edges: DataFrame
    run_id: str
    # per-file tier failures/timeouts the reference would swallow silently
    # (scanner.py:183-188) — surfaced as a DataFrame (repo, path, commit,
    # message) so parse-failure loss is observable at corpus scale
    tier_errors: Optional[DataFrame] = None
    _cached: Optional[DataFrame] = None

    def cleanup(self) -> None:
        """Release the cached input after the outputs are materialized
        (long-lived sessions running many extractions)."""
        if self._cached is not None:
            self._cached.unpersist()


def extract(
    spark: SparkSession,
    source_files: DataFrame,
    kb_path: Optional[str] = None,
    enable_interfile: bool = True,
    interfile_mode: str = "broadcast",  # 'broadcast' | 'join'
    per_file_timeout_s: float = 0.0,
    run_id: Optional[str] = None,
    repartition: Optional[int] = None,
    content_dedup: bool = False,
    index_python: bool = False,
) -> ExtractionResult:
    """interfile_mode='join' attaches each file's reachable defs via
    distributed joins (operators/index_join.py) instead of a driver-side
    collect+broadcast — the path for corpora whose symbol index exceeds any
    broadcast budget.

    index_python=True also registers Python function defs in the symbol
    index, enabling cross-file Python taint (the reference's own
    inter-file pytest expects this, but its stock scanner never wires a
    project index into the Python tier — see SURVEY.md §2B B7 — so this is
    an opt-in EXTENSION; default off = reference parity).

    content_dedup=True analyzes each distinct (ext, content) once and joins
    findings back to every instance (operators/content_dedup.py) — the path
    for corpora with heavy file duplication (vendored deps, forks); output
    is finding-identical. Requires the broadcast index mode."""
    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
    # mtime-cached: repeated extractions reuse one CompiledKB object, which
    # in turn reuses one broadcast (operators/analyze.broadcast_ckb)
    ckb = compiled_kb_cached(explicit_path=kb_path)

    files = ingest_source_files(source_files)
    # persist only what the index/detector jobs consume: the ingest
    # invariants (content_sha256, size_bytes) are not read by the default
    # extraction path, and materializing them into the cache hashed every
    # file for nothing (round 6; content_dedup derives its own key when
    # the column is absent)
    files = files.select("repo", "path", "commit", "ext", "lang", "content")
    files = files.persist()  # read once, feed both jobs

    fn_index_bc = None
    fn_index_from_column = False
    if enable_interfile and interfile_mode == "join":
        from .operators.index_join import attach_called_defs

        files = attach_called_defs(files, build_symbol_index(files, include_python=index_python))
        fn_index_from_column = True
    elif enable_interfile:
        from .operators.index_build import restrict_index_to_called_names, try_broadcast_index

        index_df = build_symbol_index(files, include_python=index_python).persist()
        # ONE collect decides: ≤50k defs broadcast directly (the common
        # case costs one job, no count() pre-pass); otherwise restrict to
        # names that appear as call targets (re-scans content — worth it
        # only past the budget); if even that overflows, fall back to join
        # mode rather than silently truncating the index.
        fn_index_bc = try_broadcast_index(spark, index_df, max_entries=50_000)
        if fn_index_bc is None:
            restricted = restrict_index_to_called_names(index_df, files)
            fn_index_bc = try_broadcast_index(spark, restricted, max_entries=500_000)
        if fn_index_bc is None:
            from .operators.index_join import attach_called_defs

            files = attach_called_defs(files, index_df)
            fn_index_from_column = True

    detector_kwargs = dict(
        fn_index_broadcast=fn_index_bc,
        per_file_timeout_s=per_file_timeout_s,
        repartition=repartition,
        fn_index_from_column=fn_index_from_column,
        emit_tier_errors=True,
    )
    if content_dedup:
        from .operators.content_dedup import run_detectors_content_deduped

        if fn_index_from_column:
            raise ValueError("content_dedup requires interfile_mode='broadcast'")
        findings = run_detectors_content_deduped(files, ckb, **detector_kwargs)
    else:
        findings = run_detectors(files, ckb, **detector_kwargs)
    from .operators.analyze import TIER_ERROR_PLUGIN

    tier_errors = (
        findings.filter(F.col("plugin") == TIER_ERROR_PLUGIN)
        .select("repo", "path", "commit", "message")
    )
    findings = findings.filter(F.col("plugin") != TIER_ERROR_PLUGIN)
    triples = findings_to_triples(findings, run_id=run_id)
    nodes, edges = triples_to_nodes_edges(triples)
    return ExtractionResult(
        findings, triples, nodes, edges, run_id, tier_errors=tier_errors, _cached=files,
    )
