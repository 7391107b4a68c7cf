"""End-to-end extraction pipeline (the reference's `dr_source <path>` scan
lifecycle, SURVEY.md §3, re-expressed as two Spark jobs):

  read corpus → ingest (sha256/lang/ignore) →
  [job 1] symbol index (cross-file defs) → broadcast, or per-file defs
          via joins past the broadcast budgets →
  [job 2] fused detector pass (regex+ast+pattern tiers, one mapInArrow) →
  findings → triples/nodes/edges → write parquet/Iceberg + lineage metrics.

The detector output is persisted once per extract() call: findings,
tier_errors, triples, nodes and edges all read that one cache, so each
file is analyzed once whichever outputs the caller consumes.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kb import compiled_kb_cached
from .operators.analyze import TIER_ERROR_PLUGIN, run_detectors
from .operators.index_build import resolve_symbol_index
from .operators.triples import findings_to_triples, triples_to_nodes_edges
from .sources.corpus import ingest_source_files


@dataclass
class ExtractionResult:
    """Lazy outputs of one extract() call. Every output derives from one
    cached detector frame (``_detected``), filled by the first action and
    read by the later ones; ``cleanup()`` releases it."""

    findings: DataFrame
    triples: DataFrame
    nodes: DataFrame
    edges: DataFrame
    run_id: str
    # per-file tier failures/timeouts the reference would swallow silently
    # (scanner.py:183-188) — surfaced as a DataFrame (repo, path, commit,
    # message) so parse-failure loss is observable at corpus scale
    tier_errors: Optional[DataFrame] = None
    # which resolve_symbol_index rung served the inter-file index:
    # "broadcast" | "restricted" | "join"; None when inter-file is off
    index_mode: Optional[str] = None
    _cached: Optional[DataFrame] = None
    _detected: Optional[DataFrame] = None

    def cleanup(self) -> None:
        """Release both caches, the ingested input and the detector output,
        after the outputs are materialized (long-lived sessions running many
        extractions). Outputs read afterwards re-run the detector."""
        for df in (self._cached, self._detected):
            if df is not None:
                df.unpersist()


def extract(
    spark: SparkSession,
    source_files: DataFrame,
    kb_path: Optional[str] = None,
    enable_interfile: bool = True,
    run_id: Optional[str] = None,
    index_python: bool = False,
) -> ExtractionResult:
    """enable_interfile resolves cross-file calls through the symbol index
    (operators/index_build.resolve_symbol_index): a broadcast while it fits
    the budgets, else each file's reachable defs attached via distributed
    joins. The rung taken is returned as ``index_mode``.

    index_python=True also registers Python function defs in the symbol
    index, enabling cross-file Python taint (the reference's own
    inter-file pytest expects this, but its stock scanner never wires a
    project index into the Python tier — see SURVEY.md §2B B7 — so this is
    an opt-in EXTENSION; default off = reference parity)."""
    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
    # mtime-cached: repeated extractions reuse one CompiledKB object, which
    # in turn reuses one broadcast (operators/analyze.broadcast_ckb)
    ckb = compiled_kb_cached(explicit_path=kb_path)

    files = ingest_source_files(source_files)
    # persist only what the index/detector jobs consume: the ingest
    # invariants (content_sha256, size_bytes) are not read by the default
    # extraction path, and materializing them into the cache hashed every
    # file for nothing (round 6)
    files = files.select("repo", "path", "commit", "ext", "lang", "content")
    cached = files = files.persist()  # read once, feed both jobs

    fn_index_bc = index_mode = None
    if enable_interfile:
        files, fn_index_bc, index_mode = resolve_symbol_index(spark, files, include_python=index_python)

    detected = run_detectors(files, ckb, fn_index_broadcast=fn_index_bc, emit_tier_errors=True)
    detected = detected.persist()  # every output below reads this one cache

    tier_errors = (
        detected.filter(F.col("plugin") == TIER_ERROR_PLUGIN)
        .select("repo", "path", "commit", "message")
    )
    findings = detected.filter(F.col("plugin") != TIER_ERROR_PLUGIN)
    triples = findings_to_triples(findings, run_id=run_id)
    nodes, edges = triples_to_nodes_edges(triples)
    return ExtractionResult(
        findings, triples, nodes, edges, run_id,
        tier_errors=tier_errors, index_mode=index_mode, _cached=cached, _detected=detected,
    )
