"""spark-submit entry point for the KG-extraction pipeline.

    spark-submit --py-files dr_source_spark.zip jobs/extract.py \
        --input  <parquet path or iceberg table of source_files> \
        --output <output dir> \
        [--kb <overlay yaml>] [--run-id <id>] [--splits 512] [--batches 16]

Resumable: re-running with the same --run-id and --output skips completed
splits via the lineage table.

Inter-file resolution (unless --no-interfile) goes through the same
index_build.resolve_symbol_index ladder as pipeline.extract: a broadcast
index while it fits the budgets, else per-file defs attached via joins.
"""

from __future__ import annotations

import argparse
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--kb", default=None)
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--splits", type=int, default=512)
    ap.add_argument("--batches", type=int, default=16)
    ap.add_argument("--no-interfile", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from dr_source_spark.kb import compile_kb, load_kb
    from dr_source_spark.operators.index_build import resolve_symbol_index
    from dr_source_spark.operators.lineage import extract_with_lineage, read_findings
    from dr_source_spark.operators.triples import findings_to_triples, triples_to_nodes_edges
    from dr_source_spark.sources.corpus import ingest_source_files, read_source_files

    spark = SparkSession.builder.appName("dr_source_spark_extract").getOrCreate()
    ckb = compile_kb(load_kb(explicit_path=args.kb))
    files = ingest_source_files(read_source_files(spark, args.input))

    fn_index_bc = index_mode = None
    if not args.no_interfile:
        files, fn_index_bc, index_mode = resolve_symbol_index(spark, files)

    run = extract_with_lineage(
        spark, files, ckb, args.output, args.run_id,
        num_splits=args.splits, num_batches=args.batches, fn_index_broadcast=fn_index_bc,
    )
    findings = read_findings(spark, args.output, args.run_id)
    triples = findings_to_triples(findings, run_id=args.run_id)
    nodes, edges = triples_to_nodes_edges(triples)
    triples.write.mode("overwrite").parquet(f"{args.output}/triples/run_id={args.run_id}")
    nodes.write.mode("overwrite").parquet(f"{args.output}/nodes/run_id={args.run_id}")
    edges.write.mode("overwrite").parquet(f"{args.output}/edges/run_id={args.run_id}")
    print(
        f"run={run.run_id} splits_done={run.splits_done} files={run.files} "
        f"findings={run.findings} index_mode={index_mode}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
