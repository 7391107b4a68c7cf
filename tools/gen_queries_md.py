"""Regenerate docs/QUERIES.md — the per-query catalog — from the
queries() registry and each query function's leading comment block.

Usage: python tools/gen_queries_md.py   (run after adding queries)
"""

from __future__ import annotations

import inspect
import re
import sys

REPO = __file__.rsplit("/tools/", 1)[0]
sys.path.insert(0, REPO)

# short descriptions for early-round functions that predate the
# leading-comment convention
OVERRIDES = {
    "q1_pricing_summary": "TPC-H Q1 shape: pricing summary report — returnflag/linestatus aggregate with decimal-exact sums over lineitem",
    "a6_dedup_groups": "A6 finding dedup: duplicate-group counts on the (path, line, vuln_type, message) key (operators/relational.dedup_findings)",
    "a8_run_summary": "A8 per-run scan summary: finding and distinct-file counts per run_id (reference db.py:154-169)",
    "a9_scan_diff_new": "A9 scan diff, new findings: anti-join of the current run against the previous (reference db.py:191-219)",
    "a9_scan_diff_persistent": "A9 scan diff, persistent findings: semi-join of current against previous",
    "a10_latest_per_group": "A10 latest-scan-per-project window: row_number over (group, ts desc), keep rank 1 (reference db.py:253-297)",
    "b1_regex_match": "B1 regex line-scan tier over the synthesized corpus: per-file findings from the compiled rule catalog",
    "b1_regex_hits": "B1 regex tier hit counts per vuln_type — the severity-weighted histogram of the regex tier's findings",
    "join_region_revenue": "broadcast-join rollup: revenue per region through nation -> customer -> orders -> lineitem",
    "topk_orders": "deterministic top-10 orders by total price (unique-key tie-break) — the TakeOrderedAndProject plan shape",
    "dedup_exact_text": "exact dedup: sha2-256 text fingerprint groups with counts (narrow key shuffles, text dropped pre-shuffle)",
    "dedup_minhash_signatures": "MinHash signatures: 112 per-doc minima computed in ONE aggregate pass over the token hash stream",
    "dedup_lsh_candidates": "LSH banding: candidate near-dup pairs from banded signature collisions (r=8), never all-pairs",
    "dedup_jaccard_verify": "candidate verification: exact word-set Jaccard (integer arithmetic) on the LSH candidate pairs only",
    "dedup_simhash": "SimHash 32-bit fingerprints per doc: majority-bit aggregate over hashed token streams",
    "text_token_count": "whitespace token counts per document (JVM split/size — no UDF)",
    "text_quality_score": "composed quality screen: length, punctuation ratio, stopword ratio per doc in exact integer/rounded arithmetic",
    "text_lang_id": "n-gram-heuristic language ID: evidence-count vote over language-marker grams",
    "text_lang_profile": "per-language corpus profile: doc counts, token sums, mean quality fields",
    "ann_cosine_topk": "brute-force cosine top-k: exact baseline the approximate ANN paths are recall-gated against",
    "kg_graph_edges": "materialized KG edge table (src, pred, dst) from the flagship extraction — the graph every kg_* analytics query consumes",
    "kg_graph_nodes": "materialized KG node table with entity kinds (file/CWE/rule/variable) from the flagship extraction",
}

# section title per query module (dr_source_spark/queries/<module>.py), in
# catalog order; events and tpch share the relational section
FAMILIES = {
    "kg": "KG construction & graph analytics",
    "detector": "Detector & findings store (reference surface)",
    "dedup": "Deduplication",
    "text": "Text curation & analysis",
    "emb": "Embeddings & ANN",
    "media": "Multimodal",
    "stream": "Streaming",
    "events": "Relational / TPC-H-style",
    "tpch": "Relational / TPC-H-style",
}


def describe(build) -> str:
    """The build function's leading comment lines, joined: anything else
    (code, docstring, blank) ends the scan, so an unrelated inner comment
    never ships as the catalog description."""
    body = re.match(r"def \w+\(.*?\):\n(.*)", inspect.getsource(build), re.S).group(1)
    block = []
    for line in body.splitlines():
        stripped = line.strip()
        if not stripped.startswith("#"):
            break
        block.append(stripped.lstrip("#").strip())
    return re.sub(r"\s+", " ", " ".join(block))


def render() -> str:
    """The catalog text ``main()`` writes to docs/QUERIES.md."""
    import __spark_entry__ as E

    registry = E.queries()
    desc = {q: OVERRIDES.get(q) or describe(build) for q, build in registry.items()}
    missing = [q for q, d in desc.items() if not d]
    assert not missing, f"queries without a description: {missing}"

    groups: dict[str, list[str]] = {}
    for q, build in registry.items():
        family = FAMILIES[build.__module__.rsplit(".", 1)[1]]
        groups.setdefault(family, []).append(q)

    out = [
        "# Query catalog — every driver-facing oracle-checked query", "",
        f"{len(registry)} queries in `__spark_entry__.queries()`; every one has a",
        "value-hash DuckDB oracle in `oracle_sql()` (cell-exact at sf0.01,",
        "`tools/sweep.py --mode oracle`). Grouped by family; descriptions are the",
        "implementation notes from the query functions. Regenerate with",
        "`python tools/gen_queries_md.py`.", "",
    ]
    for family in dict.fromkeys(FAMILIES.values()):
        fam_qs = groups.get(family, [])
        if not fam_qs:
            continue
        out.append(f"## {family} ({len(fam_qs)})")
        out.append("")
        for q in fam_qs:
            out.append(f"* **`{q}`** — {desc[q]}")
        out.append("")
    return "\n".join(out) + "\n"


def main() -> None:
    with open(f"{REPO}/docs/QUERIES.md", "w") as f:
        f.write(render())
    print("docs/QUERIES.md regenerated")


if __name__ == "__main__":
    main()
