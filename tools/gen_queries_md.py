"""Regenerate docs/QUERIES.md — the per-query catalog — from the
queries() registry and each query function's leading comment block.

Usage: python tools/gen_queries_md.py   (run after adding queries)
"""

from __future__ import annotations

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

FAMILIES = [
    ("KG construction & graph analytics", lambda q: q.startswith("kg_")),
    ("Detector & findings store (reference surface)",
     lambda q: q.startswith(
         ("a6_", "a8_", "a9_", "a10_", "a11_", "b1_", "tier_", "scalar_")
     )),
    ("Deduplication", lambda q: q.startswith("dedup_")),
    ("Text curation & analysis", lambda q: q.startswith(("text_", "corpus_"))),
    ("Embeddings & ANN", lambda q: q.startswith(("emb_", "ann_"))),
    ("Multimodal", lambda q: q.startswith("media_")),
    ("Streaming", lambda q: q.startswith("stream_")),
    ("Relational / TPC-H-style", lambda q: True),
]


def main() -> None:
    src = open(f"{REPO}/__spark_entry__.py").read()
    import __spark_entry__ as E

    registry = E.queries()
    qs = list(registry)
    # the registry values ARE the functions — no source parsing needed
    fn_of = {k: v.__name__ for k, v in registry.items()}

    def desc(q: str) -> str:
        if q in OVERRIDES:
            return OVERRIDES[q]
        g = re.search(
            rf"\ndef {re.escape(fn_of[q])}\(.*?\):\n(.*?)(?=\ndef |\nclass |\n_[A-Z]|\Z)",
            src, re.S,
        )
        block = []
        if g:
            for line in g.group(1).splitlines():
                stripped = line.strip()
                if stripped.startswith("#"):
                    block.append(stripped.lstrip("#").strip())
                else:
                    # LEADING comments only: anything else (code, docstring,
                    # blank) ends the scan, so an unrelated inner comment
                    # can never ship as the catalog description
                    break
        return re.sub(r"\s+", " ", " ".join(block))

    missing = [q for q in qs if not desc(q)]
    assert not missing, f"queries without a description: {missing}"

    groups: dict[str, list[str]] = {}
    for q in qs:
        for fam, pred in FAMILIES:
            if pred(q):
                groups.setdefault(fam, []).append(q)
                break

    out = [
        "# Query catalog — every driver-facing oracle-checked query", "",
        f"{len(qs)} queries in `__spark_entry__.queries()`; every one has a",
        "value-hash DuckDB oracle in `oracle_sql()` (cell-exact at sf0.01,",
        "`tools/sweep.py --mode oracle`). Grouped by family; descriptions are the",
        "implementation notes from the query functions. Regenerate with",
        "`python tools/gen_queries_md.py`.", "",
    ]
    for fam, _ in FAMILIES:
        fam_qs = groups.get(fam, [])
        if not fam_qs:
            continue
        out.append(f"## {fam} ({len(fam_qs)})")
        out.append("")
        for q in fam_qs:
            out.append(f"* **`{q}`** — {desc(q)}")
        out.append("")
    open(f"{REPO}/docs/QUERIES.md", "w").write("\n".join(out) + "\n")
    print(f"docs/QUERIES.md regenerated: {len(qs)} queries")


if __name__ == "__main__":
    main()
