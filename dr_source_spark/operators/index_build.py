"""Job 1 — the project symbol index (cross-file function defs).

The reference builds a single in-memory dict during a sequential pre-pass
(core/scanner.py:131-155, core/project_index.py:14-29, last-registered
definition wins). Here it is a DataFrame job: a `mapInPandas` def-extractor
over the corpus, a max_by aggregate for the last-wins rule, and a driver-side
collect + broadcast of the (small) surviving snippet table.

`resolve_symbol_index` makes the whole inter-file decision, in one place:
broadcast the index directly while it has at most `BROADCAST_DEFS` defs;
else restrict it to names that appear as call targets (a cheap relational
pre-pass) and broadcast that while it has at most `RESTRICTED_DEFS`; else
attach each file's reachable defs as a ``called_defs`` column via
distributed joins (operators/index_join.py), which needs no driver collect
at any corpus scale. Depth-3 call simulation (reference max_depth,
taint_visitor.py:20) keeps traversal local.

Only Java and JavaScript plugins register an index in the reference
(java/plugin.py:44-71, javascript/plugin.py:37-61; the Python plugin defines
no ``index`` hook — SURVEY.md §2B B7), so parity indexing covers those two;
``include_python=True`` opts into the extension.
"""

from __future__ import annotations

import ast
from typing import Any, Dict, Iterator, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import PROJECT_INDEX
from .index_join import attach_called_defs

_INDEX_COLS = [f.name for f in PROJECT_INDEX.fields]

# content bytes per def-extract parse task — see build_symbol_index
_INDEX_TASK_BYTES = 128 * 1024

# resolve_symbol_index budgets, in defs: broadcast the whole index up to
# BROADCAST_DEFS; past it, broadcast the called-names restriction up to
# RESTRICTED_DEFS; past that, join mode
BROADCAST_DEFS = 50_000
RESTRICTED_DEFS = 500_000


def _python_defs(content: str) -> List[Dict[str, Any]]:
    try:
        tree = ast.parse(content)
    except (SyntaxError, ValueError):
        return []
    out = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            try:
                src = ast.get_source_segment(content, node) or ast.unparse(node)
            except Exception:
                continue
            out.append({"name": node.name, "def_source": src, "def_line": node.lineno, "params": [a.arg for a in node.args.args]})
    return out


def _java_defs(content: str) -> List[Dict[str, Any]]:
    from ..parsers.javaparse import extract_method_defs

    return extract_method_defs(content)


def _js_defs(content: str) -> List[Dict[str, Any]]:
    from ..parsers.jsparse import extract_function_defs

    return extract_function_defs(content)


def build_symbol_index(files_df: DataFrame, include_python: bool = False) -> DataFrame:
    """→ PROJECT_INDEX DataFrame with the last-wins rule applied."""
    from ..deploy import drop_zip_finders, ensure_shipped

    ensure_shipped(files_df.sparkSession)
    langs = ["java", "javascript"] + (["python"] if include_python else [])
    narrow = files_df.filter(F.col("lang").isin(langs)).select("repo", "path", "lang", "content")
    from .analyze import ensure_min_parallelism

    # Bytes-aware task target (round-5 A/B at sf0.1, 500 KB java/js
    # subset, best-of-3): 4 tasks 0.57 s, 16 0.61 s, 32 0.89 s — the
    # def-extract parse is ~1.5 MB/s/core, so a task under ~128 KB of
    # content costs more in python-worker round trips than its compute
    # (Catalyst's post-filter sizeInBytes tracks the java/js subset
    # closely: 623 KB estimated vs 514 KB actual).
    narrow = ensure_min_parallelism(narrow, task_bytes=_INDEX_TASK_BYTES)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            rows = []
            for repo, path, lang, content in zip(pdf["repo"], pdf["path"], pdf["lang"], pdf["content"]):
                if content is None:
                    continue
                try:
                    if lang == "python":
                        defs = _python_defs(content)
                    elif lang == "java":
                        defs = _java_defs(content)
                    else:
                        defs = _js_defs(content)
                except Exception:
                    defs = []
                for i, d in enumerate(defs):
                    rows.append(
                        {
                            "name": d["name"],
                            "repo": repo,
                            "path": path,
                            "lang": lang,
                            "def_source": d["def_source"],
                            "def_line": d.get("def_line", 1),
                            "params": d["params"],
                            "order_id": i,
                        }
                    )
            yield (
                pd.DataFrame(rows, columns=_INDEX_COLS)
                if rows
                else pd.DataFrame({c: pd.Series([], dtype="object") for c in _INDEX_COLS})
            )
        # the parsers import lazily on the first batch
        drop_zip_finders()

    raw = narrow.mapInPandas(extract, PROJECT_INDEX)
    # Last-registered wins (reference project_index.py:24-26). DELIBERATE
    # DEVIATION: the reference's registration order is os.walk visit order —
    # filesystem-dependent and irreproducible on a distributed read — so we
    # use (path, order_id) lexicographic order as the deterministic
    # equivalent and keep the lexicographically-last registration. When the
    # same symbol is defined in multiple files the simulated callee can
    # therefore differ from a given reference run; within one file the
    # order_id tiebreak matches the reference exactly.
    # max_by, not a row_number window: a window sorts every partition of
    # defs; max_by is a hash aggregate with map-side partial combine, so
    # only one surviving def per (name, map task) reaches the shuffle —
    # at corpus scale the shuffle carries ~|distinct names| rows instead
    # of ~|all defs|.
    return (
        raw.groupBy("name")
        .agg(
            F.max_by(
                F.struct(*_INDEX_COLS), F.struct(F.col("path"), F.col("order_id"))
            ).alias("_d")
        )
        .select("_d.*")
    )


def restrict_index_to_called_names(index_df: DataFrame, files_df: DataFrame) -> DataFrame:
    """Scale path for the broadcast budget: keep only defs whose name
    actually appears as a call target somewhere in the corpus.

    The candidate extraction is relational (regexp_extract_all of
    `identifier(` shapes, exploded + distinct) — a superset of real call
    sites, so restriction never drops a def the detectors could resolve.
    At 10^12 files the distinct-names side is a shuffle of short strings;
    the semi-join keeps the broadcast small."""
    called = (
        files_df.filter(F.col("lang").isin("java", "javascript", "python"))
        .select(
            F.explode(
                F.expr(r"regexp_extract_all(content, '([A-Za-z_$][A-Za-z0-9_$]*)\\s*\\(', 1)")
            ).alias("name")
        )
        .distinct()
    )
    return index_df.join(called, "name", "left_semi")


def try_broadcast_index(spark: SparkSession, index_df: DataFrame, max_entries: int):
    """Collect up to max_entries+1 surviving defs in ONE job (no separate
    count() pre-check) and broadcast as a plain dict {name → {path, lang,
    def_source, params}} for O(1) lookups inside the detector UDFs.

    Returns None when the index exceeds the budget — never a silently
    truncated broadcast (an arbitrary subset of defs would make inter-file
    findings disappear with no signal); resolve_symbol_index then takes
    the next rung."""
    pdf = index_df.limit(max_entries + 1).toPandas()  # Arrow path: ~3x collect() at 10^4 defs
    if len(pdf) > max_entries:
        return None
    table: Dict[str, Dict[str, Any]] = {}
    for name, path, repo, lang, src, line, params in zip(
        pdf["name"], pdf["path"], pdf["repo"], pdf["lang"],
        pdf["def_source"], pdf["def_line"], pdf["params"],
    ):
        table[name] = {
            "path": path,
            "repo": repo,
            "lang": lang,
            "def_source": src,
            "def_line": (1 if line is None or line != line else int(line)) or 1,
            "params": list(params) if params is not None else [],
        }
    return spark.sparkContext.broadcast(table)


def resolve_symbol_index(
    spark: SparkSession, files: DataFrame, include_python: bool = False
) -> Tuple[DataFrame, Any, str]:
    """→ (files, fn_index_broadcast, mode): the inter-file index for
    run_detectors, through the first rung that fits.

    "broadcast": ≤ BROADCAST_DEFS defs, one collect (the common case costs
    one job, no count() pre-pass). "restricted": defs whose name appears as
    a call target (re-scans content — worth it only past the budget),
    ≤ RESTRICTED_DEFS. "join": neither fits; ``files`` comes back with a
    per-row ``called_defs`` column and the broadcast is None. The index is
    never silently truncated."""
    index_df = build_symbol_index(files, include_python=include_python).persist()
    bc = try_broadcast_index(spark, index_df, BROADCAST_DEFS)
    if bc is not None:
        return files, bc, "broadcast"
    bc = try_broadcast_index(spark, restrict_index_to_called_names(index_df, files), RESTRICTED_DEFS)
    if bc is not None:
        return files, bc, "restricted"
    return attach_called_defs(files, index_df), None, "join"
