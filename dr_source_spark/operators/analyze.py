"""The analyze stage: every detector tier fused into ONE Arrow-batched pass
over the corpus (`mapInArrow`), so each file's content crosses the
JVM→Python boundary exactly once and is parsed at most once per language.

Scale design (SURVEY.md §4 R6/R9/R10):

* The KB is compiled once on the driver and shipped as a Spark broadcast;
  regex/pattern compilation is memoized per executor process.
* The stage is sized to its input (ensure_min_parallelism): one task per
  DETECTOR_TASK_BYTES of input, up to cores, and no shuffle when the input
  already arrives that wide. Widening hashes on (repo, path), so one
  mega-repo never pins a single task (callers can also bucket by
  repo-size, see operators/skew.repartition_by_size_buckets).
* Output rows carry only narrow columns — the wide ``content`` column dies
  inside this stage (column pruning: we select exactly what we need first).
* Finding dedup on the reference identity key (path, line, type, message)
  happens inside the UDF per file — the key is file-local by construction
  (reference scanner.py:176-180 global set is equivalent because the key
  embeds the path), so NO shuffle is needed for dedup at all.
"""

from __future__ import annotations

import ast
from itertools import repeat
from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kb.compile import AST_LANG_MAP
from ..schema import FINDINGS

# Java framework mapper sinks fire during EVERY category pass
# (detectors/java_taint.py) — if any of these appear, no java category can
# be screened out. Spring sinks match only as ``jdbcTemplate.<method>``,
# so the receiver name is their token.
_JAVA_FRAMEWORK_TOKENS = (
    "jdbcTemplate", "getWriter", "getOutputStream",
    "createQuery", "createNativeQuery", "createSelectionQuery", "createMutationQuery",
)


# Bytes of detector input per task (plan-size bytes: on-disk bytes for a
# parquet scan): the measured crossover below which one more Python task
# costs more than the detection it takes off the others. The floor and the
# sweep behind it are in ensure_min_parallelism's docstring.
DETECTOR_TASK_BYTES = 16 * 1024


def _plan_size_bytes(df: DataFrame) -> Optional[int]:
    """Optimized-plan size statistic, or None when unknown. Driver-side
    metadata only — one JVM number crosses to Python (never the file-path
    list: enumerating every input path is O(num_files) driver memory at
    corpus scale), and no Spark job runs."""
    try:
        session = df.sparkSession
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        # relations without real statistics (e.g. LocalRelation) report the
        # defaultSizeInBytes sentinel — that's "unknown", not "huge"
        if size >= int(session._jsparkSession.sessionState().conf().defaultSizeInBytes()):
            return None
        return size
    except Exception:
        return None


# analyzed-plan nodes that preserve their child's partitioning — the
# upstream-repartition walk below may look through these
_PARTITION_PRESERVING = {"Project", "Filter", "CollectMetrics", "SubqueryAlias"}


def _upstream_repartition_width(df: DataFrame) -> int:
    """numPartitions of a user repartition reachable from the plan root
    through partition-preserving nodes, else 0. Analysis-only (no
    optimizer run, no RDD conversion, no job): lets a producer that
    already widened its output (e.g. synth_code_corpus) skip a second
    content-carrying shuffle here."""
    try:
        node = df._jdf.queryExecution().analyzed()
        for _ in range(64):
            cls = node.getClass().getSimpleName()
            if cls in ("RepartitionByExpression", "Repartition"):
                return int(node.numPartitions())
            if cls not in _PARTITION_PRESERVING or node.children().size() != 1:
                return 0
            node = node.children().apply(0)
    except Exception:
        return 0
    return 0


def _planned_partitions(df: DataFrame) -> int:
    """The input's partition count when reading it runs no job that the
    real query would not reuse, else 0. A plan holding an exchange counts
    as 0: adaptive execution sizes a shuffle's output by running it, so
    reading the count would run the upstream stages here and again in the
    real query. A cached relation is a leaf: reading its count fills the
    cache at most once, and the real query reads that cache."""
    try:
        qe = df._jdf.queryExecution()
        nodes = [qe.executedPlan()]
        while nodes:
            node = nodes.pop()
            name = node.getClass().getSimpleName()
            if "Exchange" in name:
                return 0
            if name == "AdaptiveSparkPlanExec":
                nodes.append(node.executedPlan())
                continue
            children = node.children()
            nodes.extend(children.apply(i) for i in range(children.size()))
        return qe.toRdd().getNumPartitions()
    except Exception:
        return 0


def ensure_min_parallelism(
    df: DataFrame, key_cols=("repo", "path"), task_bytes: Optional[int] = None
) -> DataFrame:
    """Give a CPU-bound stage as many tasks as its input is worth, up to
    cores — never fewer than the input is known to have.

    One rule. The target width is ``min(cores, ceil(plan bytes /
    task_bytes))``, or cores when ``task_bytes`` is None or the plan size is
    unknown. The input is returned untouched when it already meets the
    target: through a repartition upstream (e.g. synth_code_corpus), or
    through its own partition count (a scan's splits, a cache's
    partitions). Otherwise it is ``repartition(target, *key_cols)``, hashed
    so one mega-repo never pins a single task. A wider input keeps its
    width: at 100 TB the width is real data volume. Decided from plan
    metadata: the plan-size statistic, the analyzed plan, and a partition
    count read only when that runs no job the real query would not reuse
    (an input whose plan holds a shuffle has no known count, so it is
    repartitioned).

    ``task_bytes`` is what one task must carry for its compute to outweigh
    a task's fixed cost: _INDEX_TASK_BYTES for the def-extract parse
    (index_build), DETECTOR_TASK_BYTES (16 KB) for the detector. Measured
    for the detector on a 4-core box, Spark 4.1.2:

    * the floor: an identity mapInArrow over 2000 synth files (one 91.5 KB
      parquet split) took 0.43 s as 1 task and 0.64 s hashed to 4, against
      0.09 s for the JVM-only scan. The detector over the same split took
      1.04 s as 1 task: ~7 us of detection per plan byte.
    * the sweep: run_detectors over 1-split synth-corpus inputs, left as
      one task or hashed to 2, 3 or 4, median of 7-11 interleaved runs,
      three sweeps. At 3.9-13.5 KB one task won by 0.04-0.10 s. At 16.6 KB
      the sweeps split (-0.10 to +0.05 s). From 24 KB on a wider stage won
      (24 KB: 0.62 -> 0.52-0.58 s; 44 KB: 0.84 -> 0.61 s; 59 KB:
      0.92-1.02 -> 0.61-0.70 s). Most of the cost of widening is the one
      shuffle: 2, 3 and 4 tasks lay within ~0.05 s of each other.

    So a 10-file commit (~4 KB) runs as the 1 task it arrives in, with no
    shuffle, and an input that already arrives as cores splits skips the
    content shuffle.

    The floor and the 16 KB crossover above were measured while every warm
    task also paid ~0.1-0.2 s in PySpark's per-task
    ``importlib.invalidate_caches()``, re-reading ``pyspark.zip`` and the
    spark-core jar (see deploy.drop_zip_finders, which now removes it).
    Re-measured on the same box over 2000 ingested synth files in one
    parquet split (median of 9, one probe per side): the identity floor
    0.29 -> 0.17 s as 1 task and 0.43 -> 0.22 s hashed to 4; the detector
    as 1 task 0.69 -> 0.45 s. Widening now costs less, so the crossover may
    sit lower; DETECTOR_TASK_BYTES has not been re-swept."""
    target = df.sparkSession.sparkContext.defaultParallelism
    size = _plan_size_bytes(df) if task_bytes else None
    if size is not None:
        target = min(target, max(1, -(-size // task_bytes)))
    if target <= 1 or _upstream_repartition_width(df) >= target or _planned_partitions(df) >= target:
        return df
    return df.repartition(target, *key_cols)


def _screen_specs(specs, content: str) -> list:
    """Category screening: a taint category can only produce hits if one of
    its sink identifiers occurs literally in the file text (sink matching
    compares method names lifted from the source in every tier). Pure
    substring checks — zero semantic risk, typically skips most of the
    ~10-20 category walks per file. Plain loops, not any(genexpr): this
    runs per (file x category) in the hot path and generator-frame setup
    was ~4% of single-thread detector time."""
    out = []
    for s in specs:
        for t in s.sink_tokens:
            if t in content:
                out.append(s)
                break
    return out


# the last index `_indexes_python` read and its answer: a worker screens
# every file of a partition against the same broadcast index
_PY_INDEX_SEEN: list = [None, False]


def _indexes_python(fn_index: Dict[str, Any]) -> bool:
    """Whether ``fn_index`` holds a Python def, decided once per index
    object: the scan is linear in defs, 2.2 ms at the 50 k-def budget,
    too much to repeat for every .py file."""
    if _PY_INDEX_SEEN[0] is not fn_index:
        _PY_INDEX_SEEN[:] = [fn_index, any(e.get("lang") == "python" for e in fn_index.values())]
    return _PY_INDEX_SEEN[1]


def screen_ast_specs(lang: str, specs: list, content: str, fn_index: Optional[Dict[str, Any]]) -> list:
    """The AST tier's category list for one file of ``lang``. Screening
    reads this file's text only, so it is off for a tier that may simulate
    indexed callees (whose sinks live in other files; php/ruby never
    consult the index), and for Java when a framework-mapper token appears
    (mapper sinks fire in every category)."""
    if fn_index:
        if lang in ("java", "javascript"):
            return specs
        if lang == "python" and _indexes_python(fn_index):
            return specs
    if lang == "java" and any(t in content for t in _JAVA_FRAMEWORK_TOKENS):
        return specs
    return _screen_specs(specs, content)


def analyze_ast(
    lang: str, content: str, specs: list, fn_index: Optional[Dict[str, Any]] = None, tree=None
) -> List[Dict[str, Any]]:
    """The AST tier for one file, dispatched on its AST_LANG_MAP language.
    ``tree``: the file's parsed Python AST, shared with the pattern tier."""
    from ..detectors import java_taint, js_taint, php_taint, python_taint, ruby_taint

    if lang == "python":
        return python_taint.analyze_python(content, specs, fn_index=fn_index, tree=tree)
    if lang == "java":
        return java_taint.analyze_java(content, specs, fn_index)
    if lang == "javascript":
        return js_taint.analyze_js(content, specs, fn_index)
    if lang == "php":
        return php_taint.analyze_php(content, specs)
    return ruby_taint.analyze_ruby(content, specs)


TIER_ERROR_PLUGIN = "__tier_error__"


# one broadcast per (application, CompiledKB object): repeated queries over
# the same KB must not re-ship it — each re-broadcast makes every python
# worker re-deserialize the whole rule catalog on its next task (measured
# ~0.5 s/query at 32 workers). Values hold (ckb, bc): the strong ckb ref
# keeps id() stable for the memo's lifetime.
_CKB_BC_MEMO: Dict[tuple, tuple] = {}


def broadcast_ckb(spark, ckb):
    key = (spark.sparkContext.applicationId, id(ckb))
    hit = _CKB_BC_MEMO.get(key)
    if hit is not None and hit[0] is ckb:
        return hit[1]
    bc = spark.sparkContext.broadcast(ckb)
    _CKB_BC_MEMO[key] = (ckb, bc)
    return bc


def _analyze_one(
    repo: str,
    path: str,
    commit: str,
    ext: str,
    content: str,
    ckb,
    fn_index: Optional[Dict[str, Any]],
    tiers: tuple,
    timeout_s: float = 0.0,
    emit_errors: bool = False,
) -> List[Dict[str, Any]]:
    """All findings for one file, reference plugin order: extension-specific
    plugins first (AST tier, then the pattern matcher), then the '.*'
    catch-all regex tier (scanner.py:163-164 builds extension_map[ext] +
    extension_map['.*']; tier order is unobservable through the dedup below
    because the tiers' vuln_type/message namespaces are disjoint, but it IS
    observable under a timeout). Dedup on (line, vuln_type, message)
    first-wins (scanner.py:176-180).

    Timeout/error semantics match the reference scanner loop: each tier is
    isolated (a failing plugin only loses its own findings,
    scanner.py:183-185), and when the deadline expires the findings already
    accumulated are KEPT — the alarm only skips the remaining plugins
    (scanner.py:165-188: earlier plugins' findings are already appended).
    Checks happen between tiers, not mid-tier, so granularity is one tier.

    emit_errors=True additionally appends one sentinel row (plugin =
    TIER_ERROR_PLUGIN) per swallowed tier failure or timeout, so parse
    failures are observable at corpus scale instead of silent finding loss;
    off by default for exact reference parity."""
    from ..detectors import pattern_match, regex_scan

    findings: List[Dict[str, Any]] = []
    errors: List[Dict[str, Any]] = []
    import time

    deadline = time.monotonic() + timeout_s if timeout_s > 0 else None

    def expired() -> bool:
        return deadline is not None and time.monotonic() > deadline

    # one ast.parse per .py file, shared by the taint and pattern tiers
    # (each used to parse independently); cell stays empty if the ast tier
    # is disabled or the file is unparseable — the pattern tier then parses
    # (or fails quietly) itself, exactly as before
    py_tree_cell: List[Any] = []

    def _ast_tier() -> List[Dict[str, Any]]:
        lang = AST_LANG_MAP.get(ext)
        if lang is None:
            return []
        specs = screen_ast_specs(lang, ckb.taint.get(lang, []), content, fn_index)
        tree = None
        if lang == "python":
            try:
                tree = ast.parse(content)
            except (SyntaxError, ValueError, RecursionError, MemoryError) as e:
                if emit_errors:
                    from ..detectors import ParseFailed

                    raise ParseFailed(f"python parse failed: {type(e).__name__}: {e}") from e
                return []
            py_tree_cell.append(tree)
        return analyze_ast(lang, content, specs, fn_index, tree)

    tier_fns = []
    if "ast" in tiers:
        tier_fns.append(("ast", _ast_tier))
    if "pattern" in tiers:
        tier_fns.append(
            ("pattern",
             lambda: pattern_match.analyze_pattern(
                 content, ext, ckb, tree=py_tree_cell[0] if py_tree_cell else None))
        )
    if "regex" in tiers:
        tier_fns.append(("regex", lambda: regex_scan.analyze_regex(content, ext, ckb)))

    for tier_name, fn in tier_fns:
        if expired():
            errors.append({"tier": tier_name, "err": "timeout: remaining tiers skipped"})
            break
        try:
            findings += fn()
        except Exception as e:  # per-plugin isolation (scanner.py:183-185)
            errors.append({"tier": tier_name, "err": f"{type(e).__name__}: {e}"})

    seen = set()
    out = []
    for f in findings:
        key = (f["line"], f["vuln_type"], f["message"])
        if key in seen:
            continue
        seen.add(key)
        f = dict(f)
        f["repo"], f["path"], f["commit"] = repo, path, commit
        f["cwe"] = ckb.cwe_by_type.get(f.pop("base_type", None) or "", None)
        f["base_type"] = f["vuln_type"].split(" (")[0]
        out.append(f)

    if emit_errors:
        for e in errors:
            row = dict.fromkeys(FINDINGS.fieldNames())
            row.update(
                repo=repo, path=path, commit=commit,
                vuln_type="__TIER_ERROR__",
                message=f"{e['tier']}: {e['err']}"[:500],
                severity="INFO", line=0,
                plugin=TIER_ERROR_PLUGIN, trace=[],
                base_type="__TIER_ERROR__",
            )
            out.append(row)
    return out


def run_detectors(
    files_df: DataFrame,
    ckb,
    fn_index_broadcast=None,
    tiers: tuple = ("regex", "ast", "pattern"),
    per_file_timeout_s: float = 0.0,
    emit_tier_errors: bool = False,
) -> DataFrame:
    """files_df must carry (repo, path, commit, ext, content).

    One mapInArrow pass runs every tier per file; Arrow batches skip the
    pandas object-array round-trip on both sides of the UDF (the detectors
    consume plain Python strings).

    Inter-file defs come from the input: when files_df has a
    ``called_defs`` column (join mode, index_build.resolve_symbol_index)
    each file reads its own map; otherwise every file reads
    ``fn_index_broadcast``.

    emit_tier_errors: append one sentinel row (plugin = TIER_ERROR_PLUGIN)
    per swallowed tier failure/timeout so parse failures become an
    observable metric at corpus scale (pipeline.extract splits them off)."""
    from ..deploy import drop_zip_finders, ensure_shipped

    spark = files_df.sparkSession
    ensure_shipped(spark)
    ckb_bc = broadcast_ckb(spark, ckb)

    from_column = "called_defs" in files_df.columns
    cols = ["repo", "path", "commit", "ext", "content"]
    if from_column:
        cols.append("called_defs")
    # as many tasks as the input's bytes are worth, up to cores: a commit
    # runs as the one partition it arrives in, an input already split
    # cores-wide is not shuffled (see ensure_min_parallelism)
    narrow = ensure_min_parallelism(files_df.select(*cols), task_bytes=DETECTOR_TASK_BYTES)

    def _norm_map(cell) -> Optional[Dict[str, Any]]:
        if cell is None:
            return None
        # arrow MapArray.to_pylist yields [(key, value), ...]
        return {k: dict(v) if not isinstance(v, dict) else v for k, v in cell}

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(FINDINGS)

    def process_arrow(batches):
        drop_zip_finders()
        ckb_local = ckb_bc.value
        fn_index = fn_index_broadcast.value if fn_index_broadcast is not None else None
        for batch in batches:
            cols = [batch.column(i).to_pylist() for i in range(5)]
            defs = map(_norm_map, batch.column(5).to_pylist()) if from_column else repeat(fn_index)
            rows: List[Dict[str, Any]] = []
            for repo, path, commit, ext, content, fn_defs in zip(*cols, defs):
                if content is None:
                    continue
                rows.extend(
                    _analyze_one(
                        repo, path, commit, ext or "", content, ckb_local, fn_defs,
                        tiers, per_file_timeout_s, emit_tier_errors,
                    )
                )
            arrays = [pa.array([r[f.name] for r in rows], type=f.type) for f in arrow_schema]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)
        # the first batch may have imported more from the archives
        drop_zip_finders()

    return narrow.mapInArrow(process_arrow, FINDINGS)
